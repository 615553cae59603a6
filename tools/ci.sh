#!/usr/bin/env bash
# CI recipe — the engine's analog of the reference's lint-on-every-push
# workflow (shellcheck.yml:17): compile, full test suite, then the
# sf0.001 end-to-end Verify smoke (every declared query executes and
# writes its result parquet; the DuckDB oracle compare is the driver's
# sf0.01 job, but tools/check_oracle.py runs here too when duckdb is
# available), and with it the benchmark's cdc smoke (extract, publish,
# round trip, diff, merge and the streaming pipeline, each checked in
# DuckDB) and curation smoke (the dedup, similarity and text queries
# against their DuckDB oracles).
#
# Usage: tools/ci.sh [testdata-dir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.001}"
OUT_DIR="$(mktemp -d /tmp/graft_ci_verify.XXXXXX)"
trap 'rm -rf "$OUT_DIR"' EXIT

echo "== ci: compile =="
sbt -batch compile

# The publish-once commit protocol lives behind one module
# (engine/PublishOnce.scala): its commit primitive and its staging
# name may appear in exactly one file under src/main, comments included.
for literal in 'Rename.NONE' '__staging__'; do
  n_files=$(grep -rlF -- "$literal" src/main | wc -l || true)
  [ "$n_files" -eq 1 ] || {
    echo "ci: '$literal' occurs in $n_files files under src/main; expected exactly 1 (PublishOnce)" >&2
    grep -rlF -- "$literal" src/main >&2
    exit 1
  }
done

# Generation listing lives behind one module (engine/Generations.scala):
# the modules that read generations may not list a root themselves.
for f in engine/Snapshot.scala engine/JdbcExtract.scala streaming/ComposedPipeline.scala queries/IncrementalDedup.scala; do
  if grep -qF 'listStatus' "src/main/scala/graft/$f"; then
    echo "ci: listStatus in src/main/scala/graft/$f; list generations through Generations" >&2
    exit 1
  fi
done

# A gram-index generation is one publish-once rename, so no second
# commit protocol (per-label markers) may come back.
if grep -rqF '_commits' src/main; then
  echo "ci: '_commits' under src/main; an index generation commits by its rename alone" >&2
  grep -rlF '_commits' src/main >&2
  exit 1
fi

# Create-if-absent has one implementation (Snapshot.createExclusive):
# Hadoop's create(p, false) is check-then-act on file: paths.
stray=$(grep -rlE 'create\([^()]*, *false\)' src/main | grep -vx 'src/main/scala/graft/engine/Snapshot.scala' || true)
if [ -n "$stray" ]; then
  echo "ci: create(..., false) outside engine/Snapshot.scala; use Snapshot.createExclusive" >&2
  echo "$stray" >&2
  exit 1
fi

# The set of mains is closed: every entry point under src/main is run
# by a spec or named in a reproducible SCALE.md record. A new harness
# main goes under src/test, next to the spec that forks it.
allowed_mains=' Bench BenchOne Diag GenData RacePublish Run TrainBpe Verify '
mains=$(find src/main -name '*.scala' -exec awk '
  match($0, /(^|[^A-Za-z0-9_])object[[:space:]]+[A-Za-z0-9_]+/) {
    o = substr($0, RSTART, RLENGTH); sub(/.*object[[:space:]]+/, "", o) }
  /(^|[^A-Za-z0-9_])def[[:space:]]+main[[:space:]]*\(/ ||
  /extends[[:space:]]+App([^A-Za-z0-9_]|$)/ { print o }' {} + | sort -u)
for m in $mains; do
  case "$allowed_mains" in
    *" $m "*) ;;
    *) echo "ci: object $m under src/main declares a main outside the fixed list:$allowed_mains" >&2
       exit 1 ;;
  esac
done

echo "== ci: test =="
sbt -batch test

echo "== ci: verify smoke @ $SF_DIR =="
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
# every declared query must have produced a result
n_out=$(find "$OUT_DIR" -maxdepth 1 -name 'q_*.parquet' | wc -l)
echo "== ci: $n_out query results written =="
[ "$n_out" -gt 0 ] || { echo "ci: Verify wrote no results" >&2; exit 1; }

# oracle compare when the driver-side toolchain is present (optional
# in minimal CI images; the correctness gate proper runs it at sf0.01)
if python3 -c 'import duckdb, pyarrow, pandas' 2>/dev/null; then
  echo "== ci: oracle compare =="
  python3 tools/check_oracle.py "$SF_DIR" "$OUT_DIR"
  # one workload prints its verdict as JSON and exits 0 either way; the
  # curation smoke runs the DuckDB oracles of q_dedup_embedding and
  # q_sim_lsh_topk, which are skipped on the benchmark's own fixture
  for workload in cdc curation; do
    echo "== ci: $workload smoke @ $SF_DIR =="
    smoke=$(python3 perfbench/run.py --workload "$workload" --seconds 0 --data "$SF_DIR" | tail -n 1)
    echo "$smoke"
    python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(0 if r["correct"] and r["failed"] == 0 else 1)' "$smoke" \
      || { echo "ci: $workload smoke failed its checks" >&2; exit 1; }
  done
else
  echo "== ci: duckdb/pyarrow/pandas unavailable — oracle compare and cdc smoke skipped =="
fi

echo "== ci: PASS =="
