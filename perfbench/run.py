#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload analytics|curation|cdc|all \
        --seed N --seconds S --trace 0|1 [--data DIR]

Run from the repository root. The first call builds the engine and the
driver (perfbench/build.sbt) and generates the sf0.1 fixture with
graft.GenData, all under .bench_build/; later calls reuse them. Each run is then one
fresh `java` process (perfbench.Main, local[nproc]) followed by the
correctness checks in DuckDB, outside the timed pass. The last line of
stdout is one JSON object: correct, attempted, failed and the metrics
(end-to-end ones with --trace 0, per-layer ones with --trace 1).
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True  # importing tools/check_oracle leaves no .pyc

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# Every workload reads one GenData fixture at scale 0.1, generated in the
# checkout (a run reads nothing outside it).
SCALE = 0.1
DATA = BUILD / "data" / "sf0.1"
WORKLOADS = ("analytics", "curation", "cdc")
# Expected rows per table at GenData scale 1.0 (GenData.main); lineitem
# has 1..7 lines per order and is checked against that range.
ROWS_AT_SF1 = {"customer": 150000, "supplier": 10000, "part": 200000,
               "orders": 1500000, "events": 1000000, "documents": 50000,
               "embeddings": 20000}
JVM_TIMEOUT_S = 170
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "job_p50_s": "s",
                    "cpu_s": "s", "peak_rss_mb": "MB"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def run_logged(cmd, logfile, env=None, timeout=None, cwd=ROOT):
    with open(logfile, "w") as out:
        p = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                           env=env, timeout=timeout)
    if p.returncode != 0:
        tail = Path(logfile).read_text().splitlines()[-30:]
        fail(f"{' '.join(cmd[:3])} failed:\n" + "\n".join(tail))


def java_cmd(main, args, tmp):
    cp = (BUILD / "target" / "classpath.txt").read_text().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, "-Xmx3g", "-Xms3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
             "-Dspark.ui.enabled=false", "-cp", cp, main, *args])


def java_env():
    env = dict(os.environ)
    # the session recipe reads these; a run always uses its defaults
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_MIN_PARTITION_SIZE"):
        env.pop(k, None)
    return env


def prepare():
    """Build the classes and generate the fixture once per checkout."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT}/src/main/scala", 2)
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "prepare.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        (BUILD / "logs").mkdir(exist_ok=True)
        src = tree_hash([ROOT / "src" / "main", HERE / "driver",
                         HERE / "build.sbt", HERE / "project" / "build.properties"])
        stamp = BUILD / "build.stamp"
        if not stamp.exists() or stamp.read_text() != src:
            log("building engine + driver with sbt")
            env = dict(os.environ, COURSIER_MODE="offline")
            env["SBT_OPTS"] = " ".join([
                os.environ.get("SBT_OPTS", "-Dsbt.offline=true"),
                f"-Dsbt.global.base={BUILD}/sbt-global",
                f"-Djna.tmpdir={BUILD}/tmp", "-Dsbt.server.autostart=false"])
            (BUILD / "tmp").mkdir(exist_ok=True)
            run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], BUILD / "logs" / "build.log", env=env,
                       timeout=600, cwd=HERE)
            stamp.write_text(src)
        want = tree_hash([ROOT / "src" / "main" / "scala" / "graft" / "GenData.scala"])
        dstamp = BUILD / "data" / "sf0.1.stamp"
        if not dstamp.exists() or dstamp.read_text() != want:
            log("generating the sf0.1 fixture with GenData")
            shutil.rmtree(DATA, ignore_errors=True)
            tmp = BUILD / "tmp" / "gendata"
            tmp.mkdir(parents=True, exist_ok=True)
            env = java_env()
            env["SPARK_GRAFT_CPUS"] = str(cpus())
            run_logged(java_cmd("graft.GenData", [str(DATA), str(SCALE)], tmp),
                       BUILD / "logs" / "gendata.log", env=env, timeout=600)
            shutil.rmtree(tmp, ignore_errors=True)
            verify_fixture(DATA, SCALE)
            dstamp.write_text(want)


def verify_fixture(d, scale):
    import duckdb
    con = duckdb.connect()
    n = {t: con.sql(f"SELECT count(*) FROM '{d}/{t}.parquet/*.parquet'").fetchone()[0]
         for t in ["region", "nation", *ROWS_AT_SF1, "lineitem"]}
    want = {t: max(1, int(v * scale)) for t, v in ROWS_AT_SF1.items()}
    want.update(region=5, nation=25)
    bad = {t: (n[t], w) for t, w in want.items() if n[t] != w}
    if not n["orders"] <= n["lineitem"] <= 7 * n["orders"]:
        bad["lineitem"] = (n["lineitem"], "1..7 per order")
    if bad:
        fail(f"fixture {d} has wrong row counts (got, want): {bad}")
    log(f"fixture {d}: " + ", ".join(f"{t}={v}" for t, v in n.items()))


def cpus():
    return len(os.sched_getaffinity(0))


def table_path(data, t):
    p = Path(data) / f"{t}.parquet"
    return f"{p}/*.parquet" if p.is_dir() else str(p)


def duck(data):
    """DuckDB over the fixture, with views named after its tables, as
    tools/check_oracle.py makes them: GenData stores events.ts as epoch
    nanoseconds, surfaced as the microsecond timestamp the oracle expects."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET enable_progress_bar=false")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = table_path(data, t)
        if t == "events" and p.endswith("*.parquet"):
            con.sql(f"CREATE VIEW {t} AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) FROM '{p}'")
        else:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


# ---------------------------------------------------------------- cdc inputs

def cdc_inputs(data, out, seed):
    """The seeded changed generation of `orders` and its changelog: 1% of
    the keys deleted, 1% updated, 1% new keys inserted; and the replayed
    user subset with a batch size that gives the pipeline 2 micro-batches."""
    con = duck(data)
    keys = [k for (k,) in con.sql("SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
    rng = random.Random(seed)
    k = max(1, len(keys) // 100)
    picked = rng.sample(keys, 2 * k)
    src = rng.sample(keys, k)
    top = keys[-1]
    con.execute("CREATE TABLE del AS SELECT unnest($1::BIGINT[]) AS k", [picked[:k]])
    con.execute("CREATE TABLE upd AS SELECT unnest($1::BIGINT[]) AS k", [picked[k:]])
    con.execute("CREATE TABLE ins AS SELECT unnest($1::BIGINT[]) AS src, "
                "unnest($2::BIGINT[]) AS k", [src, list(range(top + 1, top + 1 + k))])
    # TIMESTAMPTZ so the parquet column is UTC-adjusted, the type Spark
    # reads as TIMESTAMP like the fixture's own
    con.sql("""CREATE TABLE changes AS
        SELECT o.* REPLACE (o_orderdate::TIMESTAMPTZ AS o_orderdate), 'D' AS op
          FROM orders o JOIN del ON o_orderkey = del.k
        UNION ALL
        SELECT o.* REPLACE (o_orderdate::TIMESTAMPTZ AS o_orderdate,
                            round(o_totalprice + 7.25, 2) AS o_totalprice), 'U'
          FROM orders o JOIN upd ON o_orderkey = upd.k
        UNION ALL
        SELECT o.* REPLACE (o_orderdate::TIMESTAMPTZ AS o_orderdate,
                            ins.k AS o_orderkey), 'U'
          FROM orders o JOIN ins ON o_orderkey = ins.src""")
    con.sql(f"""COPY (SELECT * FROM changes) TO '{out}/changes.parquet'
        (FORMAT PARQUET)""")
    con.sql(f"""COPY (
        SELECT * REPLACE (o_orderdate::TIMESTAMPTZ AS o_orderdate) FROM orders
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        UNION ALL SELECT * EXCLUDE (op) FROM changes WHERE op = 'U')
        TO '{out}/current.parquet' (FORMAT PARQUET)""")
    users_mod = 16
    users_rem = seed % users_mod
    n = con.sql(f"SELECT count(*) FROM events WHERE user_id % {users_mod} = "
                f"{users_rem}").fetchone()[0]
    return {"users-mod": users_mod, "users-rem": users_rem,
            "batch-records": max(1, math.ceil(n / 2))}


# -------------------------------------------------------------------- checks

def check_oracle(con, outdir, oracle):
    """Compare each query's parquet with DuckDB running the query's oracle
    SQL, by the hash-exact rules of tools/check_oracle.py: columns sorted
    by name, rows sorted by every column, every cell equal under its
    `norm` (full-precision repr, so a float must match bit for bit)."""
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import norm
    errs = []
    for q, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{outdir}/{q}", engine="pyarrow")
            want = con.sql(sql).fetchdf()
            cols = sorted(got.columns)
            if cols != sorted(want.columns) or len(got) != len(want):
                errs.append(f"{q}: columns/rows {cols}/{len(got)} != "
                            f"{sorted(want.columns)}/{len(want)}")
                continue
            got, want = (x[cols].sort_values(by=cols, kind="mergesort")
                         .reset_index(drop=True) for x in (got, want))
        except Exception as e:
            errs.append(f"{q}: {type(e).__name__}: {e}")
            continue
        for c in cols:
            a = [norm(v) for v in got[c]]
            b = [norm(v) for v in want[c]]
            if a != b:
                i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
                errs.append(f"{q}: row {i} col {c}: spark={a[i]} duckdb={b[i]}")
                break
    return errs


def shingles(text):
    toks = [t for t in text.lower().split(" ") if t]
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def check_dedup_near(con, outdir):
    """q_dedup_near reports MinHash-LSH pairs with estimated Jaccard >= 0.5.
    Every reported pair's exact 3-word-shingle Jaccard must clear 0.5, and
    every pair of documents with identical non-empty shingle sets (exact
    Jaccard 1, hence identical signatures) must be reported."""
    import pandas as pd
    got = pd.read_parquet(f"{outdir}/q_dedup_near", engine="pyarrow")
    docs = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    sh = {d: shingles(t) for d, t in docs.items()}
    errs = []
    pairs = set()
    for a, b, est in got[["a_id", "b_id", "est_jaccard"]].itertuples(index=False):
        pairs.add((a, b))
        sa, sb = sh[a], sh[b]
        j = len(sa & sb) / len(sa | sb)
        if not (a < b and 0.5 <= est <= 1.0 and j >= 0.5):
            errs.append(f"q_dedup_near: pair ({a},{b}) est={est} exact={j:.3f}")
    groups = {}
    for d, s in sh.items():
        if s:
            groups.setdefault(frozenset(s), []).append(d)
    for g in groups.values():
        g.sort()
        for i, a in enumerate(g):
            for b in g[i + 1:]:
                if (a, b) not in pairs:
                    errs.append(f"q_dedup_near: identical pair ({a},{b}) missing")
    return errs[:10]


def check_bpe(con, outdir):
    """q_text_bpe_tokens: one row per document; `pieces` equals DuckDB's
    count of the same pre-token regex; pieces <= BPE tokens <= non-space
    characters (every merge joins pieces, never splits below a char)."""
    import pandas as pd
    got = pd.read_parquet(f"{outdir}/q_text_bpe_tokens", engine="pyarrow")
    want = con.sql("""SELECT doc_id,
        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS pieces,
        length(replace(text, ' ', '')) AS chars FROM documents""").fetchdf()
    m = want.merge(got, on="doc_id", how="outer", suffixes=("", "_got"))
    errs = []
    if len(got) != len(want) or m["pieces_got"].isna().any():
        errs.append(f"q_text_bpe_tokens: {len(got)} rows, {len(want)} documents")
    bad = m[(m["pieces"] != m["pieces_got"]) | (m["bpe_real_tokens"] < m["pieces"])
            | (m["bpe_real_tokens"] > m["chars"])]
    if len(bad):
        errs.append(f"q_text_bpe_tokens: {len(bad)} rows break the bounds, "
                    f"first {bad.iloc[0].to_dict()}")
    return errs


def check_ranked_cosine(con, outdir, q, probe, cand, where):
    """The embedding LSH queries report, per probe vector, up to 5
    candidates ranked by cosine. Each reported cosine must equal the exact
    cosine recomputed in numpy, clear the query's 0.35 floor where it has
    one, and ranks must run 1..n in (cosine desc, candidate id) order."""
    import numpy as np
    import pandas as pd
    got = pd.read_parquet(f"{outdir}/{q}", engine="pyarrow")
    emb = con.sql("SELECT vec_id, label, embedding FROM embeddings").fetchdf()
    vec = dict(zip(emb["vec_id"], emb["embedding"].map(lambda v: np.asarray(v, dtype=np.float64))))
    label = dict(zip(emb["vec_id"], emb["label"]))
    errs = []
    if got.empty:
        errs.append(f"{q}: no rows")
    for p_id, rows in got.groupby(probe):
        rows = rows.sort_values("k")
        if list(rows["k"]) != list(range(1, len(rows) + 1)) or len(rows) > 5:
            errs.append(f"{q}: probe {p_id} ranks {list(rows['k'])}")
        order = sorted(zip(-rows["cos"], rows[cand]))
        if order != list(zip(-rows["cos"], rows[cand])):
            errs.append(f"{q}: probe {p_id} not ranked by cosine")
        for c_id, cos in zip(rows[cand], rows["cos"]):
            a, b = vec[p_id], vec[c_id]
            exact = float(a @ b / np.sqrt((a @ a) * (b @ b)))
            if c_id == p_id or abs(exact - cos) > 1e-9 or not where(p_id, c_id, cos, label):
                errs.append(f"{q}: ({p_id},{c_id}) cos={cos} exact={exact}")
    return errs[:10]


def check_dedup_embedding(con, outdir):
    return check_ranked_cosine(
        con, outdir, "q_dedup_embedding", "b_id", "a_id",
        lambda p, c, cos, label: cos >= 0.35 and label[p] == label[c])


def check_lsh_topk(con, outdir):
    return check_ranked_cosine(
        con, outdir, "q_sim_lsh_topk", "probe_id", "cand_id",
        lambda p, c, cos, label: p % 100 == 0)


# Queries whose oracle SQL recomputes 16 hyperplane projections per vector
# in list lambdas: DuckDB needs 22 s and 87 s for them on 4,000 embeddings,
# longer than a whole run, so runs on the benchmark's fixture check their
# properties, and runs on another fixture (--data) also run their oracle.
SLOW_ORACLE = {"q_dedup_embedding", "q_sim_lsh_topk"}
PROPERTY_CHECKS = {"q_dedup_near": check_dedup_near, "q_text_bpe_tokens": check_bpe,
                   "q_dedup_embedding": check_dedup_embedding,
                   "q_sim_lsh_topk": check_lsh_topk}


def digest(con, rel):
    """Row count and an order-independent checksum over every column."""
    cols = [c for (c, *_) in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
    expr = ", ".join(f'"{c}"::VARCHAR' for c in sorted(cols))
    return con.sql(f"SELECT count(*), sum(hash({expr}))::VARCHAR FROM {rel}").fetchone()


def check_cdc(con, wdir, inputs, facts, users_mod, users_rem):
    errs = []

    def same(name, a, b):
        da, db = digest(con, a), digest(con, b)
        if da != db:
            errs.append(f"cdc {name}: {da} != {db}")

    pq = lambda p: f"read_parquet('{p}/*.parquet')"
    gen_base = f"(SELECT * REPLACE (o_orderdate::TIMESTAMPTZ AS o_orderdate) FROM {pq(wdir + '/gen_base')})"
    same("extract orders", pq(f"{wdir}/extract/orders"), "orders")
    same("extract lineitem", pq(f"{wdir}/extract/lineitem"), "lineitem")
    same("published base", pq(f"{wdir}/gen_base"), "orders")
    same("round-tripped lineitem", pq(f"{wdir}/lineitem_rt"), "lineitem")
    current = f"(SELECT * REPLACE (o_orderdate::TIMESTAMPTZ AS o_orderdate) FROM '{inputs}/current.parquet')"
    merged = f"(SELECT * REPLACE (o_orderdate::TIMESTAMPTZ AS o_orderdate) FROM {pq(wdir + '/gen_merged')})"
    same("merged generation", merged, current)
    ins = con.sql(f"SELECT count(*) FROM (SELECT * FROM {current} EXCEPT ALL "
                  f"SELECT * FROM {gen_base})").fetchone()[0]
    dele = con.sql(f"SELECT count(*) FROM (SELECT * FROM {gen_base} EXCEPT ALL "
                   f"SELECT * FROM {current})").fetchone()[0]
    n_cur = con.sql(f"SELECT count(*) FROM {current}").fetchone()[0]
    want = {"inserted": ins, "deleted": dele, "unchanged": n_cur - ins}
    got = {k: facts.get(k) for k in want}
    if got != want:
        errs.append(f"cdc incremental: {got} != DuckDB EXCEPT ALL {want}")
    for a, b in [(merged, current), (current, merged)]:
        n = con.sql(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
                    f"SELECT * FROM {b})").fetchone()[0]
        if n:
            errs.append(f"cdc merged generation: {n} rows differ from the changed generation")
    if facts.get("processed_lag") != 0:
        errs.append(f"cdc pipeline: feed lag {facts.get('processed_lag')}")
    errs += check_sessions(con, facts, users_mod, users_rem)
    return errs


def check_sessions(con, facts, users_mod, users_rem, gap=1800):
    """The final generation holds the pipeline's closed sessions. Every one
    must equal a session of a DuckDB gap-sessionization of the replayed
    events (same user, ordinal, event count and duration), none may appear
    twice, every session followed by a later one of its user must be
    there, and so must each user's last session once the final watermark
    (latest event - 10 min) is an hour past its close time."""
    errs = []
    sec = "epoch_us(CAST(ts AS TIMESTAMP)) // 1000000"
    ev = f"(SELECT user_id, event_id, {sec} AS sec, ts FROM events WHERE user_id % {users_mod} = {users_rem})"
    con.sql(f"""CREATE OR REPLACE TEMP TABLE want_sessions AS
      WITH b AS (SELECT *, CASE WHEN sec - lag(sec) OVER w > {gap} THEN 1 ELSE 0 END AS brk
                 FROM {ev} WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           s AS (SELECT *, 1 + sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq FROM b)
      SELECT user_id, session_seq, count(*) AS n_events, max(sec) - min(sec) AS duration_sec,
             count(*) = 1 AS is_bounce, max(sec) AS last_sec,
             session_seq = max(session_seq) OVER (PARTITION BY user_id) AS is_last
      FROM s GROUP BY user_id, session_seq""")
    final_wm = con.sql(f"SELECT max(sec) - 600 FROM {ev}").fetchone()[0]
    got = f"read_parquet('{facts['snap']}/*.parquet')"
    dup = con.sql(f"SELECT count(*) FROM (SELECT user_id, session_seq FROM {got} "
                  "GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    if dup:
        errs.append(f"cdc sessions: {dup} duplicate (user_id, session_seq)")
    extra = con.sql(f"""SELECT count(*) FROM (
        SELECT user_id, session_seq, n_events, duration_sec, is_bounce FROM {got}
        EXCEPT ALL SELECT user_id, session_seq, n_events, duration_sec, is_bounce
        FROM want_sessions)""").fetchone()[0]
    if extra:
        errs.append(f"cdc sessions: {extra} sessions match no DuckDB session")
    missing = con.sql(f"""SELECT count(*) FROM want_sessions w WHERE
        (NOT is_last OR last_sec + {gap} + 1 + 3600 < {final_wm})
        AND NOT EXISTS (SELECT 1 FROM {got} g WHERE g.user_id = w.user_id
                        AND g.session_seq = w.session_seq)""").fetchone()[0]
    if missing:
        errs.append(f"cdc sessions: {missing} closed sessions missing")
    return errs


# ----------------------------------------------------------------------- run

def launch(workload, seed, seconds, trace, data, work, extra):
    result = work / "result.json"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus()), "--data", str(data),
            "--work", str(work / "out"), "--result", str(result)]
    for k, v in extra.items():
        args += [f"--{k}", str(v)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    logfile = open(work / "jvm.log", "w")
    t0 = time.time()
    p = subprocess.Popen(java_cmd("perfbench.Main", args, work / "tmp"), cwd=ROOT,
                         stdout=logfile, stderr=subprocess.STDOUT, env=java_env())
    timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
    timer.start()
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
        logfile.close()
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not result.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        fail(f"{workload} JVM exited {code}:\n" + "\n".join(tail))
    res = json.loads(result.read_text())
    res["setup_s"] = res["ready_ms"] / 1000.0 - t0
    res["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # Linux: KiB
    return res


def run(workload, seed, seconds, trace, data=None):
    t_start = time.time()
    own_fixture = data is None
    data = Path(data) if data else DATA
    work = BUILD / "runs" / f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "inputs").mkdir(parents=True)
    try:
        extra = cdc_inputs(data, work / "inputs", seed) if workload == "cdc" else {}
        if workload == "cdc":
            extra["inputs"] = work / "inputs"
        t_launch = time.time()
        res = launch(workload, seed, seconds, trace, data, work, extra)
        t_checks = time.time()
        errs = [f"warm round: {n} failed" for n in res["warm_failed"]]
        out = work / "out" / "r0"
        con = duck(data)
        if workload == "cdc":
            errs += check_cdc(con, str(out), work / "inputs", res["facts"],
                              extra["users-mod"], extra["users-rem"])
        else:
            oracle = {q: sql for q, sql in res["facts"]["oracle"].items()
                      if not own_fixture or q not in SLOW_ORACLE}
            errs += check_oracle(con, str(out), oracle)
            for q in res["facts"]["queries"]:
                if q in PROPERTY_CHECKS:
                    errs += PROPERTY_CHECKS[q](con, str(out))
        for e in errs:
            log(f"CHECK FAILED {e}")
        log(f"{workload}: inputs {t_launch - t_start:.1f} s, jvm {t_checks - t_launch:.1f} s, "
            f"checks {time.time() - t_checks:.1f} s")
        if trace:
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in res["per_layer"].items()}
            spans = BUILD / "traces" / f"{workload}-seed{seed}.spans.jsonl"
            spans.parent.mkdir(exist_ok=True)
            shutil.copy(res["spans_file"], spans)
            log(f"spans: {spans}; self ms per round: " + json.dumps(
                {k: round(v, 1) for k, v in sorted(res["self_ms"].items())}))
        else:
            metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        log(f"{workload}: {res['rounds']} timed rounds, round wall s "
            f"{[round(x, 3) for x in res['round_wall_s']]}")
        return {"correct": not errs, "attempted": res["attempted"],
                "failed": res["failed"], "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    for part, unit in (("_ms", "ms"), ("_mb", "MB"), ("ns_per_row", "ns"),
                       ("_pct", "%")):
        if part in name:
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", metavar="DIR",
                    help="another fixture directory, e.g. a tiny one for a smoke run")
    a = ap.parse_args()
    prepare()
    if a.workload != "all":
        print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace, a.data)))
        return
    results = [run(w, a.seed, a.seconds, a.trace, a.data) for w in WORKLOADS]
    for w, r in zip(WORKLOADS, results):
        print(json.dumps({"workload": w, **r}))
    ok = all(r["correct"] and r["failed"] == 0 for r in results)
    print(json.dumps({"all": "ok" if ok else "failed"}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
