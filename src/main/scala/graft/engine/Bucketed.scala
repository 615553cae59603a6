package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Publish-once BUCKETED table layout — the co-located-join data
  * organization for joins that repeat against the same key at 100 TB.
  *
  * A fact⋈fact equi join (q_join_inner_equi's shape) shuffles BOTH
  * inputs on every run; for a join that production runs daily against
  * the same key, that is the single largest recurring exchange in the
  * pipeline. Bucketing pays the shuffle ONCE at layout time: each side
  * is written hash-clustered AND per-bucket sorted on the join key
  * into the same bucket count, and every subsequent join plans as a
  * `SortMergeJoin` over the EXISTING bucket layout — zero shuffle
  * exchanges and zero per-task sorts under the join (each bucket is
  * one pre-sorted file, so the scan's output ordering satisfies the
  * SMJ directly; BucketedSpec pins the plan), and equality filters on
  * the bucket key prune to 1/n of the files at scan time
  * (`SelectedBucketsCount`, also pinned). Aggregations keyed on the
  * bucket column are exchange-free too — the scan's hash-clustered
  * output already satisfies the aggregate's distribution (pinned).
  * Measured (n=32, steady-state): sf5 1.8 s vs 3.4 s raw-shuffle
  * (1.9x, build ~38 s); sf20 3.6 s vs 8.0 s (2.2x, build ~337 s
  * disk-bound) — the ratio grows with data because the avoided
  * exchange is O(|fact|) (SCALE.md r11). This is the same
  * pay-once-read-many discipline as the engine's persisted indexes
  * (AnnOps C110, IncrementalDedup): the layout is an artifact keyed by
  * (source, key, n), not per-query work.
  *
  * Mechanics: first use writes the copy via `bucketBy(n, key)` +
  * `saveAsTable` (files land under `spark.graft.bucket.dir`, bucket id
  * encoded in each file name); a FRESH session that finds the
  * published files re-registers them with `CREATE TABLE … CLUSTERED
  * BY … LOCATION` — no rewrite, the catalog entry just re-attaches
  * the bucket spec the file names already carry. The input is
  * re-shuffled to `n` partitions on the bucket key before the write so
  * bucket files stay one-per-task (no small-file explosion at high
  * writer parallelism). The identity is GENERATION-VERSIONED: the
  * source's file-level fingerprint ([[SourceId]]) is part of the key,
  * so a changed source builds a fresh layout instead of serving the
  * stale copy, and [[expire]] reclaims abandoned ones.
  *
  * `n` is the session's shuffle-partition count: the bucket count is
  * both the layout's write parallelism and every later join's task
  * count, and a cluster already sizes `spark.sql.shuffle.partitions`
  * so each task's slice stays executor-memory-sized.
  */
object Bucketed {
  /** Root directory for published bucketed layouts. */
  val DirConf = "spark.graft.bucket.dir"

  /** The bucketed copy of `df`, clustered on `key` — published on
    * first use, registered from the published files on a fresh
    * catalog, returned from the catalog otherwise. The identifier is
    * keyed by (sfDir, table, key, n, schema, source fingerprint), so
    * different scale factors and layouts coexist, and neither a schema
    * change nor an in-place source change can ever reuse a stale copy.
    *
    * The bucketBy write is committed by [[PublishOnce]] under a
    * throwaway catalog ident; concurrent first-publishers that lose
    * the commit read the winner's identical copy. Catalog
    * registration is a single
    * `CREATE TABLE … CLUSTERED BY … SORTED BY … LOCATION` over the
    * committed path — metadata only, the same statement whether this
    * session published or an earlier one did. */
  def table(
      s: SparkSession, sfDir: String, name: String,
      df: => DataFrame, key: String): DataFrame = {
    // The bucket count is the session's shuffle parallelism: it IS the
    // layout's write parallelism and every later join's task count, so
    // a small fixed count strangles both at scale. (Locally the sf20
    // build is disk-write-bound — 360 s at n=8 vs 337 s at n=32 through
    // one virtual disk — but on a cluster write parallelism is
    // spindles/objects, and the JOIN side's task count always tracks n.)
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    // Honor the written per-bucket sortBy order at scan time, so a
    // sort-merge join over two layouts needs neither exchange NOR
    // sort. DELIBERATELY session-global (documented in SCALE.md):
    // the flag must be live when the CONSUMING query plans its join —
    // a set-and-restore scoped to this attach would silently re-add
    // the per-task sorts the layout exists to remove. Safe for every
    // table in the session: the planner trusts a written order only
    // after checking each bucket is a single file — true for our
    // writer, proven per-scan for anything else.
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val root = s.conf.getOption(DirConf).getOrElse(
      sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_buckets")
    // The SOURCE's file-level fingerprint participates in the identity
    // (r12 verdict wrong #2): without it an in-place source change kept
    // the key and every later session silently served the stale copy
    // forever. Changed source → new ident → fresh layout; the old dir
    // is retention's job ([[expire]]), not the read path's.
    val ident = s"graft_bkt_${name}_" + SourceId.digest(
      s"$sfDir|$name|$key|$n|${df.schema.toDDL}|${SourceId.fingerprint(s, df)}")
    val path = PublishOnce.qualify(s, s"$root/$ident")._2.toString
    if (!s.catalog.tableExists(ident)) {
      // pay the layout shuffle once; losing the publish race is fine —
      // the winner's copy is identical
      commitStaged(s, path, df, key, n, verify = false)
      // attach the bucket spec to the committed files (metadata only)
      s.sql(s"""CREATE TABLE $ident (${df.schema.toDDL})
        USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS
        LOCATION '$path'""")
    }
    // record the use: retention distinguishes a coexisting ACTIVE
    // identity (marker keeps advancing) from an abandoned one
    LayoutUse.touch(s, path)
    s.table(ident)
  }

  /** Publish `df` at `dest` as an IMMUTABLE BUCKETED GENERATION — the
    * serving-shape twin of [[graft.engine.Snapshot.publishAtomic]]:
    * same [[PublishOnce]] commit, verification and immutability
    * contract, but the files are written
    * `bucketBy(n, key).sortBy(key)` with one file per bucket, so a
    * consumer that attaches the generation ([[attachGeneration]]) gets
    * sort-merge joins on `key` with ZERO exchange and ZERO sort. This
    * is what a streaming CDC pipeline publishes per batch when the
    * snapshot's readers are serving joins, not ad-hoc scans — the
    * layout shuffle is paid once per generation at write time, instead
    * of once per consumer query forever after.
    *
    * Losing a concurrent-publish race throws
    * [[Snapshot.SnapshotExistsException]] with the winner intact —
    * callers retrying a streaming batch treat it as "already done",
    * identical to the plain-generation discipline. */
  def publishGeneration(
      s: SparkSession, df: DataFrame, dest: String,
      key: String, n: Int): Unit = {
    require(n > 0, s"bucket count must be positive: $n")
    if (!commitStaged(s, dest, df, key, n, verify = true))
      throw new Snapshot.SnapshotExistsException(
        s"generation $dest already exists — snapshots are immutable")
  }

  /** Write `df` bucketed on `key` and commit it to `dest` through
    * [[PublishOnce]]; false when `dest` existed or won the race first.
    * The write repartitions on the bucket key, so each task holds whole
    * buckets → one file per bucket, the condition under which Spark
    * trusts the written sortBy order and drops the per-task sort below
    * a sort-merge join (zero exchange AND zero sort). With `verify`,
    * the write is Snapshot.publishAtomic's: the manifest rides the
    * commit and the staged content is verified BEFORE it can become
    * visible. `saveAsTable` needs a catalog ident; the throwaway one
    * is dropped as soon as the write returns or fails. */
  private def commitStaged(
      s: SparkSession, dest: String, df: => DataFrame, key: String, n: Int,
      verify: Boolean): Boolean =
    PublishOnce(s, dest) { staging =>
      val write = (d: DataFrame) => {
        val tmpIdent = s"graft_bkt_stg_${java.util.UUID.randomUUID().toString.take(8)}"
        try d.repartition(n, org.apache.spark.sql.functions.col(key))
          .write.format("parquet")
          .bucketBy(n, key)
          .sortBy(key)
          .option("path", staging.toString)
          .saveAsTable(tmpIdent)
        finally s.sql(s"DROP TABLE IF EXISTS $tmpIdent") // external: keeps files
      }
      if (!verify) write(df)
      else {
        val rt = Snapshot.writeVerified(s, df, staging.toString, manifest = true)(write)
        require(rt.verified, s"staged bucketed generation failed verification: " +
          s"missing=${rt.missing} extra=${rt.extra}")
      }
    }.isDefined

  /** Attach a generation published by [[publishGeneration]] as a
    * bucketed catalog table (metadata only — zero data movement) and
    * return its DataFrame. The bucket spec must match what was
    * written; the catalog name is derived from the generation path, so
    * successive generations attach as distinct tables and a serving
    * query always names exactly one immutable generation. */
  def attachGeneration(
      s: SparkSession, dest: String,
      schema: org.apache.spark.sql.types.StructType,
      key: String, n: Int): DataFrame = {
    // honor the written per-bucket order at scan time (see [[table]];
    // deliberately session-global, documented in SCALE.md)
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val ident = "graft_bktgen_" + SourceId.digest(s"$dest|$key|$n")
    if (!s.catalog.tableExists(ident))
      s.sql(s"""CREATE TABLE $ident (${schema.toDDL})
        USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS
        LOCATION '${PublishOnce.qualify(s, dest)._2}'""")
    s.table(ident)
  }

  /** Retention for superseded layouts: source-fingerprinted identities
    * mean a changed source ABANDONS its old layout dir rather than
    * overwriting it (the read path must never delete — an in-flight
    * reader may hold the old listing). Per logical name, the `keep`
    * most recently USED layouts are retained unconditionally, and the
    * rest are deleted only once idle for `minIdleMs` (default 7 days)
    * — because different scale factors / keys / bucket counts of one
    * name coexist as independently ACTIVE layouts (r13 review), a
    * count alone cannot tell "superseded" from "the other deployment's
    * copy"; idleness can: every [[table]] attach touches the layout's
    * `_graft_last_used` marker (see [[LayoutUse]]). Deleted layouts
    * drop their catalog entries. Layouts are re-derivable caches, so
    * the worst case of a clock lie is a rebuild, not data loss. Run
    * from maintenance, beside Snapshot.expireGenerations; pass
    * `minIdleMs = 0` only in single-identity deployments.
    * @return deleted directory names */
  def expire(
      s: SparkSession, keep: Int = 1,
      minIdleMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val root = s.conf.getOption(DirConf).getOrElse(
      sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_buckets")
    val Layout = "graft_bkt_(.+)_[0-9a-f]{12}".r
    LayoutUse.expireRoot(s, root,
      { case Layout(nm) => Some(nm); case _ => None },
      keep, minIdleMs,
      ident => s.sql(s"DROP TABLE IF EXISTS $ident"))
  }
}
