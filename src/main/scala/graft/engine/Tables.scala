package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed readers for the fixture star schema (FIXTURES.md).
  *
  * The reference treats its source as an opaque whole-database snapshot
  * (`pg_dump -Fc`, backup.sh:210); here each table is a columnar Parquet
  * scan so Catalyst can push filters/projections into the file source.
  * At 100 TB these reads become partitioned-parquet (or JDBC with
  * partitionColumn/numPartitions for the snapshot-extract job).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache — the catalog role a metastore plays in a
    * real deployment: listing files and reading footers once per
    * (session, path), not once per query. Sound because fixture inputs
    * are immutable for a session's lifetime (specs that synthesize
    * inputs write to fresh temp dirs); a mutable-source deployment
    * would invalidate on write, exactly as a metastore does. Keyed on
    * the session so a stopped session's plans are never reused; entries
    * of stopped sessions are swept on every lookup (the cache would
    * otherwise retain dead sessions and their analyzed plans for the
    * JVM's life — r5 advice), and [[invalidate]] is the writer hook for
    * the in-session-overwrite case. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    cache.keySet.removeIf(_._1.sparkContext.isStopped)
    cache.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      key => spark.read.parquet(key._2))
  }

  /** Drop any cached relation for `path` (every session). A writer that
    * overwrites a previously-read path in-session must call this, or the
    * cached plan would serve the stale file listing. */
  def invalidate(path: String): Unit =
    cache.keySet.removeIf(_._2 == path)

  /** Conditional ingest fan-out (r18, guide §2.5 "input skew"): when a
    * scan's PLANNED width is far below the session's parallelism — a
    * single-file, single-row-group table pins every downstream narrow
    * operator to ONE task no matter how many cores the cluster has —
    * redistribute by a stable unique key so per-row kernels (gram
    * hashing, span windows, JSON/variant parsing, decimal folds) run at
    * session width. The condition is evaluated from the actual file
    * layout at plan time: a production table scanning hundreds of
    * splits is returned UNCHANGED, so this is a narrow-ingest repair,
    * not a blanket exchange. The explicit partition count makes the
    * hop exempt from AQE coalescing (which would re-serialize it: the
    * whole point is that bytes here under-represent work).
    *
    * Use only on scan-rooted frames: resolving width via `.rdd` on a
    * frame with exchanges below it would materialize those stages.
    *
    * Keys must be present and stable (deterministic under retry —
    * guide §2.5's round-robin caveat is exactly what keyed hashing
    * avoids). */
  def widen(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(1, target / 4))
      df.repartition(target, keys: _*)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")

  /** Normalize an events-shaped frame's `ts` to session-tz TimestampType
    * whatever the fixture's physical encoding — the engine's analog of
    * the reference surviving engine/version drift by branching explicitly
    * (backup.sh:100,172-178). Three encodings have shipped:
    *
    *  - raw int64 epoch-NANOS (TIMESTAMP(NANOS) parquet read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true`, and GenData's
    *    long column): truncate to µs with integer `ts div 1000` — the
    *    same toward-zero truncation as DuckDB's `CAST(ts AS TIMESTAMP)`
    *    for the fixture's post-epoch data (pre-1970 would diverge,
    *    pinned in EngineSpec).
    *  - parquet TIMESTAMP(µs) isAdjustedToUTC=false → TimestampNTZType:
    *    cast to TimestampType; value-preserving because the session tz
    *    is pinned UTC ([[graft.Sessions.local]]).
    *  - TimestampType: already what every query expects — pass through.
    *
    * Oracle SQL always wraps ts in CAST(ts AS TIMESTAMP), which is a
    * no-op in DuckDB for the µs encoding and the floor cast for nanos. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other — expected int64 nanos, " +
          "TIMESTAMP_NTZ (parquet µs), or TIMESTAMP")
    }
  }

  /** The `nanosAsLong` flag stays set at session CONSTRUCTION
    * ([[graft.Sessions.local]]) so a TIMESTAMP(NANOS) fixture still
    * loads (flipping a session-global mid-query was the r5 bench
    * warm-up crash); it is inert for the µs encoding. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
