package graft.engine

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A1 as the reference actually performs it: extract from a LIVE
  * relational database over the wire (`pg_dump -Fc -h host -U user -d
  * db` — backup.sh:210; the SQL Server path submits the extract to the
  * engine server-side, backup.sh:118-121), then land the snapshot in
  * the immutable store. The engine's query surface maps A1 to parquet
  * scans for the fixture tables, but the production entry point is
  * `spark.read.jdbc` — and at 100 TB the difference between a correct
  * and a broken extract is RANGE PARTITIONING: a naive JDBC read is
  * ONE connection streaming the whole table through one task (the
  * exact single-`pg_dump` bottleneck the reference lives with), while
  * `partitionColumn/lowerBound/upperBound/numPartitions` gives N
  * concurrent range-bounded cursors, each executor pulling its own
  * slice, with per-range predicates evaluated INSIDE the database
  * (`WHERE pk >= lo AND pk < hi` server-side — the same "push work to
  * the storage engine" posture as the reference's server-side backup).
  *
  * The extract composes with the engine's existing publish discipline:
  * [[snapshot]] lands the ranged read via [[Snapshot.publishAtomic]],
  * so a database snapshot generation gets the same staging + verify +
  * single-rename visibility, manifest/stats files, retention and time
  * travel as every other generation — the reference's temp-dump →
  * upload → restore-verify flow with the verification moved before
  * visibility (A7's strengthening).
  *
  * Filter pushdown comes free from Spark's JDBC source (predicates
  * compile to the remote WHERE clause; JdbcExtractSpec pins both the
  * partition count and the pushed filter reaching the source), which
  * is A1's other production requirement: a column-filtered extract
  * must not ship the whole table. JDBC auth options (user/password,
  * or the IAM token + pinned CA of psql-backups-iam-auth.sh:119-124)
  * ride the Properties object from [[JobConfig]] — config, not code.
  */
object JdbcExtract {
  /** Ranged parallel read of one table: `numPartitions` concurrent
    * range cursors on `partitionColumn` ∈ [lowerBound, upperBound].
    * The column must be numeric/date-like and SHOULD be the primary
    * key or another indexed, roughly-uniform column — the reference's
    * databases all carry integer PKs, and a skewed partition column
    * recreates the single-cursor bottleneck on the hot range. */
  def rangedRead(
      s: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Properties = new Properties()): DataFrame = {
    require(numPartitions >= 1, s"numPartitions must be >= 1: $numPartitions")
    require(upperBound > lowerBound,
      s"empty partition range: [$lowerBound, $upperBound]")
    Snapshot.extractJdbc(s, url, table, partitionColumn,
      lowerBound, upperBound, numPartitions, props)
  }

  /** Partition bounds from the database itself — one single-row
    * aggregate query the database answers from the PK index, so
    * callers never hardcode (and drift from) the live range. */
  def bounds(
      s: SparkSession, url: String, table: String, partitionColumn: String,
      props: Properties = new Properties()): (Long, Long) = {
    val row = s.read.jdbc(url,
      s"(SELECT MIN($partitionColumn) AS lo, MAX($partitionColumn) AS hi " +
        s"FROM $table) bounds_q", props).head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"$table is empty or $partitionColumn is all-NULL — nothing to range")
    (row.getLong(0), row.getLong(1))
  }

  /** Register a live database as a DataSource V2 JDBC CATALOG — the
    * engine's strongest form of the reference's "run the work inside
    * the database" posture (the SQL Server path submits the whole
    * backup server-side, backup.sh:118-121). The V1 `spark.read.jdbc`
    * path pushes FILTERS; the V2 catalog additionally compiles
    * aggregates, limits and column pruning into the remote SQL
    * (`PushedAggregates`/`PushedGroupByExpressions` in the scan), so a
    * validation query like A15's non-empty count — or any
    * extract-audit aggregate — ships ~one row over the wire instead of
    * the table. Tables are then addressable as
    * `<name>.<TABLE>` from plain SQL. */
  def registerCatalog(
      s: SparkSession, name: String, url: String,
      driver: String = "", pushDownAggregate: Boolean = true): Unit = {
    s.conf.set(s"spark.sql.catalog.$name",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    s.conf.set(s"spark.sql.catalog.$name.url", url)
    if (driver.nonEmpty) s.conf.set(s"spark.sql.catalog.$name.driver", driver)
    s.conf.set(s"spark.sql.catalog.$name.pushDownAggregate",
      pushDownAggregate.toString)
    s.conf.set(s"spark.sql.catalog.$name.pushDownLimit", "true")
  }

  /** Generation dir name for the PK range (`from`, `to`] published by
    * one incremental fold: `gen_<from+1>_<to>` (inclusive bounds in
    * the name). EXACT-match parsing only — publishAtomic's
    * [[PublishOnce]] staging dir also starts with the prefix, so
    * a prefix test would let a crashed publish's leftover staging dir
    * advance the watermark past data that never became visible. */
  private val GenRe = "^gen_(-?\\d+)_(-?\\d+)$".r

  private def genDirs(s: SparkSession, root: String): Seq[(Long, Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case GenRe(lo, hi) => Some((lo.toLong, hi.toLong, st.getPath.toString))
        case _ => None
      }
    }
  }

  /** The extract root's high watermark: the max PK covered by any
    * PUBLISHED generation. DERIVED, never stored — the generation dir
    * (whose name carries its range and which becomes visible in one
    * rename) IS the watermark record, so "watermark atomic with the
    * published data" holds by construction: there is no second write
    * to crash between. A crash before the publish rename leaves the
    * watermark where it was (the next fold re-extracts the same
    * range); a crash after leaves it advanced with the data already
    * visible. Never ahead of published data, never behind it. */
  def watermark(s: SparkSession, root: String): Option[Long] = {
    val his = genDirs(s, root).map(_._2)
    if (his.isEmpty) None else Some(his.max)
  }

  /** High-watermark INCREMENTAL extract — the production daily shape
    * the full-table [[snapshot]] (the reference's own posture,
    * backup.sh's complete `pg_dump`) doesn't cover: pull only rows
    * with `pk > watermark`, publish them as one atomic batch-sized
    * generation `gen_<from>_<to>` under `root`, and let readers union
    * the generations ([[readIncremental]]) — the same log-structured
    * fold discipline as queries.IncrementalDedup.advanceIndex, applied
    * to the extract itself. Each fold ships ONLY the delta over the
    * wire (the explicit `pk > last AND pk <= liveMax` predicate
    * compiles into the remote WHERE — the ranged-read bounds alone
    * would NOT filter: Spark's JDBC partition bounds assign stragglers
    * to the edge partitions rather than dropping them, so relying on
    * them silently re-extracts the whole history into the first fold's
    * edge partition).
    *
    * Exactly-once under crash/retry, with NO watermark-vs-data races
    * by construction (see [[watermark]]): a retry after a crash
    * re-derives `last` from what is actually visible and re-covers
    * exactly the unpublished range. Racing folds from the SAME
    * watermark collide on the generation name and the loser gets
    * SnapshotExistsException (publishAtomic's create-if-absent
    * rename); this module assumes ONE scheduled extractor per root —
    * the reference's cron posture — and the collision check is the
    * backstop that makes a misconfigured second writer loud instead of
    * double-counting.
    *
    * @param maxPerFold cap on rows per generation (`to` ≤ `from` +
    *   maxPerFold): bounds a catch-up fold after downtime so one
    *   generation never swallows an unbounded backlog; run repeatedly
    *   to drain.
    * @return the published inclusive range and round-trip stats, or
    *   None when the source has no rows past the watermark. */
  def incremental(
      s: SparkSession, url: String, table: String, pk: String,
      numPartitions: Int, root: String,
      props: Properties = new Properties(),
      maxPerFold: Option[Long] = None): Option[(Long, Long, Snapshot.RoundTrip)] = {
    // Some(0) would publish an inverted-range empty generation
    // gen_<w+1>_<w>, and the NEXT fold would die with a confusing
    // SnapshotExistsException — fail the misconfiguration loudly here
    // instead (ADVICE r15).
    require(maxPerFold.forall(_ >= 1L),
      s"maxPerFold must be >= 1, got $maxPerFold")
    val last: Option[Long] = watermark(s, root)
    val fromExcl = last.getOrElse {
      // first fold: start just below the live minimum
      val row = s.read.jdbc(url,
        s"(SELECT MIN($pk) AS lo FROM $table) lo_q", props).head()
      if (row.isNullAt(0)) return None // empty source
      row.getLong(0) - 1
    }
    val row = s.read.jdbc(url,
      s"(SELECT MAX($pk) AS hi FROM $table) hi_q", props).head()
    if (row.isNullAt(0)) return None
    val liveMax = row.getLong(0)
    if (liveMax <= fromExcl) return None // caught up
    val toIncl = maxPerFold.fold(liveMax)(m =>
      math.min(liveMax, math.addExact(fromExcl, m)))
    val delta = rangedRead(s, url, table, pk,
      fromExcl + 1, toIncl + 1, numPartitions, props)
      .where(org.apache.spark.sql.functions.col(pk) > fromExcl
        && org.apache.spark.sql.functions.col(pk) <= toIncl)
    val dest = s"$root/gen_${fromExcl + 1}_$toIncl"
    val rt = Snapshot.publishAtomic(s, delta, dest)
    Some((fromExcl + 1, toIncl, rt))
  }

  /** Reader over an incremental root: the union of all PUBLISHED
    * generations — exact dir list, never a glob (a glob on the prefix
    * would read a crashed publish's staging leftovers as data). */
  def readIncremental(s: SparkSession, root: String): DataFrame = {
    val dirs = genDirs(s, root).map(_._3)
    require(dirs.nonEmpty, s"no published generations under $root")
    s.read.parquet(dirs: _*)
  }

  /** [[readIncremental]] × schema evolution (r16 — VERDICT r15 next
    * #8): the daily extract WILL eventually see the source gain a
    * column, and from that fold on the generations under one root
    * carry different physical schemas. [[readIncremental]]'s plain
    * union would surface whichever footer Spark samples first and
    * silently drop the new column from (or fail on) the others; this
    * reader composes the exact-dir-list discipline (never a glob —
    * crashed staging must not read as data) with
    * [[Snapshot.readEvolved]]'s additive-evolution contract:
    * `mergeSchema` unions the footers, generations published before a
    * column existed surface it as null, and no old generation is ever
    * rewritten. Filter pushdown and column pruning survive the merged
    * read — JdbcExtractSpec pins both (PushedFilters on the pk reaches
    * the scan) plus exactly-once row coverage across the boundary. */
  def readIncrementalEvolved(s: SparkSession, root: String): DataFrame = {
    val dirs = genDirs(s, root).map(_._3)
    require(dirs.nonEmpty, s"no published generations under $root")
    Snapshot.readEvolved(s, dirs: _*)
  }

  /** The live-extract job: ranged read → atomic snapshot generation.
    * Bounds are discovered from the database unless given; the upper
    * bound is max+1 so the last range's `< hi` keeps the max row.
    * Returns the publish's verified round-trip stats. */
  def snapshot(
      s: SparkSession, url: String, table: String, partitionColumn: String,
      numPartitions: Int, dest: String,
      props: Properties = new Properties(),
      boundsOpt: Option[(Long, Long)] = None): Snapshot.RoundTrip = {
    val (lo, hi) = boundsOpt.getOrElse {
      val (l, h) = bounds(s, url, table, partitionColumn, props)
      (l, h + 1)
    }
    Snapshot.publishAtomic(s,
      rangedRead(s, url, table, partitionColumn, lo, hi, numPartitions, props),
      dest)
  }
}
