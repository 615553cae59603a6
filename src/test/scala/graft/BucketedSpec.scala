package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** engine/Bucketed + q_join_bucketed: the publish-once co-located-join
  * layout. Pins the three claims the design doc makes: zero shuffle
  * exchanges and zero per-task sorts under the join (pre-sorted
  * single-file buckets), 1/n bucket pruning on key-equality
  * filters, and publish-once reuse (a fresh catalog re-registers the
  * published files instead of rewriting them). */
class BucketedSpec extends SparkSpec {

  private def bucketDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt")
    spark.conf.set(graft.engine.Bucketed.DirConf, dir.toString)
    dir
  }
  private def cleanup(dir: java.nio.file.Path): Unit = {
    // drop the catalog entries so later tests re-exercise registration
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    spark.conf.unset(graft.engine.Bucketed.DirConf)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // finalize the adaptive plan
    df.queryExecution.executedPlan
  }

  // tree walk that descends through the AQE wrappers — every
  // QueryStageExec flavor is a LEAF hiding its subtree behind .plan
  // (same pattern as PlanSpec's as-of pin)
  private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }
  private def collectAll[T](p: SparkPlan)(
      f: PartialFunction[SparkPlan, T]): Seq[T] =
    (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++
      unwrap(p).flatMap(collectAll(_)(f))

  test("bucketed join result equals the plain shuffle join, with zero exchanges under it") {
    val dir = bucketDir
    try {
      val res = q("q_join_bucketed").collect().toSeq
      val plain = {
        val l = graft.engine.Tables.lineitem(spark, sf)
        val o = graft.engine.Tables.orders(spark, sf)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(graft.queries.Det.dsum(col("l_extendedprice"), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("o_orderstatus").collect().toSeq
      }
      assert(res == plain, "bucketed join diverges from the shuffle join")

      // plan pin: with broadcast off, the join is SMJ/SHJ and NO
      // ShuffleExchange sits anywhere below it — both sides read the
      // bucket layout directly
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val plan = executed(q("q_join_bucketed"))
        val join = collectAll(plan) {
          case j: SortMergeJoinExec => (j: SparkPlan)
          case j: ShuffledHashJoinExec => (j: SparkPlan)
        }.headOption
        assert(join.nonEmpty, s"no shuffle-family join in:\n$plan")
        val exchangesBelow =
          collectAll(join.get) { case e: ShuffleExchangeExec => e }
        assert(exchangesBelow.isEmpty,
          s"bucketed join still shuffles:\n${join.get}")
        // buckets are written pre-sorted, one file each → the scan's
        // ordering feeds the SMJ directly, no per-task sort either
        val sortsBelow = collectAll(join.get) {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        assert(sortsBelow.isEmpty,
          s"bucketed join still sorts below the join:\n${join.get}")
        val scans =
          collectAll(join.get) { case f: FileSourceScanExec => f }
        assert(scans.size == 2 && scans.forall(_.bucketedScan),
          "both join inputs must be bucketed scans")
      }
    } finally cleanup(dir)
  }

  test("aggregation on the bucket key needs no exchange either") {
    val dir = bucketDir
    try {
      val l = graft.engine.Bucketed.table(
        spark, sf, "lineitem",
        graft.engine.Tables.lineitem(spark, sf), "l_orderkey")
      // the scan's hash-clustered output already satisfies the
      // aggregate's required distribution: one single-pass
      // HashAggregate per bucket, zero shuffles anywhere
      val agg = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val plan = executed(agg)
      val exchanges = collectAll(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"bucket-key aggregation still shuffles:\n$plan")
      // same totals as aggregating the raw table
      val raw = graft.engine.Tables.lineitem(spark, sf)
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("qty"))
      assert(agg.orderBy("l_orderkey").collect().toSeq ==
        raw.orderBy("l_orderkey").collect().toSeq)
    } finally cleanup(dir)
  }

  test("key-equality filters prune to 1/n of the buckets at scan time") {
    val dir = bucketDir
    try {
      val l = graft.engine.Bucketed.table(
        spark, sf, "lineitem",
        graft.engine.Tables.lineitem(spark, sf), "l_orderkey")
      val probeKey = l.select(col("l_orderkey")).head().getLong(0)
      val plan = executed(l.where(col("l_orderkey") === probeKey))
      val scan = collectAll(plan) { case f: FileSourceScanExec => f }.head
      val selected = scan.optionalBucketSet
      assert(selected.isDefined, "bucket pruning did not engage")
      assert(selected.get.cardinality() == 1,
        s"expected 1 selected bucket, got ${selected.get.cardinality()}")
    } finally cleanup(dir)
  }

  test("an in-place source change builds a fresh layout — the stale copy is never served") {
    // r12 verdict wrong #2: the identity used to exclude source
    // content, so a mutated source silently reused the old layout
    // forever. With the file-level fingerprint in the key, a changed
    // source re-keys → fresh build; expire() reclaims the abandoned dir.
    val dir = bucketDir
    val srcDir = java.nio.file.Files.createTempDirectory("graft-bkt-src")
    try {
      val srcPath = s"$srcDir/t"
      spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
        .write.parquet(srcPath)
      def src = spark.read.parquet(srcPath)
      val v1 = graft.engine.Bucketed
        .table(spark, srcDir.toString, "mut", src, "k")
        .agg(sum(col("v"))).head().getLong(0)
      assert(v1 == 999L * 1000)
      // mutate IN PLACE: same path, same schema, different content
      spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS v")
        .write.mode("overwrite").parquet(srcPath)
      val v2 = graft.engine.Bucketed
        .table(spark, srcDir.toString, "mut", src, "k")
        .agg(sum(col("v"))).head().getLong(0)
      assert(v2 == 999L * 1500,
        s"stale bucketed layout served after source mutation (got $v2)")
      // both generations exist until retention runs; expire keeps the
      // newest per logical name and drops the abandoned one + catalog
      val root = new java.io.File(spark.conf.get(
        graft.engine.Bucketed.DirConf))
      def layouts = root.listFiles.toSeq
        .map(_.getName).filter(_.startsWith("graft_bkt_mut_"))
      assert(layouts.size == 2, s"expected old+new layouts, got $layouts")
      // ADVICE r14: with the default idle grace, a recently-used layout
      // is NEVER reclaimed even beyond keep — two coexisting active
      // identities (alternating sf sessions, two keys) must not thrash
      // full rebuilds under maintenance with keep=1
      assert(graft.engine.Bucketed.expire(spark, keep = 1).isEmpty,
        "default idle grace must protect recently-used layouts")
      assert(layouts.size == 2)
      // with the grace waived (single-identity deployment), the less
      // recently USED layout — the abandoned one — is reclaimed
      val deleted = graft.engine.Bucketed.expire(spark, keep = 1,
        minIdleMs = 0)
      assert(deleted.size == 1 && layouts.size == 1,
        s"expire must reclaim exactly the abandoned layout: $deleted")
      // the surviving layout still answers (and is the fresh one)
      assert(graft.engine.Bucketed
        .table(spark, srcDir.toString, "mut", src, "k")
        .agg(sum(col("v"))).head().getLong(0) == v2)
    } finally {
      cleanup(dir)
      org.apache.commons.io.FileUtils.deleteDirectory(srcDir.toFile)
    }
  }

  test("publish-once: second use reuses the published files; fresh catalog re-registers without rewrite") {
    val dir = bucketDir
    try {
      val first = q("q_join_bucketed").collect().toSeq
      val tables = spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_bkt_")).sorted
      assert(tables.length == 2, s"expected 2 published layouts: ${tables.toSeq}")
      // fingerprint the published files, then plant a marker mtime
      val files = java.nio.file.Files.walk(dir)
        .filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.toString).sorted
      assert(files.nonEmpty)
      val sizesBefore = files.map(f => java.nio.file.Files.size(
        java.nio.file.Paths.get(f)))
      assert(q("q_join_bucketed").collect().toSeq == first)
      // simulate a fresh session's catalog: drop the entries, keep files
      tables.foreach(t => spark.sql(s"DROP TABLE $t"))
      assert(q("q_join_bucketed").collect().toSeq == first,
        "re-registered layout changed the result")
      val filesAfter = java.nio.file.Files.walk(dir)
        .filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.toString).sorted
      assert(filesAfter.toSeq == files.toSeq &&
        filesAfter.map(f => java.nio.file.Files.size(
          java.nio.file.Paths.get(f))).toSeq == sizesBefore.toSeq,
        "re-registration must not rewrite the published files")
      // and the re-registered table still carries the bucket spec
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val plan = executed(q("q_join_bucketed"))
        val scans = collectAll(plan) { case f: FileSourceScanExec => f }
        assert(scans.count(_.bucketedScan) == 2,
          "re-registered tables lost their bucket layout")
      }
    } finally cleanup(dir)
  }

  test("a relative bucket dir publishes both a layout and a generation") {
    // relative to the working directory, which the commit rename uses;
    // saveAsTable alone would resolve it against the warehouse dir
    val rel = s"target/graft-bkt-rel-${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(graft.engine.Bucketed.DirConf, rel)
    try {
      val nation = graft.engine.Tables.nation(spark, sf)
      assert(graft.engine.Bucketed.table(
        spark, sf, "nation_rel", nation, "n_nationkey").count() == 25)
      val dest = s"$rel/gen_1"
      graft.engine.Bucketed.publishGeneration(spark, nation, dest, "n_nationkey", 4)
      assert(graft.engine.Bucketed.attachGeneration(
        spark, dest, nation.schema, "n_nationkey", 4).count() == 25)
      val left = new java.io.File(rel).listFiles().map(_.getName).toSeq
      assert(left.contains("gen_1") && !left.exists(_.contains("__staging__")),
        left.toString)
    } finally {
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_bktgen_"))
        .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
      cleanup(java.nio.file.Paths.get(rel))
    }
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
