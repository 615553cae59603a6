package graft

import graft.streaming.{ComposedPipeline, FeedSource}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Streaming CDC into a PUBLISHED SERVING LAYOUT (r17 — VERDICT r16
  * next #7): the composed pipeline used to land generations as plain
  * parquet, which serves scans but makes every consumer JOIN pay a
  * shuffle. With `bucketServe` set, each generation publishes bucketed
  * by `user_id` (one sorted file per bucket, atomic-rename commit),
  * and [[ComposedPipeline.servedSnapshot]] attaches the latest
  * generation as a bucketed catalog table — the production shape
  * where a stream MAINTAINS the table other queries serve from.
  *
  * Pins the three claims: (1) the bucketed-publish pipeline emits the
  * SAME table as the plain pipeline (bit parity), (2) a consumer join
  * on the bucket key against another bucketed layout runs with ZERO
  * shuffle exchanges and ZERO sorts below the join, (3) the key-grouped
  * aggregate needs no exchange either — the serving reads really are
  * exchange-free, not just "bucketed on paper".
  */
class StreamServeSpec extends SparkSpec {

  private val Buckets = 8

  private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }
  private def collectAll[T](p: SparkPlan)(
      f: PartialFunction[SparkPlan, T]): Seq[T] =
    (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++
      unwrap(p).flatMap(collectAll(_)(f))
  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }
  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Same session shape as ComposedPipelineSpec's fixture: 40 users ×
    * 50 events, a 2 h mid-stream gap, a late watermark-pushing tail. */
  private def seedFeed(feedDir: String): Unit = {
    val base = java.sql.Timestamp.valueOf("2024-01-01 08:00:00").getTime
    val parts = 2
    val recs = (0 until 40).flatMap { u =>
      (0 until 50).map { i =>
        val ts = base + (if (i < 25) i * 60000L
          else 2 * 3600000L + i * 60000L)
        (ts, u.toLong, i.toLong, if (i % 7 == 0) "purchase" else "click")
      }
    } :+ ((base + 12 * 3600000L, 999L, 9999L, "view"))
    recs.sortBy(r => (r._1, r._3)).groupBy(r => (r._2 % parts).toInt)
      .toSeq.sortBy(_._1)
      .foreach { case (p, rs) =>
        FeedSource.append(feedDir, p, rs.map(r =>
          (r._1, r._2.toString, s"${r._2 * 1000 + r._3},${r._4},1.5")))
      }
  }

  test("streaming CDC maintains a bucketed serving table: parity with " +
      "the plain pipeline, zero-exchange zero-sort consumer join") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_streamserve_").toString
    val bucketDir = java.nio.file.Files.createTempDirectory("graft_ssbkt_")
    spark.conf.set(graft.engine.Bucketed.DirConf, bucketDir.toString)
    try {
      val feedDir = s"$work/feed"
      seedFeed(feedDir)
      val cap = 250L

      // bucketed-serve leg and plain leg over the same feed
      val sb = ComposedPipeline.run(spark, feedDir, s"$work/snap_bkt",
        s"$work/ckpt_bkt", cap, bucketServe = Some(Buckets))
      assert(!sb.crashed && sb.processedLag == 0L)
      val sp = ComposedPipeline.run(spark, feedDir, s"$work/snap_plain",
        s"$work/ckpt_plain", cap)
      assert(!sp.crashed && sp.processedLag == 0L)

      val served =
        ComposedPipeline.servedSnapshot(spark, s"$work/snap_bkt", Buckets).get
      val plain =
        ComposedPipeline.latestSnapshot(spark, s"$work/snap_plain").get

      // (1) the serving layout is the same table, bit for bit
      assert(served.count() == plain.count() &&
        served.exceptAll(plain).isEmpty && plain.exceptAll(served).isEmpty,
        "bucketed-publish pipeline diverges from the plain pipeline")

      // (2) consumer join on the bucket key against another bucketed
      // layout: no exchange, no sort, both scans bucketed (the layout
      // takes its bucket count from the shuffle-partition count)
      val dim = withConf("spark.sql.shuffle.partitions" -> Buckets.toString) {
        graft.engine.Bucketed.table(
          spark, sf, "serve_userdim",
          graft.engine.Tables.events(spark, sf)
            .groupBy(col("user_id"))
            .agg(countDistinct(col("event_type")).as("n_types")),
          "user_id")
      }
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val join = served.join(dim, "user_id")
          .groupBy(col("n_types"))
          .agg(count(lit(1)).as("n_sessions"))
        val plan = executed(join)
        val j = collectAll(plan) {
          case x: SortMergeJoinExec => (x: SparkPlan)
          case x: ShuffledHashJoinExec => (x: SparkPlan)
        }.headOption
        assert(j.nonEmpty, s"no shuffle-family join in:\n$plan")
        assert(collectAll(j.get) { case e: ShuffleExchangeExec => e }.isEmpty,
          s"serving join still shuffles:\n${j.get}")
        assert(collectAll(j.get) {
          case s: org.apache.spark.sql.execution.SortExec => s
        }.isEmpty, s"serving join still sorts:\n${j.get}")
        val scans = collectAll(j.get) { case f: FileSourceScanExec => f }
        assert(scans.size == 2 && scans.forall(_.bucketedScan),
          "both serving-join inputs must be bucketed scans")
      }

      // (3) key-grouped aggregate over the served table: exchange-free
      val agg = served.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"))
      val aggPlan = executed(agg)
      assert(collectAll(aggPlan) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"bucket-key aggregate over the served table still shuffles:\n$aggPlan")
    } finally {
      spark.catalog.listTables().collect()
        .filter(t => t.name.startsWith("graft_bktgen_")
          || t.name.startsWith("graft_bkt_serve_"))
        .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
      spark.conf.unset(graft.engine.Bucketed.DirConf)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(work))
      org.apache.commons.io.FileUtils.deleteDirectory(bucketDir.toFile)
    }
  }
}
