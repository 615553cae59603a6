package graft

import graft.streaming.ComposedPipeline
import org.apache.spark.sql.functions._

/** Driver loss, the one failure an executor kill cannot produce: the
  * driver owns the feed offsets, the state-store versions and the
  * generation commit. The composed pipeline runs in a forked driver JVM
  * ([[DriverRestartChild]]). Once generations have landed, the spec
  * SIGKILLs it (no shutdown hook, no query stop, nothing flushed beyond
  * what was already committed) and forks it again on the same checkpoint
  * and snapshot root, as a supervisor restart would. The restarted
  * driver must drain the feed to exactly the table a clean run produces,
  * with no session applied twice. */
class DriverRestartSpec extends SparkSpec {

  test("SIGKILL of the pipeline's driver JVM mid-replay: the restarted " +
      "driver drains to the clean run's table with no key applied twice") {
    val work = java.nio.file.Files
      .createTempDirectory("graft_driver_restart_").toString
    try {
      val feedDir = s"$work/feed"
      FeedFixture.seedFeed(feedDir, staggerMin = 10L)
      val (snap, ckpt) = (s"$work/snap_kill", s"$work/ckpt_kill")

      val first = DriverRestartChild.fork(feedDir, snap, ckpt)
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      var gens = 0
      while (first.isAlive && gens < 2 && System.nanoTime() < deadline) {
        Thread.sleep(50L)
        gens = ComposedPipeline.generationIds(spark, snap).size
      }
      val killedMidStream = first.isAlive && gens >= 2
      first.destroyForcibly()
      val firstExit = first.waitFor()
      assert(killedMidStream, s"the first driver must still be running once " +
        s"2 generations have landed (saw $gens; alive=${first.isAlive})")
      assert(firstExit != 0, s"the killed driver exited $firstExit")

      val secondExit = ForkedJvm.await(
        DriverRestartChild.fork(feedDir, snap, ckpt), 300L)
      assert(secondExit == 0,
        s"the restarted driver must drain the feed and exit 0, got $secondExit")

      val clean = ComposedPipeline.run(spark, feedDir, s"$work/snap_clean",
        s"$work/ckpt_clean", DriverRestartChild.Cap)
      assert(!clean.crashed && clean.processedLag == 0L)
      assert(clean.generations > gens,
        s"the kill must leave generations to publish: $gens of " +
          s"${clean.generations} had landed")

      val restarted = ComposedPipeline.latestSnapshot(spark, snap).get
      val cleanFinal =
        ComposedPipeline.latestSnapshot(spark, s"$work/snap_clean").get
      assert(restarted.groupBy("user_id", "session_seq").count()
        .where(col("count") > 1).isEmpty,
        "a session row was applied more than once across the restart")
      assert(restarted.exceptAll(cleanFinal).isEmpty &&
        cleanFinal.exceptAll(restarted).isEmpty,
        "the restarted driver's table must equal the clean run's")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    }
  }
}

/** Child driver of [[DriverRestartSpec]]: runs [[ComposedPipeline.run]]
  * over `feedDir` until drained. Exits 0 when no feed lag remains, 3
  * otherwise.
  *
  * Usage: DriverRestartChild <feedDir> <snapRoot> <ckptDir> <maxBatchRecords> */
object DriverRestartChild {
  /** Records admitted per feed partition per micro-batch: the fixture's
    * ~1000 records per partition replay in about ten batches. */
  val Cap = 100L

  def fork(feedDir: String, snapRoot: String, ckptDir: String): Process =
    ForkedJvm.start("graft.DriverRestartChild",
      Seq(feedDir, snapRoot, ckptDir, Cap.toString),
      // a plain single-JVM driver even when the suite runs multi-JVM
      env = Map("SPARK_GRAFT_MASTER" -> None))

  def main(args: Array[String]): Unit = {
    val Array(feedDir, snapRoot, ckptDir, cap) = args
    val spark = Sessions.local("2", "graft-driver-restart-child")
    val st = ComposedPipeline.run(spark, feedDir, snapRoot, ckptDir, cap.toLong)
    spark.stop()
    sys.exit(if (st.processedLag == 0L) 0 else 3)
  }
}
