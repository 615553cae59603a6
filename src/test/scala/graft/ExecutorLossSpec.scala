package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor loss: the scheduler must re-run lost work and the answer
  * must not change. A forked driver ([[ExecutorLossChild]]) runs under
  * `local-cluster[2,1,1024]`, so its two executors are separate JVMs,
  * and runs one multi-stage declared query twice: undisturbed, then
  * while a listener SIGKILLs an executor that holds shuffle output the
  * running stage still has to read. */
class ExecutorLossSpec extends SparkSpec {

  test("SIGKILL of an executor JVM mid-query: lost tasks and shuffle " +
      "output are recomputed and the result digest is unchanged") {
    val work = java.nio.file.Files.createTempDirectory("graft_executor_loss_")
    // The child's in-process worker takes its Spark home from SPARK_HOME,
    // or the working directory when unset, and keeps executor work dirs
    // under it. The child runs in `work` with SPARK_HOME unset, so they
    // stay in `work`; `work/jars` links to the dir this JVM loads Spark's
    // jars from, which the worker puts on the executor classpath.
    val jars = work.resolve("jars")
    java.nio.file.Files.createSymbolicLink(jars, java.nio.file.Paths.get(
      classOf[org.apache.spark.SparkContext].getProtectionDomain
        .getCodeSource.getLocation.toURI).getParent)
    try {
      val resultFile = work.resolve("result.properties")
      val child = ForkedJvm.start("graft.ExecutorLossChild",
        Seq(sf, resultFile.toString, work.resolve("rdd_ckpt").toString),
        env = Map(
          "SPARK_GRAFT_MASTER" -> Some("local-cluster[2,1,1024]"),
          "SPARK_GRAFT_EXEC_MEM" -> Some("1g"),
          "SPARK_HOME" -> None,
          // the worker's executor command builder needs it
          "SPARK_SCALA_VERSION" ->
            Some(sys.env.getOrElse("SPARK_SCALA_VERSION", "2.13"))),
        dir = Some(work.toFile))
      val exit = ForkedJvm.await(child, 600L)
      assert(exit == 0, s"the child driver must finish both runs, exit $exit")
      val r = new java.util.Properties
      val in = java.nio.file.Files.newInputStream(resultFile)
      try r.load(in) finally in.close()
      def n(k: String): Int = r.getProperty(k).toInt
      assert(r.getProperty("killed_during_query") == "true",
        s"the kill must land while the query runs: $r")
      assert(n("executors_removed") == 1, s"one executor must be lost: $r")
      assert(n("lost_task_failures") + n("fetch_failures") >= 1,
        s"the scheduler must have seen the loss in a task end: $r")
      assert(r.getProperty("kill_digest") == r.getProperty("clean_digest"),
        s"recovery changed the answer: $r")
      assert(r.getProperty("executor_codegen_cache_max_entries") ==
        Sessions.CodegenCacheEntries.toString,
        s"an executor JVM must size its codegen cache as the driver does: $r")
    } finally {
      java.nio.file.Files.delete(jars) // the link, never the install's jars
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
  }
}

/** Child driver of [[ExecutorLossSpec]]. Runs [[ExecutorLossChild.Query]]
  * on `sfDir` once undisturbed and once under a [[KillListener]], and
  * writes both content digests and the listener's counts to
  * `resultFile` (java properties), with the codegen cache size a task
  * on an executor JVM reads. Exits non-zero only when a run throws.
  *
  * Usage (with SPARK_GRAFT_MASTER=local-cluster[…] and
  * SPARK_SCALA_VERSION set, and a Spark home holding `jars`):
  *   ExecutorLossChild <sfDir> <resultFile> <checkpointDir> */
object ExecutorLossChild {
  val Query = "q_dedup_ngram_global"

  /** Kills, once, the executor that just finished a task reading a
    * shuffle. That task's map stage has completed, the executor holds
    * map output the running stage still has to fetch, and its next task
    * is already queued: the loss reaches the scheduler as an
    * ExecutorLostFailure or a FetchFailed task end. The kill is
    * synchronous on the listener bus, which delays only event delivery,
    * not the tasks. */
  final class KillListener(appId: String) extends SparkListener {
    val killedPid = new AtomicLong(-1L)
    private val fired = new AtomicBoolean(false)
    val executorsRemoved = new AtomicInteger
    val lostTaskFailures = new AtomicInteger
    val fetchFailures = new AtomicInteger

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
      case org.apache.spark.Success =>
        val readShuffle = Option(e.taskMetrics)
          .exists(_.shuffleReadMetrics.totalBlocksFetched > 0)
        if (readShuffle && fired.compareAndSet(false, true))
          kill(e.taskInfo.executorId)
      case _: org.apache.spark.ExecutorLostFailure =>
        lostTaskFailures.incrementAndGet(); ()
      case _: org.apache.spark.FetchFailed =>
        fetchFailures.incrementAndGet(); ()
      case _ => ()
    }

    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
      executorsRemoved.incrementAndGet(); ()
    }

    /** SIGKILL the executor JVM: no shutdown hook runs and its shuffle
      * files are orphaned, as on a lost node. The local-cluster worker
      * runs inside this driver, so the executor is a descendant of it. */
    private def kill(executorId: String): Unit =
      ProcessHandle.current().descendants().filter { p =>
        val cmd = commandLine(p)
        cmd.contains("CoarseGrainedExecutorBackend") && cmd.contains(appId) &&
          cmd.contains(s"--executor-id $executorId ")
      }.findFirst().ifPresent { p =>
        killedPid.set(p.pid())
        System.err.println(s"[executor-loss] SIGKILL executor $executorId " +
          s"pid=${p.pid()}")
        p.destroyForcibly()
        ()
      }
  }

  /** `p`'s full command line, read from procfs: `ProcessHandle.Info`
    * drops a command line longer than a page, as an executor's classpath
    * makes it. Empty for a process that has exited meanwhile. */
  private def commandLine(p: ProcessHandle): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/proc/${p.pid()}/cmdline")),
      java.nio.charset.StandardCharsets.UTF_8).replace('\u0000', ' ')
    catch { case _: java.io.IOException => "" }

  private def digest(spark: SparkSession, sfDir: String): String = {
    val (n, sum) = graft.engine.Snapshot.contentDigest(
      Registry.byName(Query).fn(spark, sfDir))
    s"$n:$sum"
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, resultFile, ckptDir) = args
    val spark = Sessions.local("2", "graft-executor-loss")
    try {
      // a fixed stage width, so every shuffle-reading stage has tasks
      // queued behind its first one on the two one-core executors
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // reliable checkpoints: a local checkpoint's blocks live on the
      // executor this run kills
      spark.sparkContext.setCheckpointDir(ckptDir)
      // what an executor's first generated class sizes its cache from
      val execCacheEntries = spark.range(1).map(_ =>
        org.apache.spark.sql.internal.SQLConf.get.codegenCacheMaxEntries)(
        org.apache.spark.sql.Encoders.scalaInt).head()
      val clean = digest(spark, sfDir)
      val listener = new KillListener(spark.sparkContext.applicationId)
      spark.sparkContext.addSparkListener(listener)
      val killed = digest(spark, sfDir)
      val killedDuringQuery = listener.killedPid.get() > 0
      // the listener bus delivers the tail of the run's events late
      Thread.sleep(2000L)
      spark.sparkContext.removeSparkListener(listener)
      val r = new java.util.Properties
      Seq(
        "clean_digest" -> clean, "kill_digest" -> killed,
        "killed_during_query" -> killedDuringQuery.toString,
        "killed_pid" -> listener.killedPid.get().toString,
        "executors_removed" -> listener.executorsRemoved.get().toString,
        "lost_task_failures" -> listener.lostTaskFailures.get().toString,
        "fetch_failures" -> listener.fetchFailures.get().toString,
        "executor_codegen_cache_max_entries" -> execCacheEntries.toString
      ).foreach { case (k, v) => r.setProperty(k, v) }
      System.err.println(s"[executor-loss] $r")
      val out = java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(resultFile))
      try r.store(out, Query) finally out.close()
    } finally spark.stop()
  }
}
