package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Time one named query (repeatable):
  * `runMain graft.BenchOne <name> [n] [key=value ...]`.
  * Uses the same session shape as Bench; prints per-iteration seconds,
  * and under them the executor totals of that iteration's jobs
  * ([[ExecTotals]]): run and CPU time, GC, input, shuffle and spill
  * bytes, and jobs, stages and tasks.
  * Trailing key=value args become session conf (e.g.
  * `spark.graft.dedup.indexDir=/tmp/idx` to bench the index-probe path
  * — its iter1 then includes the one-time build+publish, iter2+ the
  * steady-state load+probe).
  *
  * `<name>` may be a comma-separated LIST: each iteration runs the
  * queries in the given order, timing each. This is the interference
  * reproducer for in-bench-only anomalies — a query that reads N× its
  * idle time only inside the full `Bench` schedule (r18:
  * q_text_quality_classifier, 32 s in-bench vs 8.5 s solo at sf20) can
  * be bisected by replaying prefixes of the schedule in one JVM.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val (confArgs, posArgs) = args.drop(1).partition(_.contains("="))
    val iters = posArgs.headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus, "graft-benchone")
    confArgs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[benchone] conf $k=$v")
    }
    // Same host-speed probes as Bench, re-measured before EVERY
    // iteration (see [[Calib]]): the single-thread probe tracks
    // per-core speed, the `cpus`-thread probe tracks the parallel-
    // capacity steal that r14 showed dominates this host's drift. An
    // iteration whose calib_par is inflated is contaminated — read the
    // /calib_par column for cross-host-day comparisons.
    (1 to iters).foreach { i =>
      val cs = Calib.seconds()
      val cp = Calib.parallelSeconds(cpus.toIntOption.getOrElse(4))
      names.foreach { name =>
        val t0 = System.nanoTime()
        // Same full-materialization metric as Bench (noop sink): count()
        // would let Catalyst prune the projections and drop the sort.
        val (_, exec) = ExecTotals.measure(spark) {
          Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
        }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[benchone] $name iter$i: $sec%.2f s" +
          f" (calib $cs%.3f par $cp%.3f; /calib ${sec / cs}%.2f" +
          f" /calib_par ${sec / cp}%.2f)")
        println(s"[benchone] $name iter$i exec: ${exec.line}")
      }
    }
    spark.stop()
  }
}

/** Executor totals of the Spark jobs one call starts, summed from task
  * and stage events. Jobs are attributed through a local property set
  * on the calling thread (the threads AQE submits stages from inherit
  * it), so work of other threads is not counted. */
private[graft] object ExecTotals {
  final class Totals {
    var jobs, stages, tasks, runMs, cpuNs, gcMs, inputBytes,
      shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
    private def mb(b: Long) = b / 1048576.0
    def line: String =
      f"run ${runMs / 1e3}%.2f s cpu ${cpuNs / 1e9}%.2f s gc ${gcMs / 1e3}%.2f s" +
        f" input ${mb(inputBytes)}%.1f MB shuffle write ${mb(shuffleWriteBytes)}%.1f MB" +
        f" read ${mb(shuffleReadBytes)}%.1f MB spill ${mb(spillBytes)}%.1f MB" +
        s" jobs $jobs stages $stages tasks $tasks"
    override def toString: String = line
  }

  private val Key = "graft.exec.totals"

  private final class Listener(val tag: String) extends SparkListener {
    private val stageIds = scala.collection.mutable.Set.empty[Int]
    val t = new Totals
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(Key) == tag)) {
        stageIds ++= e.stageIds
        t.jobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageIds.contains(e.stageInfo.stageId)) t.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && stageIds.contains(e.stageId)) {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Runs `body` and returns its value with the totals of its jobs. */
  def measure[A](spark: SparkSession)(body: => A): (A, Totals) = {
    val sc = spark.sparkContext
    val l = new Listener(java.util.UUID.randomUUID().toString)
    val outer = sc.getLocalProperty(Key)
    sc.addSparkListener(l)
    sc.setLocalProperty(Key, l.tag)
    try {
      val a = body
      org.apache.spark.sql.GraftPlanBridge.drainListeners(spark)
      (a, l.t)
    } finally {
      sc.setLocalProperty(Key, outer)
      sc.removeSparkListener(l)
    }
  }
}
