package graft

import org.apache.spark.sql.functions._

/** The executor totals BenchOne prints per iteration hold together: a
  * task's CPU time fits in its run time, every completed stage ran
  * tasks, only the measured call's jobs are counted, and the compile
  * count reads the classes a call generated anew. */
class ExecTotalsSpec extends SparkSpec {
  test("totals of a scan + shuffle: cpu <= run, tasks >= stages >= jobs > 0") {
    val (n, t) = ExecTotals.measure(spark) {
      graft.engine.Tables.lineitem(spark, sf)
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
        .collect().length
    }
    assert(n > 0)
    assert(t.jobs >= 1 && t.stages >= t.jobs && t.tasks >= t.stages, t.toString)
    // run time is whole milliseconds per task, truncated; CPU is ns
    assert(t.cpuNs <= (t.runMs + t.tasks) * 1000000L, t.toString)
    assert(t.inputBytes > 0 && t.shuffleWriteBytes > 0 &&
      t.shuffleReadBytes > 0, t.toString)
    assert(t.line.contains(s"jobs ${t.jobs} stages ${t.stages} tasks ${t.tasks}"))
  }

  test("a call's generated classes are compiled once: the repeated call compiles none") {
    // a literal no other spec uses puts new code in the generated classes
    val k = 1L + Math.floorMod(System.nanoTime(), 1000000L)
    def call() = ExecTotals.measure(spark) {
      spark.range(0, 1000, 1, 2).selectExpr(s"id * $k AS x")
        .agg(sum(col("x"))).collect().length
    }
    val (_, first) = call()
    val (_, again) = call()
    assert(first.compiled > 0, first.toString)
    assert(again.compiled == 0, again.toString)
    assert(again.line.endsWith("compiled 0"), again.line)
  }

  test("jobs outside the measured call are not counted") {
    val (_, idle) = ExecTotals.measure(spark)(())
    assert(idle.jobs == 0 && idle.tasks == 0 && idle.runMs == 0, idle.toString)
  }
}
