package graft

/** A repeating workload compiles each generated class once. Spark sizes
  * its JVM-wide cache of generated classes when the JVM first generates
  * code, so a forked driver ([[CodegenCacheChild]]) builds it through
  * [[Sessions.local]] in a fresh JVM, runs the `analytics` queries twice
  * and counts the classes each pass compiled. With a cache smaller than
  * one pass, the LRU evicts every class before its next use and the
  * second pass compiles as many as the first. */
class CodegenCacheSpec extends SparkSpec {
  test("a second pass over the analytics queries compiles no generated class") {
    val work = java.nio.file.Files.createTempDirectory("graft_codegen_cache_")
    try {
      val resultFile = work.resolve("result.properties")
      val child = ForkedJvm.start("graft.CodegenCacheChild",
        Seq(sf, resultFile.toString),
        env = Map("SPARK_GRAFT_MASTER" -> None))
      val exit = ForkedJvm.await(child, 600L)
      assert(exit == 0, s"the child driver must finish both passes, exit $exit")
      val r = new java.util.Properties
      val in = java.nio.file.Files.newInputStream(resultFile)
      try r.load(in) finally in.close()
      def n(k: String): Long = r.getProperty(k).toLong
      assert(n("first_pass_compiled") > 0L, r.toString)
      assert(n("second_pass_compiled") == 0L,
        s"the second pass recompiled classes the first pass compiled: $r")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }
}

/** Child driver of [[CodegenCacheSpec]]: runs [[CodegenCacheChild.Queries]]
  * on `sfDir` twice under `Sessions.local("2")` and writes the classes
  * each pass compiled to `resultFile` (java properties).
  *
  * Usage: CodegenCacheChild <sfDir> <resultFile> */
object CodegenCacheChild {
  /** The 14 queries of the benchmark's `analytics` workload. */
  val Queries = Seq(
    "q_agg_unpivot", "q_agg_grouping_sets", "q_join_anti", "q_join_broadcast",
    "q_join_asof_nearest", "q_window_rank", "q_sql_subquery", "q_fn_hash",
    "q_fn_string", "q_union_all", "q_intersect", "q_sort_limit",
    "q_scan_project_filter", "q_ref_status_last")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, resultFile) = args
    val spark = Sessions.local("2", "graft-codegen-cache")
    try {
      def pass(): Long = Queries.map { name =>
        ExecTotals.measure(spark) {
          Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
        }._2.compiled
      }.sum
      val first = pass()
      val second = pass()
      val r = new java.util.Properties
      Seq(
        "cache_max_entries" ->
          spark.conf.get("spark.sql.codegen.cache.maxEntries"),
        "first_pass_compiled" -> first.toString,
        "second_pass_compiled" -> second.toString
      ).foreach { case (k, v) => r.setProperty(k, v) }
      println(s"[codegen-cache] second pass compiled $second classes " +
        s"(first pass $first)")
      val out = java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(resultFile))
      try r.store(out, "classes compiled per pass") finally out.close()
    } finally spark.stop()
  }
}
