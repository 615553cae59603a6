package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe shared by every entry point (Bench, BenchOne,
  * Verify, Run, test suites). Centralized so session-scoped
  * invariants hold everywhere by construction:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet` is
  *    TIMESTAMP(NANOS), which Spark's vectorized reader rejects without
  *    this flag. It is set HERE, at construction, and nowhere else —
  *    r5 set it inside `Tables.events`, and that mid-session flip of a
  *    session-global was a spooky-action hazard realized: the bench
  *    warm-up's raw reads ran before any `Tables.events` call, crashed
  *    on the nanos type, and left three tables cold (VERDICT r5).
  *  - shuffle partitions sized to the local core count, not the 200
  *    default (local-mode stand-in for cluster-side AQE sizing).
  *  - UTC session tz: oracle parity depends on it.
  *  - the graft extension set (native functions, optimizer rules, the
  *    as-of join strategy, SQL parser extension).
  */
object Sessions {
  /** Multi-JVM override (VERDICT r15 missing #1): every run to r15
    * executed in ONE JVM (`local[n]`), which never tests that the
    * native kernels, typed Aggregators, the as-of strategy, the feed
    * source, and RocksDB state actually SERIALIZE to separate executor
    * processes, that broadcasts ship, and that no path relies on
    * driver-JVM-only state. `SPARK_GRAFT_MASTER=local-cluster[2,8,4096]`
    * runs the same entry points with two forked executor JVMs (Spark's
    * standalone worker in-process, executors out-of-process). The
    * worker builds the executor command from a Spark home holding
    * `jars` (`SPARK_HOME`, or the working directory when it is unset)
    * and needs `SPARK_SCALA_VERSION` set, or every executor launch
    * fails and is retried in a loop; it writes the executors' work
    * dirs under that home (`<home>/work`), so run from a scratch dir
    * whose `jars` links to Spark's (ExecutorLossSpec does this).
    * The repo's compiled classes are appended to the executor classpath
    * from this class's own code-source location, so the override works
    * from `java -cp target/...` and from sbt alike. */
  private def clusterConfig(b: SparkSession.Builder): SparkSession.Builder = {
    // Ship the driver's own classpath (main classes; under sbt's
    // forked test JVM also test-classes + scalatest jars — a typed
    // lambda defined in a spec deserializes on the executor only if
    // the spec's class AND its scalatest superclasses are loadable
    // there; without them that surfaces as a
    // SerializedLambda→Function ClassCastException). Spark's own jars
    // come from SPARK_HOME on the worker side, so they are excluded.
    // Spark's own jars must NOT be shipped (the worker resolves them
    // from its SPARK_HOME; shipping the driver's copies risks version
    // skew when the two differ) — exclude anything under the driver's
    // SPARK_HOME rather than a hard-coded install path.
    val sparkJars = new java.io.File(
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"), "jars").getPath
    // Exclusion test is "the jars dir itself or a path INSIDE it" — a
    // bare startsWith(sparkJars) would also silently drop a sibling
    // like /opt/spark/jars-extra from the executor classpath (ADVICE
    // r17), which is exactly the kind of quiet classpath divergence
    // the multi-JVM mode exists to flush out.
    val sparkJarsPrefix = sparkJars + java.io.File.separator
    val cpDirs = System.getProperty("java.class.path")
      .split(java.io.File.pathSeparator)
      .filter(p => p.nonEmpty && p != sparkJars
        && !p.startsWith(sparkJarsPrefix)
        && new java.io.File(p).exists())
    // Null when this class loads from a code-source-less classloader
    // (bootclasspath, some shaded launchers) — java.class.path above
    // already covers those launch shapes, so just skip the extra entry.
    val classesDir = Option(getClass.getProtectionDomain.getCodeSource)
      .map(_.getLocation.toURI.getPath).toSeq
    b.config("spark.executor.extraClassPath",
      (cpDirs ++ classesDir).distinct.mkString(java.io.File.pathSeparator))
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "3g"))
  }

  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder0 = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      // The AQE coalescing floor stays Spark's 1 MB default: a wider
      // global floor helps pair-expansion exchanges (whose work is
      // orders of magnitude above their bytes) but taxes every other
      // multi-exchange query with near-empty tasks (OPTIMIZATION_r18.md).
      // Operators of pair-expansion shape pin their width at the
      // exchange instead (repartition(N, key) is exempt from AQE
      // coalescing) — see DedupOps.fuzzyNamePairs/ngramPairs.
    val s = (if (master.startsWith("local-cluster"))
      clusterConfig(builder0) else builder0)
      // NOT set here: spark.sql.adaptive.coalescePartitions
      // .initialPartitionNum. On a real cluster it SHOULD be raised
      // (hundreds–thousands) so big exchanges start wide — bounded
      // per-task sort/agg memory — while AQE coalesces small ones;
      // the engine is compatible with that posture (AsofJoinExec pins
      // defaultNumShufflePartitions, not the AQE-initial value, so
      // pinned-width operators don't balloon). It is left unset for
      // the local suite because it was MEASURED as a pure tax at this
      // size: 512 initial partitions cost +14% on the sf0.1 bench
      // (wide shuffle writes + AQE re-planning on ~MB exchanges) and
      // bought nothing the 32-partition plans don't already have.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
