package graft

/** The one recipe for forking a child driver JVM from a spec: this
  * JVM's java binary and classpath (main and test classes, so a child
  * entry point may live under src/test), plus the `--add-opens` set it
  * was started with — Spark 4 on JDK 17 needs them when a SparkSession
  * starts outside spark-submit. The child gets a 1 GB heap; its stdout
  * and stderr go to this JVM's.
  *
  * `env` edits the inherited environment: `Some(v)` sets a variable,
  * `None` removes it. `dir` is the child's working directory (default:
  * this JVM's). */
object ForkedJvm {
  def start(
      mainClass: String, args: Seq[String],
      env: Map[String, Option[String]] = Map.empty,
      dir: Option[java.io.File] = None): Process = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val inherited = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val opens = scala.jdk.CollectionConverters
      .ListHasAsScala(inherited).asScala.toSeq
      .sliding(2).collect {
        case Seq("--add-opens", v) => Seq("--add-opens", v)
      }.flatten.toSeq
    val cmd = Seq(javaBin, "-Xmx1g", "-Dspark.ui.enabled=false") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"), mainClass) ++
      args
    val pb = new ProcessBuilder(cmd: _*).inheritIO()
    dir.foreach(pb.directory)
    env.foreach {
      case (k, Some(v)) => pb.environment().put(k, v)
      case (k, None) => pb.environment().remove(k)
    }
    pb.start()
  }

  /** `p`'s exit code, or -1 after killing it when it has not exited
    * within `seconds`. */
  def await(p: Process, seconds: Long): Int =
    if (p.waitFor(seconds, java.util.concurrent.TimeUnit.SECONDS)) p.exitValue()
    else { p.destroyForcibly().waitFor(); -1 }
}
