package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one generation store: which generations under a root are
  * visible, where one generation's data lives, and retention over them,
  * for both commit layouts.
  *
  * A generation is visible iff its commit landed:
  *  - [[Rename]] layout ([[PublishOnce]]): a child dir of the root whose
  *    name the caller's format accepts and that is not a
  *    [[PublishOnce.isStaging]] dir. The dir is the generation's data.
  *  - [[Pointer]] layout ([[Snapshot.publishPointer]]): a file under
  *    `root/_pointers` whose name the caller's format accepts. Its data
  *    is the object dir under `root/_objects` that the pointer names.
  *
  * Names come back in name order, which is chronological order for a
  * format that sorts by time (the `snapshotName` stamp); [[expire]]
  * relies on it. A format that does not (a numeric batch id) re-sorts
  * by its own key.
  *
  * The caller keeps only its name format. Readers attach
  * ([[LayoutUse.touch]]) what they resolve; nothing here does. */
private[graft] object Generations {
  sealed trait Layout
  case object Rename extends Layout
  case object Pointer extends Layout

  val PointersDir = "_pointers"
  val ObjectsDir = "_objects"

  private def fsOf(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def pointerPath(root: String, name: String) =
    new Path(s"$root/$PointersDir/$name")

  private def listed(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil

  /** The visible generation names under `root` that `accept` takes,
    * sorted. */
  def names(
      s: SparkSession, root: String, layout: Layout,
      accept: String => Boolean): Seq[String] = {
    val fs = fsOf(s, root)
    (layout match {
      case Rename => listed(fs, new Path(root)).filter(_.isDirectory)
        .map(_.getPath.getName).filterNot(PublishOnce.isStaging)
      case Pointer => listed(fs, new Path(s"$root/$PointersDir"))
        .filter(_.isFile).map(_.getPath.getName)
    }).filter(accept).sorted
  }

  /** The object dir name a pointer file records, or None when there is
    * no such pointer. */
  private def objectOf(
      fs: FileSystem, root: String, name: String): Option[String] = {
    val ptr = pointerPath(root, name)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val body =
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        .get("object")).map(_.asText())
    }
  }

  /** The data dir of generation `name`, or None when it is not
    * committed. A pointer whose object dir is MISSING is corruption (an
    * expiry or GC bug, not an unpublished generation) and throws rather
    * than reading as absent. Resolving does not attach: [[expire]]
    * resolves its own candidates, and marking them just-used would make
    * every sweep stand down. */
  def resolve(
      s: SparkSession, root: String, layout: Layout,
      name: String): Option[String] = {
    val fs = fsOf(s, root)
    layout match {
      case Rename => Some(s"$root/$name").filter(d => fs.exists(new Path(d)))
      case Pointer => objectOf(fs, root, name).map { obj =>
        val dir = s"$root/$ObjectsDir/$obj"
        if (!fs.exists(new Path(dir))) throw new IllegalStateException(
          s"pointer $name names missing object $obj under $root — " +
            "a committed generation's data was deleted out from under it")
        dir
      }
    }
  }

  /** Retention: [[LayoutUse.sweep]] over every visible generation that
    * `accept` takes except the `keep` newest. A rename generation is
    * deleted with its dir. A pointer generation is UNPUBLISHED FIRST:
    * the pointer goes before the object, so a crash in between leaves
    * an orphan object ([[orphans]]), never a dangling pointer.
    * @return the names deleted, oldest first */
  def expire(
      s: SparkSession, root: String, layout: Layout,
      accept: String => Boolean, keep: Int, minIdleMs: Long,
      onExpire: String => Unit): Seq[String] = {
    require(keep >= 1, "retention must keep at least one generation")
    val fs = fsOf(s, root)
    LayoutUse.sweep(fs, minIdleMs, onExpire,
      names(s, root, layout, accept).dropRight(keep).flatMap(name =>
        resolve(s, root, layout, name).flatMap(dir =>
          try Some(name -> fs.getFileStatus(new Path(dir)))
          catch { case _: java.io.FileNotFoundException => None }))) {
      case (name, dir) if layout == Pointer =>
        val unpublished = fs.delete(pointerPath(root, name), false)
        fs.delete(dir, true)
        unpublished
      case (_, dir) => fs.delete(dir, true)
    }
  }

  /** Object dirs of a pointer-layout root that NO pointer file names —
    * any pointer, whatever its name format: a live set narrower than
    * the delete set would delete committed data. */
  def orphans(s: SparkSession, root: String): Seq[FileStatus] = {
    val fs = fsOf(s, root)
    val named = names(s, root, Pointer, _ => true)
      .flatMap(objectOf(fs, root, _)).toSet
    listed(fs, new Path(s"$root/$ObjectsDir"))
      .filter(st => st.isDirectory && !named.contains(st.getPath.getName))
  }
}
