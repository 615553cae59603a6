package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one staged commit behind every publish-once path — generations
  * ([[Snapshot.publishAtomic]], [[Bucketed.publishGeneration]]) and
  * re-derivable layouts ([[Bucketed.table]], [[Partitioned]], the
  * multimodal media fixtures). The engine form of the reference's
  * temp-dump → upload → cleanup sink (backup.sh:209-220,370): stage
  * beside the destination, commit with one create-if-absent rename,
  * delete the staging on every exit.
  *
  * Invariant: a visible destination is always complete, exactly one
  * racer wins, and staging never outlives the call. The destination
  * only ever appears by the rename of a fully written staging dir, and
  * that rename is `FileContext.rename(…, Rename.NONE)`, which fails
  * when the destination exists. The plain `FileSystem.rename` is not
  * that: onto an existing directory it moves the staging dir INSIDE
  * it, corrupting both publishers' output. Racers stage under unique
  * names, so they never collide before the commit.
  *
  * Staging names end in `.__staging__<uuid8>`, which matches no
  * published name, so listings that skip [[isStaging]] never see
  * half-written data. The rename is atomic on HDFS and local disks; on
  * an object store it is a copy, and such stores publish through
  * [[Snapshot.publishPointer]] instead. */
private[graft] object PublishOnce {
  private val StagingTag = ".__staging__"

  /** Is `name` a staging dir of this protocol (live or crashed)? */
  def isStaging(name: String): Boolean = name.contains(StagingTag)

  /** `p` made absolute against its filesystem's working directory.
    * `saveAsTable` and `CREATE TABLE … LOCATION` resolve a relative path
    * against the warehouse directory while `FileContext.rename` resolves
    * it against the working directory, so the commit and every path
    * handed to the catalog use the qualified form. */
  def qualify(s: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(path))
  }

  /** Run `write` into a fresh staging dir beside `dest`, then commit it
    * to `dest`. Returns the write's result when this call's rename
    * committed; None when `dest` already existed or another publisher
    * won the rename. `write` receives the qualified staging path, which
    * does not exist yet. */
  def apply[T](s: SparkSession, dest: String)(write: Path => T): Option[T] = {
    val (fs, destPath) = qualify(s, dest)
    if (fs.exists(destPath)) return None
    val staging = destPath.suffix(
      StagingTag + java.util.UUID.randomUUID().toString.take(8))
    try {
      val out = write(staging)
      // Bind the context to the RESOLVED filesystem's URI, not the
      // session's default filesystem.
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, s.sparkContext.hadoopConfiguration)
      try {
        fc.rename(staging, destPath, org.apache.hadoop.fs.Options.Rename.NONE)
        Some(out)
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => None }
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }
}
