package graft.engine

import org.apache.spark.sql.SparkSession

/** Use tracking and the one retention sweep for publish-once roots:
  * re-derivable layouts ([[Bucketed]], [[Partitioned]]) and snapshot
  * generations ([[Snapshot.expireGenerations]],
  * [[Snapshot.expirePointer]]).
  *
  * Every attach TOUCHES a hidden `_graft_last_used` marker inside the
  * dir (underscore-prefixed, so invisible to Spark's file listing), so
  * "most recently used" is observed rather than proxied by publish
  * mtime; dirs published before the marker existed fall back to the
  * dir's mtime. Different scale factors, keys or bucket counts of one
  * table name coexist as independently ACTIVE layouts, so a count
  * alone cannot tell "superseded" from "another deployment's copy":
  * retention deletes a beyond-keep dir only when it has been idle
  * since `minIdleMs` before the sweep started — an abandoned layout's
  * marker stops advancing, an active one keeps renewing it. The
  * horizon is fixed when the sweep starts, and a re-check just before
  * each delete lets an attach made during the sweep win ([[sweep]]). */
private[graft] object LayoutUse {
  val LastUsedFile = "_graft_last_used"

  /** Record a use of the layout at `path` (create-overwrite of the
    * hidden marker — one cheap FS op per attach). Never throws: a
    * read-only root degrades to publish-mtime retention, not failure. */
  def touch(s: SparkSession, path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path, LastUsedFile)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.create(p, true).close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Last observed use: the marker's mtime, else the dir's (legacy). */
  def lastUsed(
      fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long = {
    val m = new org.apache.hadoop.fs.Path(st.getPath, LastUsedFile)
    if (fs.exists(m)) fs.getFileStatus(m).getModificationTime
    else st.getModificationTime
  }

  /** The one retention sweep, over candidates the caller has already
    * ranked expirable: `(name, listing status of the dir whose marker
    * records its use)`. The idle horizon is `sweepStart − minIdleMs`,
    * fixed when the sweep starts, before `candidates` is listed. Per
    * candidate, in order:
    *  1. skip it if it was used after the horizon (grace period);
    *  2. call `onExpire(name)` (catalog unregistration; also the seam
    *     the expiry specs inject a racing attach through);
    *  3. ATTACH-WINS: re-read the marker and stand down if it moved
    *     past the horizon, or if the dir is already gone;
    *  4. delete through `delete`, which returns false when there was
    *     nothing left to delete.
    * Because the horizon is fixed, even `minIdleMs = 0` lets an attach
    * made during the sweep win. `onExpire` runs before the re-check on
    * purpose: it only drops metadata that the next attach re-creates
    * over the intact files, whereas a delete under a live attach
    * destroys data a reader holds a listing of. The residual window
    * between the re-check and the delete is why in-flight readers also
    * get the loud-failure guarantee (session default
    * `ignoreMissingFiles=false`: a vanished file fails the scan, never
    * silently returns empty; the expiry specs pin both halves).
    * @return the names this sweep deleted itself, in candidate order */
  def sweep(
      fs: org.apache.hadoop.fs.FileSystem, minIdleMs: Long,
      onExpire: String => Unit,
      candidates: => Seq[(String, org.apache.hadoop.fs.FileStatus)])(
      delete: (String, org.apache.hadoop.fs.Path) => Boolean): Seq[String] = {
    require(minIdleMs >= 0, s"negative idle grace: $minIdleMs")
    val horizon = System.currentTimeMillis() - minIdleMs
    candidates.filter { case (_, st) => lastUsed(fs, st) <= horizon }
      .flatMap { case (name, st) =>
        onExpire(name)
        val fresh =
          try Some(fs.getFileStatus(st.getPath))
          catch { case _: java.io.FileNotFoundException => None }
        if (fresh.exists(lastUsed(fs, _) <= horizon) && delete(name, st.getPath))
          Some(name)
        else None
      }
  }

  /** Retention over one layout root: per logical name (extracted by
    * `nameOf`), retain the `keep` most recently USED layouts
    * unconditionally, and [[sweep]] the rest, deleting those idle
    * since `minIdleMs` before the sweep started.
    * @return deleted directory names */
  def expireRoot(
      s: SparkSession, root: String,
      nameOf: String => Option[String],
      keep: Int, minIdleMs: Long,
      onDelete: String => Unit): Seq[String] = {
    require(keep >= 1, "retention must keep at least one layout")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return Nil
    sweep(fs, minIdleMs, onDelete,
      fs.listStatus(rootP).toSeq
        .filter(st => st.isDirectory && !PublishOnce.isStaging(st.getPath.getName))
        .flatMap(st => nameOf(st.getPath.getName).map(_ -> st))
        .groupBy(_._1)
        .toSeq.flatMap { case (_, named) =>
          named.map(_._2).sortBy(st => -lastUsed(fs, st)).drop(keep)
        }
        .map(st => st.getPath.getName -> st))(
      (_, dir) => fs.delete(dir, true))
  }
}
