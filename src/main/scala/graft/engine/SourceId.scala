package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Metadata-only CONTENT identity for a DataFrame's file-backed source
  * — what generation-versions every publish-once artifact (r12 verdict
  * wrong #2).
  *
  * The publish-once family (bucketed/partitioned layouts, ANN models)
  * used to key artifacts by (sfDir, name, key, n, schema) only: an
  * in-place change to the SOURCE files kept the key, so every later
  * session silently served the stale copy forever — the one
  * silent-wrong-data path in the engine. The reference never trusts a
  * stale dump (every run re-snapshots — backup.sh:76); the Spark-native
  * analog of "re-snapshot" that does not re-scan 100 TB per lookup is a
  * FILE-LEVEL fingerprint: the sorted (path, length, modificationTime)
  * triples of the scan's input files, digested. That is the same
  * metadata the scan planner already lists to plan the read — one
  * `listStatus` per source directory, zero data bytes — and it is
  * exactly the staleness contract every lakehouse manifest encodes
  * (Iceberg/Delta track files, not bytes). Append a file, rewrite a
  * file, drop a file → new fingerprint → a fresh layout is built and
  * published; untouched source → same fingerprint → the cache hits.
  *
  * Length+mtime (not content bytes) is deliberate: digesting content
  * would re-read the corpus and erase the artifact's reason to exist.
  * A writer that preserves both length and mtime while changing bytes
  * defeats it — that is mtime-forgery territory, outside the failure
  * model for a cache whose worst case is a rebuild.
  *
  * Non-file sources (in-plan synthesis, `range`) have no files to
  * fingerprint and return a constant: for them the logical plan IS the
  * content, and the schema component of the existing keys already
  * covers shape changes.
  */
object SourceId {

  /** One `path|length|mtime` line per input file, sorted. Exposed for
    * artifacts that verify identity at LOAD time instead of keying the
    * path by it (the incremental dedup index records these lines and
    * refuses to serve if a recorded input was mutated in place). */
  def entries(s: SparkSession, df: DataFrame): Seq[String] = {
    val files = df.inputFiles
    if (files.isEmpty) Seq.empty
    else {
      val conf = s.sparkContext.hadoopConfiguration
      // one listStatus RPC per parent directory, not one per file
      files.toSeq.map(new org.apache.hadoop.fs.Path(_))
        .groupBy(_.getParent)
        .toSeq
        .flatMap { case (parent, ps) =>
          val fs = parent.getFileSystem(conf)
          val wanted = ps.map(_.getName).toSet
          fs.listStatus(parent).toSeq
            .filter(st => wanted.contains(st.getPath.getName))
            .map(st =>
              s"${st.getPath.toUri}|${st.getLen}|${st.getModificationTime}")
        }
        .sorted
    }
  }

  /** 12-hex digest of [[entries]]; `"nofiles"` for non-file sources. */
  def fingerprint(s: SparkSession, df: DataFrame): String = {
    val es = entries(s, df)
    if (es.isEmpty) "nofiles" else digest(es.mkString("\n"))
  }

  /** The identity digest in every publish-once name: the first 12 hex
    * digits of the SHA-1 of `parts`' UTF-8 bytes. Published layouts are
    * found again by name, so this must stay byte-identical. */
  def digest(parts: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(parts.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
}
