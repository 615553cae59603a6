package graft.queries

import graft.Q
import graft.engine.{PublishOnce, SourceId, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column queries (SURVEY.md §2B B37 adjunct; mandated EXT).
  * See graft.multimodal.Multimodal for the decode plumbing.
  */
object MultimodalOps {

  /** Binary-column handling with oracle parity: payload size + content
    * hash + a projection of typed metadata. */
  val multimodalBinary: Q = Q(
    "q_multimodal_binary",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("sha256_hex"),
          lit("text/plain").as("mime"),
          col("lang"), col("n_chars"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      sha256(text) AS sha256_hex,
      'text/plain' AS mime, lang, n_chars
    FROM documents ORDER BY doc_id"""))

  /** Feature extraction through the stubbed codec — mapPartitions
    * plumbing is real, decode is a deterministic fake whose feature
    * math (byte-stat moments + 64-byte frame sampling) is simple enough
    * to mirror in SQL, so the whole path IS oracle-checked: the fixture
    * corpus is pure ASCII (verified at every SF), so per-character
    * codepoints equal payload bytes and DuckDB reproduces the codec
    * exactly. A real codec swap would drop the oracle back to rows-only
    * + spec coverage (MultimodalSpec). */
  val multimodalFeatures: Q = Q(
    "q_multimodal_features",
    (s, d) => {
      val feats = Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(s, d))
      feats.toDF()
        .select(
          col("media_id"), col("n_bytes"), col("n_frames"),
          element_at(col("features"), 1).as("f_len"),
          element_at(col("features"), 2).as("f_mean"),
          element_at(col("features"), 3).as("f_min"),
          element_at(col("features"), 4).as("f_max"))
        .orderBy("media_id")
    },
    // Frame count: ceil(n/64) 64-byte blocks, keep every 4th (stride) →
    // (nb-1)//4 + 1 for nb >= 1 (fixture docs are never empty).
    // f_mean mirrors the codec's (sum.toDouble / n).toFloat: exact
    // integer sum, one IEEE double divide, one double→float round —
    // bit-identical in both engines.
    Some("""WITH b AS (
      SELECT doc_id AS media_id,
        CAST(length(text) AS BIGINT) AS n_bytes,
        list_transform(string_split(text, ''), c -> ascii(c)) AS bytes
      FROM documents)
    SELECT media_id, n_bytes,
      CAST(((n_bytes + 63) // 64 - 1) // 4 + 1 AS INTEGER) AS n_frames,
      CAST(n_bytes AS REAL) AS f_len,
      CAST(CAST(list_sum(bytes) AS DOUBLE) / n_bytes AS REAL) AS f_mean,
      CAST(list_min(bytes) AS REAL) AS f_min,
      CAST(list_max(bytes) AS REAL) AS f_max
    FROM b ORDER BY media_id"""))

  /** EXT: keyframe sampling + fingerprinting through the stub codec —
    * every 4th 64-byte block, identified by original block index and
    * md5-fingerprinted. Same oracle trick as q_multimodal_features:
    * the ASCII fixture makes each frame's bytes equal the text
    * substring, so DuckDB mirrors the sampler exactly. */
  val multimodalFrames: Q = Q(
    "q_multimodal_frames",
    (s, d) =>
      Multimodal.sampleFrameHashes(Multimodal.mediaFromDocuments(s, d))
        .toDF()
        .orderBy("media_id", "frame_idx"),
    Some("""WITH b AS (
      SELECT doc_id AS media_id, text,
        CAST(length(text) AS BIGINT) AS n FROM documents),
    f AS (
      SELECT media_id, text, n,
        unnest(generate_series(0, ((n + 63) // 64) - 1)) AS block_idx
      FROM b)
    SELECT media_id, CAST(block_idx AS INTEGER) AS frame_idx,
      CAST(length(substr(text, block_idx * 64 + 1, 64)) AS INTEGER)
        AS n_frame_bytes,
      md5(substr(text, block_idx * 64 + 1, 64)) AS frame_md5
    FROM f WHERE block_idx % 4 = 0
    ORDER BY media_id, frame_idx"""))

  /** EXT (r11, VERDICT r10 missing #3): batch embedding-inference
    * boundary — run an "external model" over the text column in
    * bounded per-partition batches (graft.multimodal.Inference, the
    * mapInPandas shape natively typed). The model is the deliberate
    * deterministic fake ([[graft.multimodal.Inference.PortableHashModel]]):
    * dimension j = ((h·A(j)+B(j)) mod 1e9+7) / 1e9+7 over the portable
    * text polynomial — exact BIGINT in DuckDB too, so the WHOLE
    * pipeline (batched iteration, order preservation, schema, the
    * double→float round) hash-checks end-to-end. A real model swap
    * keeps every line but the model object and drops the oracle to
    * rows-only + InferenceSpec. */
  val embedInference: Q = Q(
    "q_embed_inference",
    (s, d) => {
      val emb = graft.multimodal.Inference.embedDocuments(
        Tables.documents(s, d), graft.multimodal.Inference.PortableHashModel)
      emb.toDF()
        .select(col("doc_id"),
          element_at(col("embedding"), 1).as("e0"),
          element_at(col("embedding"), 2).as("e1"),
          element_at(col("embedding"), 3).as("e2"),
          element_at(col("embedding"), 4).as("e3"))
        .orderBy("doc_id")
    },
    Some {
      val P = graft.functions.GramSketch.PortableP
      val dims = (0 until 4).map { j =>
        val a = graft.functions.GramSketch.portableA(j)
        val b = graft.functions.GramSketch.portableB(j)
        s"CAST(CAST((h * $a + $b) % $P AS DOUBLE) / $P AS REAL) AS e$j"
      }.mkString(",\n        ")
      s"""WITH h AS (
      SELECT doc_id, list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(coalesce(text, '')) + 1),
            i -> CAST(ord(substr(coalesce(text, ''), i, 1)) AS BIGINT))),
        (h, c) -> (h * 31 + c) % $P) AS h
      FROM documents)
    SELECT doc_id,
        $dims
    FROM h ORDER BY doc_id"""
    })

  /** EXT (r13): binary-media INGESTION via Spark's built-in
    * `binaryFile` source — how an image/audio corpus actually enters
    * a 100 TB pipeline: an object-store prefix of media objects read
    * as (path, modificationTime, length, content) with
    * `pathGlobFilter`, no custom reader, one task per file group. The
    * container ships no media fixture, so the query first
    * materializes one — a deterministic 2% doc slice exported as one
    * `doc_<id>.bin` object each, written EXECUTOR-side
    * (foreachPartition: the object-PUT shape, payloads never pass
    * through the driver) — then ingests it back and projects identity
    * + size + content digest. The oracle states the round-trip
    * postcondition over the original documents table (fixture text is
    * pure ASCII at every SF, so string md5 in DuckDB equals payload
    * md5). At 100 TB only the read half exists — the export is
    * fixture scaffolding, the same contract as q_ref_csv/orc/json
    * (building the DataFrame executes the export).
    *
    * The export is committed by [[graft.engine.PublishOnce]] under a
    * name keyed by (sfDir, source fingerprint): racing sessions share
    * one immutable export, and a changed source re-keys instead of
    * mutating under a reader. LOCAL-MODE NOTE: the executor-side
    * writers and the driver's commit share java.io.tmpdir — true in
    * local[k] (one JVM) and on any shared filesystem; a real cluster
    * points the export at the object store. */
  val multimodalIngest: Q = Q(
    "q_multimodal_ingest",
    (s, d) => {
      val docsBin = Tables.documents(s, d)
        .where(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val destPath = fixtureDir(s, d, docsBin, "docs_bin")
      PublishOnce(s, destPath) { staging =>
        staging.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(staging)
        val stagingPath = staging.toUri.getPath
        docsBin.foreachPartition {
          rows: Iterator[org.apache.spark.sql.Row] =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(stagingPath,
                  f"doc_${r.getLong(0)}%012d.bin"),
                r.getAs[Array[Byte]](1))
            }
        }
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(destPath)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(text) AS content_md5
    FROM documents WHERE doc_id % 50 = 0 ORDER BY doc_id"""))

  /** Media-fixture directory keyed by (sfDir, source fingerprint). */
  private def fixtureDir(
      s: org.apache.spark.sql.SparkSession, d: String,
      src: org.apache.spark.sql.DataFrame, name: String): String = {
    val fp = SourceId.digest(s"$d|${SourceId.fingerprint(s, src)}")
    s"${sys.props("java.io.tmpdir")}/graft_media/${name}_$fp"
  }

  /** EXT (r14, VERDICT r13 next #4): image decode through the REAL
    * `javax.imageio` codec as a DECLARED, hash-exact query — the last
    * multimodal seam that was spec-only. The fixture is a deterministic
    * PNG per sampled doc: a (width × height) constant-color image whose
    * dimensions and RGB derive arithmetically from `doc_id`
    * (w = 4 + id%29, h = 4 + id%23, r/g/b = id·{1,7,13} mod 251),
    * encoded executor-side with `ImageIO.write` into a publish-once
    * prefix. The query then does the real ingest+decode path:
    * `binaryFile` scan → `MediaCodec.decodeImage` (`ImageIO.read`,
    * integer ITU-R 601 luma over the pixel grid) → (width, height,
    * mean_luma) projection. The oracle states the postcondition from
    * `doc_id` arithmetic alone — the Spark side can only match it by
    * actually round-tripping pixels through the PNG encoder AND
    * decoder, so a broken codec, a color-space drift, or a sampling
    * bug all hash-mismatch. Constant-color images make the sampled
    * integer mean EXACT (every pixel's luma is the same int), so no
    * float tolerance is needed; PNG byte-stability across encoder
    * versions is deliberately NOT assumed (no md5 of the container —
    * only decoded facts are declared). mapPartitions is the
    * established codec seam: no Catalyst expression can decode opaque
    * image bytes. */
  val multimodalDecode: Q = Q(
    "q_multimodal_decode",
    (s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d)
        .where(col("doc_id") % 50 === 0).select("doc_id")
      val destPath = fixtureDir(s, d, ids, "docs_png")
      PublishOnce(s, destPath) { staging =>
        staging.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(staging)
        val stagingPath = staging.toUri.getPath
        ids.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val id = r.getLong(0)
            val w = 4 + (id % 29).toInt
            val h = 4 + (id % 23).toInt
            val rgb = ((id % 251).toInt << 16) |
              (((id * 7) % 251).toInt << 8) | ((id * 13) % 251).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val f = new java.io.File(stagingPath, f"img_$id%012d.png")
            require(javax.imageio.ImageIO.write(img, "png", f),
              "JDK has no PNG writer (javax.imageio)")
          }
        }
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(destPath)
        .select(
          regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
            .cast("long").as("_1"),
          col("content").as("_2"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val f = Multimodal.MediaCodec.decodeImage(bytes).getOrElse(
              throw new IllegalStateException(
                s"doc $id: payload is not a decodable image"))
            // constant-color fixture ⇒ the sampled mean luma is exactly
            // the per-pixel integer luma; toInt is lossless
            (id, f(0).toInt, f(1).toInt, f(2).toInt)
          }
        }
        .toDF("doc_id", "width", "height", "mean_luma")
        // Materialize the (tiny: |docs|/50 narrow rows) decode output
        // through one exchange before the global sort (r19): the range
        // exchange's sampler job otherwise re-executes its child — a
        // second full binaryFile scan + ImageIO decode of every PNG
        // (sf20 qprofile: a 625-task, 91 s-exec stage with zero shuffle
        // in/out). SortBelowExpensiveProject can't fire through the
        // typed mapPartitions seam, so the materialization is explicit;
        // AQE coalesces the exchange (REPARTITION_BY_COL) to one task
        // at every fixture scale.
        .repartition(col("doc_id"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CAST(4 + doc_id % 29 AS INT) AS width,
      CAST(4 + doc_id % 23 AS INT) AS height,
      CAST((299 * (doc_id % 251) + 587 * ((doc_id * 7) % 251)
        + 114 * ((doc_id * 13) % 251)) // 1000 AS INT) AS mean_luma
    FROM documents WHERE doc_id % 50 = 0 ORDER BY doc_id"""))

  val all: Seq[Q] = Seq(multimodalBinary, multimodalFeatures,
    multimodalFrames, embedInference, multimodalIngest, multimodalDecode)
}
