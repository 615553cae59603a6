package graft.queries

import graft.Q
import graft.engine.Tables
import org.apache.spark.sql.DataFrame
import graft.functions.Vectors
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2B B31, B12,
  * B37 + the mandated ANN extension).
  *
  * Scale posture: the exact top-k broadcasts the (small) probe set and
  * streams the corpus — a BroadcastNestedLoopJoin whose cost is
  * |probes|·|corpus|, linear in the 100 TB side. The embedding dedup
  * and the LSH variant (DedupOps.simLshTopk) are the true 100 TB paths:
  * rows meet only inside a shared (label,) band bucket, scored where
  * both vectors sit ([[BucketPairs]]), never pairing across buckets.
  */
object Similarity {

  /** B31/B12: exact top-10 cosine neighbors for a deterministic probe
    * subset — the first (by vec_id) 64 vectors with vec_id % 100 == 0.
    * Brute-force baseline: the probe set is CAPPED at 64 rows so the
    * broadcast side stays O(1) in corpus size (an uncapped "1% of
    * corpus" probe set would outgrow the broadcast at ~100×); the
    * streamed side remains the full corpus. The LSH variant
    * (q_sim_lsh_topk) is the path for probe sets that scale with data. */
  val simTopkCosine: Q = Q(
    "q_sim_topk_cosine",
    (s, d) => {
      // Cosine via the fused native expression (functions.CosineSimilarity)
      // — one array traversal, whole-stage-codegen'd; bit-identical to
      // the composed dot/sqrt(n2a·n2b) the oracle mirrors (~4-9×
      // measured speedup over the higher-order-function forms).
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val probes = e.filter(col("vec_id") % 100 === 0)
        .orderBy(col("vec_id")).limit(64)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      broadcast(probes).crossJoin(e)
        .where(col("vec_id") =!= col("probe_id"))
        .withColumn("cos",
          graft.functions.CosineSimilarity(s, col("pv"), col("embedding")))
        .withColumn("k", row_number().over(w).cast("long"))
        .where(col("k") <= 10)
        .select("probe_id", "k", "vec_id", "cos")
        .orderBy("probe_id", "k")
    },
    Some(s"""WITH probes AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64)
    SELECT probe_id, k, vec_id, cos FROM (
      SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        ${Vectors.sqlCosine("p.embedding", "c.embedding")} AS cos,
        row_number() OVER (PARTITION BY p.vec_id ORDER BY
          ${Vectors.sqlCosine("p.embedding", "c.embedding")} DESC,
          c.vec_id ASC) AS k
      FROM probes p CROSS JOIN embeddings c
      WHERE c.vec_id != p.vec_id)
    WHERE k <= 10 ORDER BY probe_id, k"""))

  /** The random-hyperplane model for q_dedup_embedding's candidate
    * generator: 32 planes → 8 bands × 4 bits. Seeded (deterministic
    * across JVMs); distinct from DedupOps.LshPlanes (16 planes) because
    * the dedup join wants more bands for recall at its low threshold. */
  private[graft] val DedupPlanes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(32)(Seq.fill(64)(rnd.nextGaussian()))
  }
  private val DedupBands = 8
  private val DedupRowsPerBand = 4

  /** DuckDB band-value mirror (plane-literal embedding + fold parity
    * notes live on Vectors.sqlPlaneDot/sqlBandVal). */
  private def sqlBandVal(b: Int): String =
    Vectors.sqlBandVal(DedupPlanes, b, DedupRowsPerBand, "embedding")

  /** Per-vector output bound: each vector reports at most its NearK
    * strongest earlier neighbors, so |output| ≤ NearK·n — linear in the
    * corpus — where the unbounded τ-filtered pair set is quadratic on
    * duplicate-heavy data (r6 verdict: sf5 144.5 s, superlinear). */
  private val NearK = 5

  /** Within-bucket candidate bound: a (label, band) bucket of m members
    * would otherwise emit m² candidate pairs, and the band key's
    * cardinality is FIXED (8 bands × 16 values) — the cliff-6 pattern:
    * buckets grow ∝ corpus and the join goes quadratic even though the
    * final output is top-k-bounded (measured r7: the output-only bound
    * left sf5 at 137 s because the candidate join still did the
    * quadratic work). Each member therefore pairs only with its
    * BandWindow predecessors in vec_id order within the bucket —
    * candidates ≤ bands·BandWindow·n, linear in the corpus — the same
    * absolute-bound discipline as q_dedup_near's BucketCap star pairs.
    * Deterministic (vec_id order), mirrored in the oracle SQL. */
  private val BandWindow = 64

  /** Mandated EXT: embedding-cosine near-duplicates — candidates from
    * an 8-band random-hyperplane LSH join WITHIN label (each bucket
    * member pairing with its ≤ BandWindow vec_id-order predecessors),
    * exact cosine ≥ 0.35 as the residual filter, then each vector
    * keeps only its top-NearK most-similar EARLIER neighbors (pairs
    * stay oriented
    * a_id < b_id; the rank partitions by b_id, the later vector — the
    * SemDeDup look-backwards orientation). The LSH stage is part of the
    * DECLARED semantics (and mirrored bit-exactly in the oracle SQL):
    * at this threshold (fixture pairs sit at cos 0.35-0.47, where a
    * hyperplane bit agrees with only p≈0.61) no LSH configuration has
    * recall 1, so hiding the candidate stage would silently change the
    * result set. Declaring it makes the query the true 100 TB path —
    * pair cost follows band collisions (~60% of random same-label pairs
    * pruned at these parameters, far more on clustered real-world data)
    * instead of |label block|², and the top-k bound keeps the DECLARED
    * OUTPUT linear too (a duplicate-heavy corpus otherwise emits
    * quadratically many τ-pairs no matter how they were found).
    * Recall vs the identically-bounded brute-force set is measured and
    * asserted in DedupSpec. */
  val dedupEmbedding: Q = Q(
    "q_dedup_embedding",
    (s, d) => embeddingDedup(Tables.embeddings(s, d)),
    Some(s"""WITH sig AS (
      SELECT vec_id, label, embedding,
        ${(0 until DedupBands).map(b => s"(${sqlBandVal(b)}) AS band_$b")
          .mkString(",\n        ")}
      FROM embeddings WHERE len(embedding) = 64),
    banded AS (
      SELECT vec_id, label, bi.band_idx,
        CASE bi.band_idx ${(0 until DedupBands)
          .map(b => s"WHEN $b THEN band_$b").mkString(" ")} END AS band_val
      FROM sig CROSS JOIN (SELECT unnest([${(0 until DedupBands)
        .mkString(", ")}]) AS band_idx) bi),
    positioned AS (
      SELECT *, row_number() OVER (PARTITION BY label, band_idx, band_val
        ORDER BY vec_id) AS pos
      FROM banded),
    cand AS (
      SELECT DISTINCT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id
      FROM positioned a JOIN positioned b
        ON a.label = b.label AND a.band_idx = b.band_idx
        AND a.band_val = b.band_val
        AND b.pos - a.pos BETWEEN 1 AND $BandWindow),
    pairs AS (
      SELECT c.label, c.a_id, c.b_id,
        ${Vectors.sqlCosine("ea.embedding", "eb.embedding")} AS cos
      FROM cand c
        JOIN sig ea ON ea.vec_id = c.a_id
        JOIN sig eb ON eb.vec_id = c.b_id
      WHERE ${Vectors.sqlCosine("ea.embedding", "eb.embedding")} >= 0.35)
    SELECT label, a_id, b_id, cos, k FROM (
      SELECT label, a_id, b_id, cos,
        row_number() OVER (PARTITION BY b_id
          ORDER BY cos DESC, a_id ASC) AS k
      FROM pairs)
    WHERE k <= $NearK
    ORDER BY label, a_id, b_id"""))

  /** (vec_id, label, embedding) rows → q_dedup_embedding's pairs. Each
    * 64-dim vector pairs with its ≤ BandWindow vec_id-order predecessors
    * in every (label, band, band value) bucket ([[BucketPairs.LookBack]]),
    * scored by the exact cosine beside them; the survivors of cos ≥ 0.35
    * are few, so their distinct is cheap. A NULL signature (a null
    * element) joins no bucket. */
  private[graft] def embeddingDedup(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    val sig = e.where(size(col("embedding")) === 64)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.HyperplaneSig(
          s, col("embedding"), DedupPlanes).as("sig"))
    val w = Window.partitionBy(col("b_id"))
      .orderBy(col("cos").desc, col("a_id").asc)
    BucketPairs(sig, col("vec_id"),
      array((0 until DedupBands).map(b =>
        shiftright(col("sig"), b * DedupRowsPerBand)
          .bitwiseAND((1 << DedupRowsPerBand) - 1)): _*),
      col("embedding"), BucketPairs.LookBack(BandWindow),
      BucketPairs.Cosine(Some(0.35)), block = Seq("label"))
      .select(col("label"), col("a_id"), col("b_id"), col("score").as("cos"))
      // one exchange on b_id serves the distinct and the top-k window
      .repartition(col("b_id")).distinct()
      .withColumn("k", row_number().over(w).cast("long"))
      .where(col("k") <= NearK)
      .select("label", "a_id", "b_id", "cos", "k")
      .orderBy("label", "a_id", "b_id")
  }

  /** Native `cosine_sim` driven through the SQL registration path:
    * the query text resolves the function from the session catalog —
    * populated app-wide by `spark.sql.extensions=graft.GraftExtensions`
    * on the Verify/Bench sessions (ExtensionsSpec proves injection on a
    * clean session). The idempotent register() call covers sessions
    * built without the static conf so the query is portable. */
  val simCosineSql: Q = Q(
    "q_sim_cosine_sql",
    (s, d) => {
      graft.functions.CosineSimilarity.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("embeddings")
      s.sql("""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          cosine_sim(a.embedding, b.embedding) AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 10 = 0
        ORDER BY a_id""")
    },
    Some(s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      ${Vectors.sqlCosine("a.embedding", "b.embedding")} AS cos
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id % 10 = 0
    ORDER BY a_id"""))

  /** B37: cross-modal join — documents ⋈ embeddings by id with
    * modality-specific predicates on both sides. */
  val multimodalJoin: Q = Q(
    "q_multimodal_join",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .where(col("n_chars") >= 200)
      val emb = Tables.embeddings(s, d)
        .where(col("label") < 5)
      docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("label"),
          size(col("embedding")).cast("long").as("dim"),
          Vectors.norm2(col("embedding")).as("norm2"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, lang, source, n_chars, label,
      CAST(len(embedding) AS BIGINT) AS dim,
      ${Vectors.sqlDot("embedding", "embedding")} AS norm2
    FROM documents JOIN embeddings ON doc_id = vec_id
    WHERE n_chars >= 200 AND label < 5
    ORDER BY doc_id"""))

  /** EXT: symmetric int8 quantization of the embedding column — the
    * serving-side compression standard (absmax scaling, as in
    * llama.cpp Q8 / vector-DB int8 indexes): scale = 127/max|x|,
    * q_i = round(x_i·scale), 4× smaller vectors whose dot products
    * approximate the float ones. Declared output is the per-vector
    * audit a pipeline stores next to the quantized index: quantized
    * extrema/checksum (exact ints) + reconstruction MSE. Purely
    * narrow per-row array expressions — zero shuffles, scan-speed at
    * 100 TB.
    *
    * Parity: every per-element value is deterministic (float→double
    * widening exact, one multiply, round-half-away integral, one
    * divide), and the fold orders are fixed left-to-right in both
    * engines (q_fn_array's seed idiom: 0.0+x == x; max(0,|x|) == |x|).
    * MSE rounded to 9 decimals for the final-sum libm discipline. */
  val embedQuantize: Q = Q(
    "q_embed_quantize",
    (s, d) => {
      val xd = transform(col("embedding"), v => v.cast("double"))
      val absmax = aggregate(xd, lit(0.0), (a, v) => greatest(a, abs(v)))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          (lit(127.0) / absmax).as("scale"))
      val q = transform(transform(col("embedding"), v => v.cast("double")),
        v => round(v * col("scale")).cast("long"))
      val errs = transform(transform(col("embedding"), v => v.cast("double")),
        v => pow(v - round(v * col("scale")) / col("scale"), 2))
      e.select(col("vec_id"),
          q.as("q"), aggregate(errs, lit(0.0), (a, v) => a + v).as("se"))
        .select(col("vec_id"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          aggregate(col("q"), lit(0L), (a, v) => a + v).as("q_sum"),
          round(col("se") / size(col("q")), 9).as("mse"))
        .orderBy("vec_id")
    },
    Some("""WITH s AS (
      SELECT vec_id, embedding AS e,
        127.0e0 / list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
          (a, b) -> greatest(a, b)) AS scale
      FROM embeddings),
    q AS (
      SELECT vec_id, scale,
        list_transform(e, x ->
          CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)) AS qs,
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(e, x ->
              pow(CAST(x AS DOUBLE)
                - round(CAST(x AS DOUBLE) * scale) / scale, 2))),
          (a, b) -> a + b) AS se
      FROM s)
    SELECT vec_id,
      list_min(qs) AS q_min,
      list_max(qs) AS q_max,
      list_reduce(list_prepend(CAST(0 AS BIGINT), qs), (a, b) -> a + b)
        AS q_sum,
      round(se / len(qs), 9) AS mse
    FROM q ORDER BY vec_id"""))

  val all: Seq[Q] =
    Seq(simTopkCosine, dedupEmbedding, simCosineSql, multimodalJoin,
      embedQuantize)
}
