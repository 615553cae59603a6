package graft.queries

import graft.Q
import graft.engine.Tables
import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection + approximate similarity search
  * (SURVEY.md §2B B33 and the mandated dedup/ANN extensions).
  *
  * Scale design: every pipeline here is LSH-shaped — signature
  * computation is a narrow per-row pass; candidate generation shuffles
  * on (band index, band hash) so only colliding docs ever pair up;
  * exact verification runs per candidate pair. The O(n²) stage of naive
  * dedup never materializes, which is what makes 100 TB feasible.
  * MinHash/SimHash sketches are pure expressions (functions.TextHash) —
  * no UDAF needed, contra the survey's initial Aggregator plan.
  */
object DedupOps {

  private val Perms = 32
  private[graft] val Bands = 8
  private[graft] val RowsPerBand = 4

  /** The random-hyperplane model of q_sim_lsh_topk (seeded → identical
    * across JVMs). */
  private[graft] val LshPlanes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** Max docs fully paired within one band bucket. Past the cap a
    * bucket degrades to star pairs against its representative (min
    * doc_id): connectivity for dedup survives (every overflow doc still
    * links to the component) while bucket cost drops from O(n²) to
    * O(n). Fixture buckets are far below the cap, so normal corpora are
    * unaffected (DedupSpec proves both properties). */
  private val BucketCap = 64

  /** doc_id → MinHash signature over 3-word shingles, via the native
    * one-pass kernel (functions.GramSketch). The earlier composed
    * higher-order-function pipeline was correct but fragile: optimizer
    * inlining (filter pushdown, Generate collapse) re-evaluates
    * interpreted HOF aliases per lambda element, turning the linear
    * sketch quadratic (measured 0.2 s → 6-200 s at sf0.1 depending on
    * consumer shape — see GramSketch's scaladoc). n_shingles counts
    * DISTINCT shingles, mirroring the expression form. */
  private def signatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(graft.functions.GramHashes(s, col("text"), 3))
          .cast("long").as("n_shingles"),
        graft.functions.MinHashSig(s, col("text"), 3, Perms).as("sig"))

  /** Permutations exposed by q_dedup_minhash's portable signature (the
    * oracle mirrors each one as its own min-aggregate, so keep it small;
    * the 32-perm production banding family is exercised by q_dedup_near). */
  private val PortablePerms = 4

  /** B33a: per-document MinHash signatures under the dialect-portable
    * family (functions.GramSketch.minhashPortable): gram hash = the
    * (h·31 + codepoint) mod 1e9+7 polynomial over the 3-token shingle,
    * permutations (A(s)·g + B(s)) mod 1e9+7 — every step exact BIGINT
    * in DuckDB too, so the oracle reproduces the signatures BIT-EXACTLY
    * (r11: this flipped q_dedup_minhash from spec-only to
    * oracle-checked). The banding pipeline (q_dedup_near) keeps the
    * stronger 64-bit XXH64 family, validated by DedupSpec's
    * recall/precision floors; this query pins the minhash SEMANTICS
    * (min over gram permutations) cross-engine. Narrow one-pass
    * projection — scan-speed at 100 TB. */
  val dedupMinhashSig: Q = Q(
    "q_dedup_minhash",
    (s, d) => {
      val sig = graft.functions.MinHashPortable(
        s, col("text"), 3, PortablePerms)
      Tables.documents(s, d)
        .select(col("doc_id"), sig.as("sig"))
        .where(element_at(col("sig"), 1) > 0) // < 3 tokens: no grams
        .select(
          col("doc_id"),
          element_at(col("sig"), 1).as("n_grams"),
          element_at(col("sig"), 2).as("mh0"),
          element_at(col("sig"), 3).as("mh1"),
          element_at(col("sig"), 4).as("mh2"),
          element_at(col("sig"), 5).as("mh3"))
        .orderBy("doc_id")
    },
    Some {
      val P = graft.functions.GramSketch.PortableP
      val mins = (0 until PortablePerms).map { s =>
        val a = graft.functions.GramSketch.portableA(s)
        val b = graft.functions.GramSketch.portableB(s)
        s"min((g * $a + $b) % $P) AS mh$s"
      }.mkString(",\n        ")
      s"""WITH toks AS (
      SELECT doc_id,
        list_filter(string_split(lower(text), ' '), t -> t != '') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, len(t) - 2),
        i -> array_to_string(t[i : i + 2], ' '))) AS gram
      FROM toks WHERE len(t) >= 3),
    gh AS (
      SELECT doc_id, list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(gram) + 1),
            i -> CAST(ord(substr(gram, i, 1)) AS BIGINT))),
        (h, c) -> (h * 31 + c) % $P) AS g
      FROM grams)
    SELECT doc_id, count(DISTINCT g) AS n_grams,
        $mins
    FROM gh GROUP BY doc_id ORDER BY doc_id"""
    })

  /** B33b: banded-LSH candidate pairs with estimated Jaccard ≥ 0.5.
    * Candidates come only from band-key collisions (the scale path);
    * signature agreement estimates the true shingle Jaccard. */
  val dedupMinhashPairs: Q = Q(
    "q_dedup_near",
    (s, d) => {
      // Bucket-collect shape: signatures are computed exactly ONCE (a
      // self-join would recompute the 32-hash sketch per plan branch);
      // docs group by band key, pairs generate inside each bucket, and
      // only colliding docs ever pair. Measured ~2× faster than the
      // rejoin shape at sf0.1. Docs with no shingles (< 3 tokens) would
      // all carry identical all-null signatures → identical band keys →
      // one quadratic mega-bucket; they can't be near-dups by this
      // measure, so drop them before banding (SCALE.md cliff #1a).
      val banded = signatures(s, d).where(col("n_shingles") > 0)
        .select(col("doc_id"), col("sig"),
          posexplode(TextHash.bandKeys(col("sig"), Bands, RowsPerBand))
            .as(Seq("band_idx", "band_key")))
      // Bucket-size cap (SCALE.md cliff #1b): a pathological corpus (all
      // docs identical) collapses every band into one bucket, and an
      // uncapped all-pairs expansion there is O(n²). Sort the bucket
      // (deterministic head), all-pairs only the first BucketCap docs,
      // and star-pair every overflow doc against the bucket minimum —
      // overflow docs keep their link into the duplicate component at
      // linear cost.
      val buckets = banded.groupBy(col("band_idx"), col("band_key"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("sig"))))
          .as("docs"))
        .where(size(col("docs")) > 1)
        .withColumn("head", slice(col("docs"), 1, BucketCap))
      val headPairs =
        flatten(transform(sequence(lit(1), size(col("head")) - 1),
          i => transform(slice(col("head"), i + 1, size(col("head"))),
            x => struct(element_at(col("head"), i).as("a"), x.as("b")))))
      val starPairs = transform(
        slice(col("docs"), lit(BucketCap + 1),
          greatest(size(col("docs")) - BucketCap, lit(0))),
        x => struct(element_at(col("docs"), 1).as("a"), x.as("b")))
      val pairs = buckets.select(
        explode(concat(headPairs, starPairs)).as("p"))
      pairs.select(
          least(col("p.a.doc_id"), col("p.b.doc_id")).as("a_id"),
          greatest(col("p.a.doc_id"), col("p.b.doc_id")).as("b_id"),
          TextHash.estJaccard(col("p.a.sig"), col("p.b.sig"), Perms)
            .as("est"))
        .where(col("a_id") =!= col("b_id") && col("est") >= 0.5)
        .groupBy(col("a_id"), col("b_id"))
        .agg(max(col("est")).as("est_jaccard"))
        .orderBy("a_id", "b_id")
    },
    None)

  // Portable SimHash geometry: 60 bits (sign bit untouched in both
  // engines), split into 4 blocks of 15 bits for the Manku-style
  // hamming-ball candidate join — any pair within hamming distance 3
  // agrees exactly on at least one block (pigeonhole: 3 flipped bits
  // touch at most 3 of the 4 blocks).
  private val SimBits = 60
  private val SimBlocks = 4
  private val SimBlockBits = SimBits / SimBlocks
  private val SimHamT = SimBlocks - 1

  /** The text has a token ([[TextHash.tokens]] is non-empty): it splits
    * on ' ' and drops empty strings, so a token exists exactly when the
    * text has a character other than ' ', which `trim` alone strips.
    * NULL text drops. A generated-code predicate, so the filter neither
    * interprets a higher-order function nor tokenizes a second time. */
  private[graft] def hasToken(text: Column): Column = trim(text) =!= ""

  /** Mandated EXT: SimHash fingerprints — tf-weighted bit-majority
    * sketch over token hashes; near-dups differ in few bits (DedupSpec
    * asserts the hamming properties).
    *
    * One-pass native kernel (functions.SimHashPortable): the composed
    * form shuffles the corpus at TOKEN granularity twice (explode →
    * groupBy(doc,token) → per-bit conditional-sum aggregates) — at
    * 100 TB that moves ~100× the corpus through two shuffles to produce
    * one long per doc. The kernel is a narrow scan-speed projection,
    * bit-identical to the composed form (DedupSpec proves it). The
    * token-less-doc filter preserves the explode-form output surface.
    *
    * r11 flip to oracle-checked: the hyperplane family is per-bit
    * affine permutations of the portable polynomial token hash — every
    * step exact BIGINT arithmetic DuckDB reproduces, so the
    * fingerprints (not just their properties) are verified
    * cross-engine, the same move `minhash_portable` made for
    * q_dedup_minhash. */
  val dedupSimhash: Q = Q(
    "q_dedup_simhash",
    (s, d) =>
      Tables.documents(s, d)
        .where(hasToken(col("text")))
        .select(col("doc_id"),
          graft.functions.SimHashPortable(s, col("text"), SimBits)
            .as("simhash"))
        .orderBy("doc_id"),
    Some(s"$simhashOracleCtes\n    SELECT doc_id, simhash FROM sh ORDER BY doc_id"))

  /** EXT: SimHash near-dup PAIRS via the Manku block-LSH shape (Manku,
    * Jain & Sarma, WWW'07 §3): each fingerprint's [[SimBlocks]] block
    * values are its bucket keys, and pairs within hamming distance
    * [[SimHamT]] are kept. The block split makes recall EXACT at this
    * threshold (pigeonhole above), while only block-collision candidates
    * are ever scored — never the doc×doc cross product. Candidate volume
    * per block value is |bucket|²; 15-bit blocks give 32k buckets per
    * index, and the hot-bucket overflow pattern of q_dedup_near
    * (BucketCap + star pairs) is the documented escalation if a
    * degenerate corpus (millions of identical docs) concentrates one
    * value — exact dedup upstream removes exactly that mass. */
  val dedupSimhashPairs: Q = Q(
    "q_dedup_simhash_pairs",
    (s, d) => simhashPairs(Tables.documents(s, d)
      .where(hasToken(col("text")))
      .select(col("doc_id"),
        graft.functions.SimHashPortable(s, col("text"), SimBits)
          .as("simhash"))),
    Some(s"""$simhashOracleCtes,
    blocks AS (
      SELECT doc_id, simhash, bl AS block_idx,
        (simhash >> (bl * $SimBlockBits)) & ${(1L << SimBlockBits) - 1}
          AS block_val
      FROM sh CROSS JOIN (SELECT unnest(range($SimBlocks)) AS bl) bs)
    SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
      CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
    FROM blocks x JOIN blocks y
      ON x.block_idx = y.block_idx AND x.block_val = y.block_val
    WHERE x.doc_id < y.doc_id
      AND bit_count(xor(x.simhash, y.simhash)) <= $SimHamT
    ORDER BY a_id, b_id"""))

  /** (doc_id, simhash) rows → (a_id < b_id, hamming ≤ [[SimHamT]]) pairs,
    * each once: a complete pairing of every block bucket
    * ([[BucketPairs]]). A NULL simhash pairs with nothing. */
  private[graft] def simhashPairs(sh: DataFrame): DataFrame =
    BucketPairs(sh, col("doc_id"),
      array((0 until SimBlocks).map(i =>
        shiftrightunsigned(col("simhash"), i * SimBlockBits)
          .bitwiseAND(lit((1L << SimBlockBits) - 1))): _*),
      col("simhash"), BucketPairs.Complete, BucketPairs.Hamming(SimHamT))
      .select(col("a_id"), col("b_id"), col("score").as("hamming"))
      .orderBy("a_id", "b_id")

  /** Shared oracle CTEs: per-doc portable SimHash, bit-exact vs the
    * kernel (GramSketch.simhashPortable — same token split, same
    * polynomial, same per-bit affine hyperplane signs, same `vote > 0`
    * rule; per-instance ±1 votes equal the kernel's tf-merged loop
    * because votes are linear in tf). */
  private def simhashOracleCtes: String = {
    val p = graft.functions.GramSketch.PortableP
    s"""WITH toks AS (
      SELECT doc_id,
        unnest(list_filter(string_split(lower(text), ' '), t -> t != ''))
          AS tok
      FROM documents),
    th AS (
      SELECT doc_id, list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(tok) + 1),
            i -> CAST(ord(substr(tok, i, 1)) AS BIGINT))),
        (h, c) -> (h * 31 + c) % $p) AS g
      FROM toks),
    votes AS (
      SELECT doc_id, b,
        sum(CASE WHEN ((g * ((2654435769 * (2 * b + 1)) % $p)
            + ((2246822507 * (b + 1)) % $p)) % $p) * 2 >= $p
          THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(range($SimBits)) AS b) bits
      GROUP BY doc_id, b),
    sh AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
          ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id)"""
  }

  /** Mandated EXT: exact n-gram (token 5-gram — see ngramGrams) Jaccard
    * near-dup pairs, blocked by source. Fully SQL-expressible →
    * oracle-checked. The explode+equi-join computes |A∩B| without ever
    * building the cross product of documents. */
  /** Docs per source block above which the ngram dedup abandons the
    * |block|² pairwise shape for the prefix-filtered candidate join
    * (SCALE.md cliff #2). Fixture blocks (25–250 docs) stay pairwise.
    * Both shapes are EXACT, so this cap picks a physical plan, never
    * the answer — unlike the r5 df-capped path, whose pruning lost
    * pairs at sf1 (measured: 82k of 1.1M qualifying pairs survived). */
  private[graft] val NgramBlockCap = 512

  /** Near-dup Jaccard threshold — the published LLM-corpus standard
    * (0.8 n-gram Jaccard: Rae et al. 2021 "Gopher" appendix A.1.2;
    * SlimPajama; Lee et al. 2022). The r5 value (0.05) made the query
    * a pair DUMP, not a dedup: output grew ~quadratically with the
    * corpus (1.1M pairs at sf1) and no exact candidate generator can
    * beat output size. At 0.8 the output is ∝ true near-dups (linear
    * in the corpus) and the prefix filter prunes hard. */
  private[graft] val NgramJaccardT = 0.8

  /** Containment threshold (Broder's "roughly contained": |A∩B|/min —
    * the quote-detection direction jaccard dilutes). 0.8 for the same
    * output-linearity reason as [[NgramJaccardT]]. */
  private[graft] val NgramContainT = 0.8

  /** (doc_id, source, bg): each doc's distinct token 5-GRAMS, 64-bit
    * hashed and sorted (the merge-count input shape), via the native
    * one-pass kernel — the gram string is never built (same |A∩B|
    * counts modulo 64-bit collisions, which the hashed-gram design
    * already accepts).
    *
    * GRAM ORDER IS THE SCALE KNOB (SCALE.md cliff 9): gram-space size
    * V^w is what makes the Bayardo/PPJoin prefix filter BITE — every
    * candidate generator here fans out with per-source gram df, and
    * df ≈ |block|·len/V^w grows linearly with the block once the gram
    * space saturates. Measured escalation on this ~31-word-vocabulary
    * corpus: bigrams (V²≈1k) died at sf5 (138 s at t=0.8, disk-dead at
    * t=0.4); trigrams (V³≈30k, the r7 first fix) died at sf20 — 1M
    * docs, 200k/block, avg df ≈ 350, candidates ∝ n²/V³ spilled >70 GB
    * and took the disk down. 5-grams (V⁵≈29M) keep df at 1-3 up to
    * ~10M docs/source — candidates track true co-occurrence (output-
    * bound), the property that must hold at 100 TB. Published dedup
    * uses the same lever harder still (Broder'97 resemblance: w=10
    * shingles; Gopher/SlimPajama: 13-gram Jaccard); w=5 rather than 10+
    * because qualifying near-dup pairs among the fixture's SHORT docs
    * (p10 = 21 tokens) must keep scoring above t — an L-token doc with
    * one edited token loses w grams of its L−w+1, so w ≪ L·(1−t) is
    * the constraint. Near-identical documents score ≈ the same under
    * any small w (the one true sf0.01 pair: jaccard 0.9737 trigram vs
    * 0.9722 5-gram, containment 1.0 under both; qualifying pair sets
    * at sf0.01/sf0.1 are IDENTICAL under w=3 and w=5) — and the oracle
    * SQL mirrors 5-grams exactly. */
  private[graft] def ngramGrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        graft.functions.GramHashes(s, col("text"), 5).as("bg"))

  /** Exact score + threshold over candidate pairs carrying both gram
    * arrays: native merge-count over the sorted hashed grams — no
    * per-pair hash set (functions.SortedIntersectCount). */
  private def ngramScore(
      s: SparkSession, pairs: DataFrame, t: Double): DataFrame =
    pairs
      .select(col("source"), col("a_id"), col("b_id"),
        graft.functions.SortedIntersectCount(s, col("a_bg"), col("b_bg"))
          .as("n_common"),
        size(col("a_bg")).cast("long").as("na"),
        size(col("b_bg")).cast("long").as("nb"))
      .withColumn("jaccard", col("n_common").cast("double")
        / (col("na") + col("nb") - col("n_common")))
      .where(col("jaccard") >= t)
      .select("source", "a_id", "b_id", "n_common", "jaccard")

  /** Both candidate-generation shapes, split per source block by
    * `blockCap` (SCALE.md cliff #2) — BOTH EXACT for any score with
    * `n_common >= t·min(na, nb)` (containment by definition; jaccard
    * because J ≥ t forces min ≥ t·max, hence n_common ≥ t·max):
    *
    *  - bounded blocks: |block|² pairwise join — beats the exploded
    *    join at fixture block sizes (stopword-heavy grams make the
    *    per-gram join output quadratic) — measured 2× faster at sf0.1;
    *  - oversized blocks: PREFIX-FILTERED candidate join (Bayardo,
    *    Ma & Srikant 2007, "Scaling Up All Pairs Similarity Search").
    *    Rank each doc's df>1 grams rarest-first (within-source df,
    *    gram hash as tiebreak). A qualifying pair must share a gram
    *    among each side's first `n_shared − ceil(t·n) + 1` ranked
    *    grams: if it didn't, every shared gram would sit in the
    *    ceil(t·n)−1 ranked tail, so n_common ≤ ceil(t·n)−1 < t·n ≤
    *    n_common — contradiction. (Ranking only df>1 grams is sound:
    *    df=1 grams are shared with nobody, so dropping them from the
    *    ranking only moves shared grams EARLIER; a doc whose prefix
    *    length comes out ≤ 0 cannot be the smaller side of any
    *    qualifying pair.) Joining prefix grams against full postings
    *    therefore yields an exact candidate superset; the exact
    *    merge-count re-score keeps only true pairs.
    *
    * This replaces r5's df-capped generator whose documented
    * approximation (pairs whose every shared gram is ubiquitous)
    * silently lost 93% of qualifying pairs at sf1. Candidate cost now
    * follows RARE-gram co-occurrence: a gram with df d and p prefix
    * holders fans out p·d, and ubiquitous grams have p ≈ 0 because
    * they rank last. Worst case (a block of identical docs) is
    * output-sized — inherent to exact pair ENUMERATION; cluster-level
    * dedup at 100 TB belongs to minhash/components, not this query.
    *
    * Hashing shrinks the arrays the joins carry; a cross-gram collision
    * within one pair (~1e-13) is the accepted error. */
  /** @param symmetric true when the downstream score guarantees
    *   `n_common >= t·max(na, nb)` (Jaccard: J ≥ t forces min ≥ t·max),
    *   false when only `n_common >= t·min` holds (containment). Picks
    *   the candidate-join shape; both are exact for their score class. */
  /** @param probe diagnostic tap: called with (stage, frame) at each
    *   intermediate stage. The default no-op leaves the production plan
    *   byte-identical; `graft.Diag ngramstages` passes a counting probe to attribute
    *   candidate volume per stage across scale points. */
  private[graft] def ngramRawPairs(
      s: SparkSession, grams: DataFrame,
      blockCap: Int, t: Double, symmetric: Boolean,
      probe: (String, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // A doc shorter than the gram order has an EMPTY gram set: it can
    // never reach a positive threshold, and keeping it makes the score
    // 0/0. The oracle SQL mirrors this with `WHERE len(toks) >= 5` in
    // its gram CTE rather than relying on 0/0 semantics: DuckDB 1.0
    // returns NULL for 0/0 (NULL >= t excludes), but versions with
    // IEEE float division yield NaN, which DuckDB orders ABOVE all
    // values — NaN >= t would be TRUE and emit bogus pairs. The
    // explicit filter makes both engines exact by construction.
    val nonEmpty = grams.where(size(col("bg")) > 0)
    // Block sizes via a pruned aggregate + tiny broadcast join, NOT a
    // window over the gram-array rows: the window shape sorted every
    // row (arrays included) into |sources| partitions — a 20-task
    // bottleneck moving ~0.5 GB of arrays at sf20, and parallelism
    // capped by source cardinality is a genuine cluster-scale cliff.
    // The aggregate reads the pruned source-only scan (GramHashes is
    // never evaluated for it), and block_n counts ALL docs of the
    // source, short ones included — block_n only routes between two
    // EXACT physical paths, so any consistent per-source size is
    // correct.
    val blockSizes = grams.groupBy(col("source"))
      .agg(count(lit(1)).as("block_n"))
    val sized = nonEmpty.join(broadcast(blockSizes), Seq("source"))
    val small = sized.where(col("block_n") <= blockCap)
    val big = sized.where(col("block_n") > blockCap)

    // Pair expansion via the planner's own broadcast hash join (guide
    // §3.1), with NO hint — a deliberate, twice-measured choice (r18):
    //  - a MERGE hint (+ the withdrawn global 16k AQE floor) keyed the
    //    |block|² expansion on `source`, capping parallelism at source
    //    cardinality and taxing every other small exchange;
    //  - an explicit broadcast() was ~+1.2 s on q_dedup_ngram_jaccard
    //    (3.3–4.0 vs 2.1–2.2 s) with a BIT-IDENTICAL static plan: the
    //    hint makes the build eager and defeats the runtime reuse of
    //    the common `small` subtree that the unhinted plan gets.
    // Left alone, the planner broadcasts one side from estimates
    // (`small` is bounded by construction: ≤ blockCap rows per source,
    // source counts O(10s) — so that choice stays safe at any corpus
    // scale) and the expansion + per-pair intersect runs fused above
    // the probe's scan. Width pinning stays only where it pays:
    // [[fuzzyNamePairs]], whose levenshtein expansion is 10× heavier
    // per pair and whose sizing window needs the exchange anyway.
    val pairwise = small
      .select(col("source"), col("doc_id").as("a_id"), col("bg").as("a_bg"))
      .join(small.select(col("source"), col("doc_id").as("b_id"),
        col("bg").as("b_bg")), Seq("source"))
      .where(col("a_id") < col("b_id"))

    val g = big.select(col("source"), col("doc_id"),
      size(col("bg")).as("n"), explode(col("bg")).as("g"))
    probe("postings", g)
    // Per-gram df via ONE repartition + window count, not groupBy+join:
    // posting keys are mostly unique (5-gram space ≫ corpus), so the
    // grouped shape's map-side partial aggregate builds a hash map
    // nearly the size of its input split, falls back to sort-based
    // aggregation and spills — measured as the 8 GiB sf20 memory cliff
    // behind VERDICT r7's superlinear trend (19 s for the aggregate
    // alone; 11 s given 32 GiB). This shape moves the same 30-byte
    // rows through one exchange — no explicit partition count, so AQE
    // splits it at scale and coalesces it when small — and the
    // window's in-partition sort is a spillable linear pass. The df>1
    // postings join (a second 53M-row shuffle at sf20) disappears:
    // the window leaves df on every posting row.
    val withDf = g.repartition(col("source"), col("g"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("source"), col("g"))))
    val sharedBase = withDf.where(col("df") > 1)
    // The containment path consumes `shared` TWICE — once under the
    // ranked-prefix chain and once directly as the join's postings
    // probe — and without an exchange separating the consumers the
    // full postings machinery (explode + repartition + window over
    // 107M rows at sf40) recomputes PER CONSUMER: `graft.Diag ngramstages` measured the
    // probed join stage at ≈ 2× the shared-chain cost, and the full
    // query scaled 3.0× on the 2× sf20→sf40 step while jaccard (one
    // consumer) scaled 2.0×. A post-filter repartition on
    // (source, doc_id) — deliberately the ranked windows' OWN required
    // distribution, so EnsureRequirements adds no second exchange
    // above it and the optimizer cannot drop it as redundant — makes
    // both consumers read the SAME exchange: the machinery runs once,
    // and the hop moves only the df>1 sliver. The symmetric path has a
    // single consumer — no reuse to buy — so it skips the hop.
    val shared =
      if (symmetric) sharedBase
      else sharedBase.repartition(col("source"), col("doc_id"))
    probe("shared_rows", shared)
    val perDoc = Window.partitionBy(col("source"), col("doc_id"))
    val ranked = shared
      .withColumn("rn", row_number()
        .over(perDoc.orderBy(col("df"), col("g"))))
      .withColumn("n_shared", count(lit(1)).over(perDoc))
    // Tail bound ceil(t·n)−1 must stay BELOW every qualifying n_common.
    // The double literal 0.8 sits just above the rational 4/5, so t·n
    // overshoots integer boundaries (0.8·5 = 4.0000000000000002 →
    // ceil 5 → tail 4), and a boundary pair that the final double
    // compare admits (c=4, na=4, nb=5: 4/5 rounds to exactly the 0.8
    // double) would slip into the tail. ceil(t·n − 1e-9) lands on the
    // REAL product's ceiling at such boundaries; away from them the
    // epsilon only lengthens the prefix by ≤1 gram — lengthening never
    // loses candidates. (1e-9 ≫ the ~1e-13 double error of t·n at
    // these magnitudes, and ≪ the 1/n gap to the next integer for any
    // real document's gram count.)
    val prefix = ranked.where(col("rn") <=
      col("n_shared") - ceil(lit(t) * col("n") - lit(1e-9)) + lit(1))
    val cand = if (symmetric) {
      // PPJoin prefix×prefix (Xiao et al. 2008): rank by a GLOBAL
      // total order (df, g), so the globally-smallest common gram g*
      // of a qualifying pair must appear in BOTH prefixes — if it sat
      // below either side's prefix, that side's ≥ t·n common grams
      // would all rank in its ceil(t·n)−1 tail (every common gram
      // ranks at or after the smallest one). Joining prefix against
      // prefix fans out p² per gram instead of prefix×postings' p·df —
      // the df factor is exactly the stopword-gram cost this path
      // exists to avoid (sf1: 41 s → prefix×prefix + size filter).
      //
      // Two further PPJoin refinements, both exact (sf1/t=0.4 measured
      // 27.2M candidates feeding a 34 s array-carrying re-score for 54
      // true pairs before them):
      //
      //  - MID-PREFIX on the smaller side: for a pair with n_s ≤ n_l,
      //    the required overlap α = ceil(t/(1+t)·(n_l+n_s)) ≥
      //    ceil(2t/(1+t)·n_s), so if every common gram sat beyond the
      //    smaller side's first n_shared − ceil(2t/(1+t)·n) + 1 ranked
      //    grams, c ≤ ceil(2t/(1+t)·n_s) − 1 < α — contradiction. The
      //    smaller side therefore only needs the SHORTER mid-prefix
      //    (t=0.4: 0.43·n vs 0.57·n), cutting the per-gram fan-out to
      //    p_long·p_mid. The larger side still needs the full Bayardo
      //    prefix (its binding partner is the t·n_l-sized one).
      //
      //  - POSITIONAL FILTER, applied PER MATCH ROW map-side, before
      //    the dedup shuffle: every common gram of a pair ranks ≥
      //    rn(g*) on BOTH sides (g* = the globally-(df,g)-minimal
      //    common gram), so c ≤ min(l_ns − l_rn*, s_ns − s_rn*) + 1.
      //    That bound is only valid AT g*, but it can still be tested
      //    on every matched row: a matched gram g ranks at-or-after
      //    g* on both sides, so its row bound min(l_ns − l_rn, s_ns −
      //    s_rn) + 1 is ≤ the g* bound. If the g* bound misses α =
      //    ceil(t/(1+t)·(n_l+n_s)), EVERY row of that pair misses α
      //    (their bounds are smaller still) and the pair vanishes
      //    entirely; if it reaches α, the g* row itself survives (the
      //    prefix-filter theorem puts g* in both prefixes, so its row
      //    exists) and keeps the pair alive. The filter therefore
      //    prunes exactly the pairs whose maximum possible overlap
      //    cannot reach α — the shared-one-stopword-prefix-gram mass
      //    (sf1/t=0.4: 99th-pctile candidate jaccard measured 0.06) —
      //    before the distinct() shuffle and the array-carrying
      //    re-score join. ceil(x − 1e-9) for the same boundary reason
      //    as the prefix bound above: the computed α must never
      //    exceed the real one.
      //
      // The size filter s_n ≥ t·l_n uses the SAME division the scorer
      // applies at n_common = min (where na+nb−c = max), so it keeps a
      // pair iff the pair's maximum possible score passes — exact.
      val midPrefix = ranked.where(col("rn") <=
        col("n_shared") - ceil(lit(2 * t / (1 + t)) * col("n") - lit(1e-9))
          + lit(1))
      val long = prefix.select(col("source"), col("g"),
        col("doc_id").as("l_id"), col("n").as("l_n"),
        col("rn").as("l_rn"), col("n_shared").as("l_ns"))
      val mid = midPrefix.select(col("source"), col("g"),
        col("doc_id").as("s_id"), col("n").as("s_n"),
        col("rn").as("s_rn"), col("n_shared").as("s_ns"))
      probe("sym_prefix_rows", long)
      probe("sym_mid_rows", mid)
      val joined = long.join(mid, Seq("source", "g"))
        .where(col("l_n") > col("s_n")
          || (col("l_n") === col("s_n") && col("l_id") < col("s_id")))
      probe("sym_join_rows", joined)
      val sizeOk = joined
        .where(col("s_n").cast("double") / col("l_n").cast("double")
          >= lit(t))
      probe("sym_size_rows", sizeOk)
      val posOk = sizeOk
        .where(least(col("l_ns") - col("l_rn"),
          col("s_ns") - col("s_rn")) + lit(1) >=
          ceil(lit(t / (1 + t)) * (col("l_n") + col("s_n")) - lit(1e-9)))
      probe("sym_pos_rows", posOk)
      val c = posOk
        .select(col("source"), least(col("l_id"), col("s_id")).as("a_id"),
          greatest(col("l_id"), col("s_id")).as("b_id"))
        .distinct()
      probe("sym_cand", c)
      c
    } else {
      // Containment guarantees n_common ≥ t·n only on the SMALLER
      // side, so its prefix must probe FULL postings (the larger side
      // may bury every shared gram in its tail). Requiring the prefix
      // side to be the ≤-size side halves the probe space and is
      // exact: the min side's prefix always carries a shared gram.
      // No positional filter here, deliberately: with α = ceil(t·p_n)
      // the p-side row bound p_ns − p_rn + 1 ≥ α is EXACTLY the
      // prefix-membership condition (rn ≤ ns − ceil(t·n) + 1), so it
      // prunes nothing the prefix hasn't, and an o-side rank term
      // would require joining `ranked` (a second row_number window
      // over the full postings) instead of the window-free `shared` —
      // measured at sf1 that window cost a 31.9 → 46.7 s containment
      // regression for near-zero extra pruning (the o side is the
      // larger doc with its FULL postings in play, so its tail slack
      // almost never binds). The symmetric path's filter earns its
      // keep only because its α = ceil(t/(1+t)·(l_n+s_n)) is strictly
      // tighter than either side's prefix bound.
      val joined = prefix.select(col("source"), col("g"),
          col("doc_id").as("p_id"), col("n").as("p_n"))
        .join(shared.select(col("source"), col("g"),
          col("doc_id").as("o_id"), col("n").as("o_n")), Seq("source", "g"))
        .where(col("p_id") =!= col("o_id") && (col("p_n") < col("o_n")
          || (col("p_n") === col("o_n") && col("p_id") < col("o_id"))))
      probe("con_join_rows", joined)
      val c = joined
        .select(col("source"), least(col("p_id"), col("o_id")).as("a_id"),
          greatest(col("p_id"), col("o_id")).as("b_id"))
        .distinct()
      probe("con_cand", c)
      c
    }
    // ONE postings pass for BOTH gram arrays: melt each candidate pair
    // into its two doc lookups, join `big` once, regroup the
    // output-sized melt into (a_bg, b_bg). The previous shape ran two
    // joins, and each re-evaluated GramHashes over the FULL corpus —
    // the array projection can't be pruned for non-matching rows, so
    // the per-pair key join cost two end-to-end gram passes. Each
    // group has exactly two rows (a_id < b_id), so the ignoreNulls
    // first() per side is deterministic.
    val exploded = cand
      .select(col("source"), col("a_id"), col("b_id"),
        explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .join(big.select(col("source"), col("doc_id"), col("bg")),
        Seq("source", "doc_id"))
      .groupBy(col("source"), col("a_id"), col("b_id"))
      .agg(
        first(when(col("doc_id") === col("a_id"), col("bg")),
          ignoreNulls = true).as("a_bg"),
        first(when(col("doc_id") === col("b_id"), col("bg")),
          ignoreNulls = true).as("b_bg"))

    pairwise.select("source", "a_id", "b_id", "a_bg", "b_bg")
      .unionByName(exploded.select("source", "a_id", "b_id", "a_bg", "b_bg"))
  }

  private[graft] def ngramPairs(
      s: SparkSession, grams: DataFrame,
      blockCap: Int, t: Double = NgramJaccardT): DataFrame =
    ngramScore(s, ngramRawPairs(s, grams, blockCap, t, symmetric = true), t)

  val dedupNgramJaccard: Q = Q(
    "q_dedup_ngram_jaccard",
    (s, d) =>
      ngramPairs(s, ngramGrams(s, d), NgramBlockCap, NgramJaccardT)
        .orderBy("source", "a_id", "b_id"),
    Some("""WITH t AS (
      SELECT doc_id, source,
        list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, source,
        list_distinct(list_transform(
          generate_series(1, len(toks) - 4),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            || ' ' || toks[i+3] || ' ' || toks[i+4]))
          AS bg
      FROM t WHERE len(toks) >= 5),
    g AS (
      SELECT doc_id, source, len(bg) AS n, unnest(bg) AS gram FROM d),
    pairs AS (
      -- Exploded gram equi-join, not the quadratic per-source block
      -- join: a pair with zero common grams scores 0 < t, so grouping
      -- gram matches enumerates every qualifying pair exactly (bg is
      -- distinct within a doc, so count(*) IS |A∩B|). The block form
      -- is O(|block|²) list intersects — DuckDB-intractable past
      -- sf0.1 — while this form's join output is Σ df² over grams.
      SELECT a.source AS source, a.doc_id AS a_id, b.doc_id AS b_id,
        count(*) AS n_common,
        any_value(a.n) AS na, any_value(b.n) AS nb
      FROM g a JOIN g b
        ON a.source = b.source AND a.gram = b.gram
          AND a.doc_id < b.doc_id
      GROUP BY a.source, a.doc_id, b.doc_id)
    SELECT source, a_id, b_id, n_common,
      CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.8
    ORDER BY source, a_id, b_id"""))

  /** EXT (r8 verdict gap #1): GLOBAL — cross-source — exact 5-gram
    * Jaccard near-dup pairs. Every other ngram query blocks on
    * `source` (an engine choice inherited from the per-unit reference
    * scripts), so the highest-value dup class of a real crawl corpus —
    * the same document syndicated across domains — is invisible to
    * them. This query runs the SAME exact machinery with ONE corpus-
    * wide block: the blocking column becomes a constant, so gram df is
    * GLOBAL df and candidates are free to cross sources.
    *
    * Why a constant block key cannot go quadratic: `blockCap` routes
    * any block bigger than 512 docs through the prefix-filtered
    * postings path, whose cost follows rare-gram CO-OCCURRENCE
    * (prefix×prefix join on df-ranked grams), never |block|² — the
    * corpus-as-one-block shape is exactly what that path was measured
    * linear on through sf40 (SCALE.md). A partitioned blocking key
    * (length band, gram-df band) would only shrink the join's key
    * space, and any non-overlapping choice LOSES boundary pairs — with
    * the prefix filter already bounding the fan-out there is nothing
    * to buy for the lost exactness.
    *
    * Known straggler bound (not a cliff), stated honestly: the df pass
    * repartitions postings on (const, gram), so a GLOBALLY ubiquitous
    * 5-gram's postings land in one partition and its window count is
    * one task's spillable linear sort — per-source mode bounds that by
    * the block, global mode by the hottest gram's global df. The JOIN
    * stays safe regardless (ubiquitous grams rank last and never enter
    * a prefix, p ≈ 0), so the hot gram costs one wide-but-linear sort
    * task, not pair fan-out. The alternative (salted two-phase count +
    * join-back) re-introduces the r7 near-unique-key hash-agg memory
    * cliff for every NORMAL gram to shave the rare hot one — the wrong
    * trade at this fixture and a documented knob if a real corpus's
    * gram df distribution says otherwise.
    *
    * Output carries each side's source (the cross-source pairs are the
    * point); the two source lookups join the output-bound pair set
    * against a 2-column pruned scan. No hint, deliberately: the
    * optimizer broadcasts whichever side its stats call small (the
    * doc→source map at fixture scale; at 100 TB the stats flip and
    * AQE broadcasts the pair side or falls back to an SMJ whose big
    * side is a 2-column projection) — a forced broadcast(pairs) would
    * be the Similarity-gate mistake: output-bound ≠ provably small on
    * a duplicate-heavy corpus. */
  val dedupNgramGlobal: Q = Q(
    "q_dedup_ngram_global",
    (s, d) => {
      val grams = ngramGrams(s, d).withColumn("source", lit("__corpus"))
      val pairs = ngramPairs(s, grams, NgramBlockCap, NgramJaccardT)
        .drop("source")
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a_id"),
          col("source").as("a_source")), Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"),
          col("source").as("b_source")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("a_source"), col("b_source"),
          col("n_common"), col("jaccard"))
        .orderBy("a_id", "b_id")
    },
    Some("""WITH t AS (
      SELECT doc_id, source,
        list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, source,
        list_distinct(list_transform(
          generate_series(1, len(toks) - 4),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            || ' ' || toks[i+3] || ' ' || toks[i+4]))
          AS bg
      FROM t WHERE len(toks) >= 5),
    g AS (
      SELECT doc_id, len(bg) AS n, unnest(bg) AS gram FROM d),
    pairs AS (
      -- Global exploded gram equi-join: same tractable form as the
      -- per-source oracle, minus the source equality — join output is
      -- sum of GLOBAL df^2 over grams, fine at 5-gram df 1-3.
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        count(*) AS n_common,
        any_value(a.n) AS na, any_value(b.n) AS nb
      FROM g a JOIN g b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT p.a_id, p.b_id,
      sa.source AS a_source, sb.source AS b_source, p.n_common,
      CAST(p.n_common AS DOUBLE) / (p.na + p.nb - p.n_common) AS jaccard
    FROM pairs p
    JOIN documents sa ON sa.doc_id = p.a_id
    JOIN documents sb ON sb.doc_id = p.b_id
    WHERE CAST(p.n_common AS DOUBLE) / (p.na + p.nb - p.n_common) >= 0.8
    ORDER BY p.a_id, p.b_id"""))

  /** EXT (companion to [[dedupNgramGlobal]]): GLOBAL cross-source
    * n-gram CONTAINMENT — |A∩B| / min. The quote-detection direction
    * crosses sources even more often than whole-document syndication
    * (a paragraph quoted on another domain), so the per-source block
    * of q_dedup_containment hides exactly the pairs this measure
    * exists for. Same constant-block routing as the global Jaccard:
    * blockCap sends the corpus-wide "block" through the asymmetric
    * prefix→postings path (min side's prefix probes full postings),
    * cost follows global rare-gram co-occurrence. */
  val dedupContainGlobal: Q = Q(
    "q_dedup_contain_global",
    (s, d) => {
      val grams = ngramGrams(s, d).withColumn("source", lit("__corpus"))
      val pairs = ngramRawPairs(s, grams, NgramBlockCap, NgramContainT,
          symmetric = false)
        .select(col("a_id"), col("b_id"),
          graft.functions.SortedIntersectCount(s, col("a_bg"), col("b_bg"))
            .as("n_common"),
          size(col("a_bg")).cast("long").as("na"),
          size(col("b_bg")).cast("long").as("nb"))
        .withColumn("containment",
          col("n_common").cast("double") / least(col("na"), col("nb")))
        .where(col("containment") >= NgramContainT)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a_id"),
          col("source").as("a_source")), Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"),
          col("source").as("b_source")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("a_source"), col("b_source"),
          col("n_common"), col("containment"))
        .orderBy("a_id", "b_id")
    },
    Some("""WITH t AS (
      SELECT doc_id, source,
        list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, source,
        list_distinct(list_transform(
          generate_series(1, len(toks) - 4),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            || ' ' || toks[i+3] || ' ' || toks[i+4]))
          AS bg
      FROM t WHERE len(toks) >= 5),
    g AS (
      SELECT doc_id, len(bg) AS n, unnest(bg) AS gram FROM d),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        count(*) AS n_common,
        any_value(a.n) AS na, any_value(b.n) AS nb
      FROM g a JOIN g b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT p.a_id, p.b_id,
      sa.source AS a_source, sb.source AS b_source, p.n_common,
      CAST(p.n_common AS DOUBLE) / least(p.na, p.nb) AS containment
    FROM pairs p
    JOIN documents sa ON sa.doc_id = p.a_id
    JOIN documents sb ON sb.doc_id = p.b_id
    WHERE CAST(p.n_common AS DOUBLE) / least(p.na, p.nb) >= 0.8
    ORDER BY p.a_id, p.b_id"""))

  /** Mandated EXT: LSH-bucketed approximate nearest neighbors — random
    * hyperplane signatures (seeded, compile-time deterministic), 4-bit
    * band buckets, exact cosine re-rank of candidates only. The 100 TB
    * path for q_sim_topk_cosine: probes meet the corpus only inside a
    * shared band bucket, never cross-joining. DedupSpec checks
    * candidates against the brute-force ranking. */
  val simLshTopk: Q = Q(
    "q_sim_lsh_topk",
    (s, d) => lshTopk(Tables.embeddings(s, d)),
    // The full LSH pipeline is declared semantics, mirrored bit-exactly
    // (same trick as q_dedup_embedding): plane literals round-trip
    // through shortest-repr doubles, each signature bit is a sign test
    // on a bit-identical fold, candidates come only from band
    // collisions, and the exact cosine re-rank + (cos DESC, cand_id)
    // tie-break make the top-5 deterministic in both engines.
    Some {
      import graft.functions.Vectors
      val bands = (0 until 4).map(b =>
        s"(${Vectors.sqlBandVal(LshPlanes, b, 4, "embedding")}) AS band_$b")
        .mkString(",\n        ")
      val collide = (0 until 4).map(b => s"p.band_$b = c.band_$b")
        .mkString(" OR ")
      s"""WITH sig AS (
      SELECT vec_id, embedding,
        $bands
      FROM embeddings),
    cand AS (
      SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id,
        ${Vectors.sqlCosine("p.embedding", "c.embedding")} AS cos
      FROM sig p JOIN sig c
        ON c.vec_id != p.vec_id AND ($collide)
      WHERE p.vec_id % 100 = 0 AND p.vec_id < 20000),
    ranked AS (
      SELECT probe_id, cand_id, cos,
        CAST(row_number() OVER (PARTITION BY probe_id
          ORDER BY cos DESC, cand_id ASC) AS BIGINT) AS k
      FROM cand)
    SELECT probe_id, k, cand_id, cos
    FROM ranked WHERE k <= 5 ORDER BY probe_id, k"""
    })

  /** (vec_id, embedding) rows → each probe's top 5 candidates by
    * (cos DESC NULLS LAST, cand_id). Probes are a BOUNDED set — a top-k
    * serving benchmark's probe count is a property of the workload, not
    * the corpus: the id ceiling caps them at ≤200 at any scale, so the
    * query stays linear in the corpus (each probe touches its 4 buckets,
    * buckets ∝ n/16). Candidates are the members of a probe's band
    * buckets ([[BucketPairs.Probes]]), scored beside the probe; a NULL
    * signature (ragged or null-element vector) joins no bucket. */
  private[graft] def lshTopk(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    // one-pass native kernel: all 16 plane dots over one read of the
    // vector, bit-identical to the composed 16× Vectors.dot form
    val sig = e.select(col("vec_id"), col("embedding"),
      graft.functions.HyperplaneSig(s, col("embedding"), LshPlanes).as("sig"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    BucketPairs(sig, col("vec_id"),
      array((0 until 4).map(b =>
        shiftright(col("sig"), b * 4).bitwiseAND(15)): _*),
      col("embedding"), BucketPairs.Probes, BucketPairs.Cosine(None),
      probe = col("vec_id") % 100 === 0 && col("vec_id") < 20000)
      .select(col("a_id").as("probe_id"), col("b_id").as("cand_id"),
        col("score").as("cos"))
      .withColumn("k", row_number().over(w).cast("long"))
      .where(col("k") <= 5)
      .select("probe_id", "k", "cand_id", "cos")
      .orderBy("probe_id", "k")
  }

  /** Blocks-per-prefix ceiling for the fuzzy-name pairwise path. The
    * 16-char prefix block was FIXTURE-COUPLED (r8 verdict): on
    * `Customer#`+9-digit names every block is exactly 100 rows, so the
    * |block|² self-join is benign — but on real name data a hot prefix
    * ("John Smith…") is unbounded and the block join detonates
    * quadratically. Same discipline as [[NgramBlockCap]]: the cap
    * picks a PHYSICAL PLAN between two exact paths, never the
    * answer. */
  private[graft] val FuzzyBlockCap = 1000

  /** Exact dist≤1 pair generation over (id, name, blk) rows, dual-path
    * by block size — both paths exact, so the declared oracle (plain
    * blocked join + levenshtein filter) holds on ANY data:
    *
    *  - blocks ≤ cap: |block|² pairwise join + threshold levenshtein
    *    (O(threshold·len) early-exit form) — fastest at sane block
    *    sizes, the fixture's 100-row blocks included;
    *  - blocks > cap: FastSS deletion-neighborhood blocking (Bocek et
    *    al. 2007): a string's candidate keys are itself plus its
    *    len 1-deletions. dist(a,b) ≤ 1 ⟹ keys intersect — a
    *    substitution at i makes a.delete(i) == b.delete(i); an
    *    insertion makes b.delete(j) == a itself; equality is the
    *    identity key — so joining on (blk, key) loses nothing, and a
    *    hot block's cost drops from |block|² pairs to Σ|key bucket|²
    *    with ~len·|block| keys: quadratic only where names are truly
    *    near-identical, i.e. output-bound. The threshold levenshtein
    *    re-verify keeps only true pairs either way.
    *
    * Block sizes come from a window count over blk — blk cardinality
    * scales with the corpus (unlike the ngram machinery's ~20 sources),
    * so the window parallelizes and no broadcast of a corpus-sized
    * block list is ever built. */
  private[graft] def fuzzyNamePairs(named: DataFrame, cap: Int): DataFrame = {
    // Pinned-width sizing exchange (r18, guide §2.4/§2.5): the block
    // column is the partition key of everything downstream — the
    // sizing window, then the |block|² levenshtein self-join. Its
    // exchange carries ~30 bytes/row but feeds work quadratic in
    // block size, exactly the shape AQE's byte-based coalescing
    // under-counts: at fixture sizes the 148 KB exchange coalesced to
    // ONE task and 1.5M threshold-levenshteins ran serially (4.0 s,
    // 31 cores idle; 1.3 s wide). An explicit repartition(N, blk) is
    // exempt from AQE coalescing, N = defaultParallelism scales with
    // the session (cores locally, cluster width on a real deployment
    // — the work is cores-proportional, not bytes-proportional). The
    // window and both join sides reuse this one exchange: no other
    // shuffle in the small-block path.
    val sized = named
      .repartition(named.sparkSession.sparkContext.defaultParallelism,
        col("blk"))
      .withColumn("block_n",
        count(lit(1)).over(Window.partitionBy(col("blk"))))
    def side(df: DataFrame, k: String) = df.select(col("blk"),
      col("id").as(s"id_$k"), col("name").as(s"name_$k"))
    val small = sized.where(col("block_n") <= cap)
    // MERGE hint (r18): both sides inherit the pinned
    // hashpartitioning(blk), so the sort-merge join is EXCHANGE-FREE —
    // it reuses the sizing shuffle and spreads the |block|² levenshtein
    // expansion across its width, where the default broadcast plan ran
    // the whole expansion serially inside the probe's stage. At scale
    // the planner picks SMJ here anyway (both sides are the corpus).
    val pairSmall = side(small, "a").join(side(small, "b").hint("MERGE"),
        "blk")
      .where(col("id_a") < col("id_b"))
    val hot = sized.where(col("block_n") > cap)
    // name + its one-char deletions; array_distinct because repeated
    // characters produce identical deletions ("aa" → "a","a")
    val delKeys = array_distinct(concat(
      array(col("name")),
      transform(sequence(lit(1), length(col("name"))),
        i => concat(
          col("name").substr(lit(1), i - lit(1)),
          col("name").substr(i + lit(1), length(col("name")))))))
    def keyed(k: String) = hot
      .select(col("blk"), col("id").as(s"id_$k"),
        col("name").as(s"name_$k"), explode(delKeys).as("key"))
    val pairHot = keyed("a").join(keyed("b"), Seq("blk", "key"))
      .where(col("id_a") < col("id_b"))
      .select("blk", "id_a", "name_a", "id_b", "name_b")
      .distinct()
    pairSmall.select("id_a", "name_a", "id_b", "name_b")
      .unionByName(pairHot.select("id_a", "name_a", "id_b", "name_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** EXT: edit-distance fuzzy matching (entity resolution) — near-
    * identical customer names within a prefix block, the classic
    * record-linkage shape. Scale guards, all load-bearing at 100 TB:
    * (a) the self-join keys on a 16-char prefix block, so the pair
    * space is Σ|block|², never |table|²; (b) Spark's THRESHOLD form of
    * levenshtein(l, r, 1) abandons a pair the moment the running
    * distance exceeds 1 — O(threshold·len) per pair, not O(len²);
    * (c) a hot prefix block past [[FuzzyBlockCap]] degrades to exact
    * deletion-neighborhood blocking instead of detonating — see
    * [[fuzzyNamePairs]] (DedupSpec proves the bounded path engages and
    * agrees with the pairwise truth on a synthetic mega-block).
    * DuckDB's plain levenshtein is semantically identical on the kept
    * pairs, so this IS oracle-checked despite the early-exit form. */
  val dedupFuzzyName: Q = Q(
    "q_dedup_fuzzy_name",
    (s, d) => {
      val named = Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        substring(col("c_name"), 1, 16).as("blk"))
      fuzzyNamePairs(named, FuzzyBlockCap)
        // Materialize the surviving pairs through ONE hash exchange
        // before the global sort (r19, guide §2.4 + the r9 sampler-tax
        // finding): the orderBy's range exchange SAMPLES its child, and
        // with the |block|² levenshtein expansion in that child segment
        // the sampler re-ran the whole expansion — sf20 qprofile shows
        // two ~300 s-exec stages each reading the pinned blk exchange
        // (12.4 s span shuffle pass + 10.7 s span sampler pass doing
        // identical work, writing nothing). Pairs are output-bound
        // (dist ≤ 1 survivors only), so this exchange moves exactly the
        // output bytes once more while the sampler drops to a re-read
        // of materialized shuffle data. Deliberately NOT pinned-N: the
        // exchange exists for materialization, not width (no compute
        // runs above it), so AQE may coalesce it — at sf0.1 it shrinks
        // to one ~300 KB task, at sf20 it stays wide.
        .repartition(col("id_a"))
        .orderBy("id_a", "id_b")
    },
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b
      ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
      AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b"""))

  /** EXT: n-gram CONTAINMENT (Broder '97's asymmetric companion to
    * Jaccard) — |A∩B| / min(|A|,|B|): a short document quoted whole
    * inside a much larger one scores near 1.0 here while its Jaccard
    * is tiny (≈ |A|/|B|), so a Jaccard-only dedup ships the training
    * set both the quote and the container. Same blocked/prefix-filtered
    * candidate machinery as q_dedup_ngram_jaccard (ngramRawPairs) with
    * the containment scorer; the prefix bound holds directly here
    * (n_common ≥ t·min by definition, so the SMALLER side must carry a
    * shared gram in its prefix — ngramRawPairs' asymmetric path probes
    * the min side's prefix against full postings). Exact at every scale —
    * the DuckDB full-enumeration oracle is matched by construction, not
    * by a fixture property as in r5. */
  val dedupContainment: Q = Q(
    "q_dedup_containment",
    (s, d) =>
      ngramRawPairs(s, ngramGrams(s, d), NgramBlockCap, NgramContainT,
          symmetric = false)
        .select(col("source"), col("a_id"), col("b_id"),
          graft.functions.SortedIntersectCount(s, col("a_bg"), col("b_bg"))
            .as("n_common"),
          size(col("a_bg")).cast("long").as("na"),
          size(col("b_bg")).cast("long").as("nb"))
        .withColumn("containment",
          col("n_common").cast("double") / least(col("na"), col("nb")))
        .where(col("containment") >= NgramContainT)
        .select("source", "a_id", "b_id", "n_common", "containment")
        .orderBy("source", "a_id", "b_id"),
    Some("""WITH t AS (
      SELECT doc_id, source,
        list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, source,
        list_distinct(list_transform(
          generate_series(1, len(toks) - 4),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            || ' ' || toks[i+3] || ' ' || toks[i+4]))
          AS bg
      FROM t WHERE len(toks) >= 5),
    g AS (
      SELECT doc_id, source, len(bg) AS n, unnest(bg) AS gram FROM d),
    pairs AS (
      -- Same exploded-equi-join exactness argument as the jaccard
      -- oracle: zero common grams ⇒ containment 0 < t.
      SELECT a.source AS source, a.doc_id AS a_id, b.doc_id AS b_id,
        count(*) AS n_common,
        any_value(a.n) AS na, any_value(b.n) AS nb
      FROM g a JOIN g b
        ON a.source = b.source AND a.gram = b.gram
          AND a.doc_id < b.doc_id
      GROUP BY a.source, a.doc_id, b.doc_id)
    SELECT source, a_id, b_id, n_common,
      CAST(n_common AS DOUBLE) / least(na, nb) AS containment
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / least(na, nb) >= 0.8
    ORDER BY source, a_id, b_id"""))

  /** EXT: URL-canonicalization dedup — the crawl-frontier staple: the
    * same page arrives as `HTTPS://Host:443/path/?utm_source=…` and
    * `https://host/path?lang=…`, and a byte-equality dedup misses every
    * variant. Raw URLs are constructed deterministically from document
    * metadata with the classic variant axes (host case, explicit
    * default port, tracking params, trailing slash, param order), then
    * canonicalized with REAL parsing — `parse_url` HOST/PATH/QUERY,
    * lower-cased host (ports are dropped by HOST extraction),
    * tracking-param filter (`utm_*`, `ref=`), alphabetical param
    * re-order, trailing-slash strip — and grouped. The oracle
    * reconstructs the canonical form directly from the same metadata
    * (the q_fn_url pattern: parser checked against an independent
    * formulation, not itself). Narrow per-row pass + ONE shuffle on the
    * canonical key: at 100 TB this is exact-dedup cost, no pair space. */
  val dedupUrl: Q = Q(
    "q_dedup_url",
    (s, d) => {
      val k = col("doc_id")
      val host = when(k % 2 === 0,
        concat(upper(col("source")), lit(".Example.COM")))
        .otherwise(concat(col("source"), lit(".example.com")))
      val port = when(k % 5 === 0, ":443").otherwise("")
      val path = concat(lit("/docs/"), (k % 997).cast("string"),
        when(k % 7 === 0, "/").otherwise(""))
      val qs = when(k % 3 === 0,
        concat(lit("utm_source=feed&lang="), col("lang")))
        .when(k % 3 === 1, concat(lit("lang="), col("lang")))
        .otherwise(concat(lit("lang="), col("lang"), lit("&ref=rss")))
      val url = concat(lit("https://"), host, port, path, lit("?"), qs)
      val keptParams = array_sort(filter(
        split(coalesce(parse_url(col("url"), lit("QUERY")), lit("")), "&"),
        p => !p.startsWith("utm_") && !p.startsWith("ref=") && p =!= ""))
      val canon = concat(
        lit("https://"), lower(parse_url(col("url"), lit("HOST"))),
        regexp_replace(parse_url(col("url"), lit("PATH")), "/+$", ""),
        when(size(keptParams) > 0,
          concat(lit("?"), array_join(keptParams, "&"))).otherwise(""))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), url.as("url"))
        .withColumn("canonical_url", canon)
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_variants"))
        .orderBy("canonical_url")
    },
    Some("""SELECT 'https://' || source || '.example.com/docs/' ||
        (doc_id % 997) || '?lang=' || lang AS canonical_url,
      min(doc_id) AS keep_id, count(*) AS n_variants
    FROM documents
    GROUP BY 1 ORDER BY canonical_url"""))

  val all: Seq[Q] = Seq(
    dedupMinhashSig, dedupMinhashPairs, dedupSimhash, dedupSimhashPairs,
    dedupNgramJaccard,
    dedupNgramGlobal, dedupContainGlobal, simLshTopk, dedupFuzzyName,
    dedupContainment, dedupUrl)
}
