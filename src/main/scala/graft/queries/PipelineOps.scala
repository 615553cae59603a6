package graft.queries

import graft.Q
import graft.engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators that sit ON TOP of the dedup /
  * text-analysis primitives: duplicate-cluster resolution (connected
  * components), sequence packing, and corpus-relative quality
  * filtering. These are the stages a 100 TB pre-training pipeline runs
  * after pair generation — the reference's "verify then act" shape
  * (backup.sh:264-299 restore-check before the destructive cleanup)
  * applied to corpus curation.
  */
object PipelineOps {

  /** Minimum exact n-gram Jaccard for an edge to count as a confident
    * near-duplicate when clustering. 0.8 — the SAME confident bar as
    * q_dedup_ngram_jaccard — for two reinforcing reasons:
    *
    *  - PRECISION: connected components take the transitive closure, so
    *    edge errors AMPLIFY — one borderline 0.4-edge chains otherwise
    *    unrelated clusters into a mega-cluster and mass-deletes
    *    non-duplicates. Clustering edges must be high-confidence.
    *  - SCALE: the Bayardo/PPJoin prefix has length
    *    n_shared − ceil(t·n) + 1 ≈ (1−t)·n. At t=0.4 that is ~60% of
    *    every document's grams, and over a low-vocabulary corpus the
    *    prefix filter prunes almost nothing — measured r7 at sf5
    *    (250k docs, 12.5k-doc source blocks): the t=0.4 candidate join
    *    spilled the machine's disk to death (>75 GB) where the t=0.8
    *    run of the same machinery completes. The threshold is part of
    *    the algorithm's scale contract, not a free knob.
    *
    * On every driver fixture the two thresholds yield IDENTICAL edge
    * sets (measured sf0.001/0.01/0.1: all pairs ≥0.4 are ≥0.97 —
    * synthetic dups are near-identical), so this is observationally a
    * pure scale fix there. */
  private val EdgeThreshold = 0.8

  /** Upper bound on label-propagation rounds. Convergence takes
    * O(component diameter) rounds; near-dup clusters are dense (almost
    * cliques), so real corpora converge in a handful. The bound only
    * guards a pathological path-shaped graph. */
  private val MaxIters = 30

  /** Materialize `df` and cut its lineage. Local mode uses
    * `localCheckpoint()` (block-manager scratch, no external storage
    * needed); when a checkpoint directory is configured
    * (`SparkContext.setCheckpointDir`, as any real cluster job should)
    * it checkpoints EAGERLY to that reliable storage instead —
    * `localCheckpoint` blocks live on executors and die with them, so
    * one lost executor would lose the data; reliable checkpoints
    * survive executor loss. A caller deletes a
    * reliable checkpoint ([[checkpointPath]]) once a later cut has
    * superseded it; the one backing a returned DataFrame stays. */
  private[graft] def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** Reliable-checkpoint directory backing a just-[[cut]] DataFrame
    * (None in localCheckpoint mode: the block-manager cleaner already
    * reclaims those with the RDD reference). Spark itself only deletes
    * reliable checkpoints on driver GC with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so a
    * MaxIters loop would otherwise leave ~MaxIters rdd-* snapshot dirs
    * for the app lifetime — unbounded storage growth on long cluster
    * jobs (r8 advice). The eager checkpoint's Dataset is a bare
    * LogicalRDD over the checkpointed RDD, so the path is recoverable
    * and each round can delete its predecessor once it has
    * materialized. */
  private def checkpointPath(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile
      case _ => None
    }

  private def deleteCheckpoint(spark: SparkSession, path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  /** Distributed connected components by iterative min-label
    * propagation with per-round pointer jumping: every node takes the
    * minimum label among itself and its neighbors (the hash-min step),
    * then shortcuts to its label's label (the pointer-jump step, which
    * halves the label-tree height). Propagation alone needs O(diameter)
    * rounds — an adversarial path graph longer than MaxIters would
    * abort; the jump makes label distance shrink geometrically, so
    * rounds are O(log diameter) (the same round bound as the star
    * contractions of Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SOCC'14) and MaxIters=30 covers any component a real
    * corpus can contain. PipelineSpec proves a 300-node path — 10×
    * MaxIters in diameter — converges to the correct labels.
    *
    * Scale shape: `edges` is materialized ONCE (via [[cut]]) so each
    * round is one keyed shuffle over the edge list plus two over the
    * label list, never re-running the upstream dedup pipeline; lineage
    * is cut per round so the plan stays constant-size.
    *
    * Everything is integer/long arithmetic — bit-deterministic under
    * any partitioning and accumulation order.
    *
    * @param edges two long columns `src`, `dst` (undirected; either
    *              orientation, self-loops tolerated)
    * @return (`node`, `label`) — label = min node id in the component
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    val e0 = cut(edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst")))
    // Size the iteration shuffles to the EDGE LIST, not the corpus: the
    // propagation rounds touch only nodes that have edges (a sliver of
    // the corpus after near-dup thresholding), and running a handful of
    // near-empty rounds across the full default parallelism costs more
    // in task scheduling than the data movement. ~100k edges per
    // partition; a 100 TB edge list still fans out to thousands.
    val parts = math.max(1,
      math.min(spark.sparkContext.defaultParallelism,
        (e0.count() / 100000L).toInt + 1))
    val e = e0.repartition(parts)
    val sym = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    var labels = cut(sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    // Rolling cleanup of superseded reliable checkpoints: once round
    // N's cut has materialized, round N-1's files are unreferenced
    // (each round's plan reads only `sym` + the PREVIOUS labels, and
    // the eager checkpoint fully materializes before we delete). The
    // FINAL round's files back the returned DataFrame and must
    // survive until the caller consumes it — one retained dir per
    // invocation instead of ~MaxIters.
    var prevRoundPath = checkpointPath(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < MaxIters) {
      val prop = sym
        .join(labels, sym("src") === labels("node"))
        .groupBy(col("dst"))
        .agg(min(col("label")).as("nbr_label"))
      // One materialization per round, not two: the pointer-jump below
      // self-joins `stepped`, and without a checkpoint here Spark's
      // ReuseExchange serves both sides from the same shuffle files —
      // `stepped` stays a bounded two-join plan over the checkpointed
      // `sym`/`labels`, so lineage cannot grow across rounds either.
      val stepped = labels
        .join(prop, labels("node") === prop("dst"), "left")
        .select(
          labels("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"),
          (col("nbr_label").isNotNull && col("nbr_label") < col("label"))
            .as("chg"))
      // Pointer jump: label ← label of label. Every label IS a node id
      // present in `stepped` (labels only ever take node-id values), so
      // the lookup is a plain equi join; "left" guards the root nodes
      // whose label is themselves either way.
      val byNode = stepped
        .select(col("node").as("pnode"), col("label").as("plabel"))
      val next = cut(stepped
        .join(byNode, stepped("label") === byNode("pnode"), "left")
        .select(
          stepped("node"),
          least(stepped("label"), coalesce(col("plabel"), stepped("label")))
            .as("label"),
          (stepped("chg")
            || (col("plabel").isNotNull && col("plabel") < stepped("label")))
            .as("chg")))
      converged = next.where(col("chg")).limit(1).isEmpty
      labels = next.select("node", "label")
      prevRoundPath.foreach(deleteCheckpoint(spark, _))
      prevRoundPath = checkpointPath(next)
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $MaxIters rounds")
    // The edge list's checkpoint is only read by the iteration rounds;
    // the returned labels are backed entirely by the final round's
    // files, so the edge snapshot can go now.
    checkpointPath(e0).foreach(deleteCheckpoint(spark, _))
    labels
  }

  /** Mandated EXT (dedup clustering): near-duplicate CLUSTERS — the
    * stage after pair generation in every dedup pipeline. Confident
    * ngram-Jaccard pairs (≥ 0.8, see EdgeThreshold) become edges;
    * connected components
    * assign every document a canonical id (= min doc_id in its
    * component, singletons canonical to themselves); the pipeline
    * would then keep exactly the canonical docs.
    *
    * Oracle: DuckDB recursive CTE computing the same transitive
    * closure → min reachable id. */
  val dedupComponents: Q = Q(
    "q_dedup_components",
    (s, d) => {
      // t = EdgeThreshold end-to-end: the prefix filter generates an
      // exact candidate superset for THIS threshold (see ngramRawPairs)
      // and ngramScore applies the same cut, so the edge set is the
      // full-enumeration truth at any scale.
      val edges = DedupOps.ngramPairs(s, DedupOps.ngramGrams(s, d),
          blockCap = 512, t = EdgeThreshold)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val comp = connectedComponents(s, edges)
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val canon = docs
        .join(comp, docs("doc_id") === comp("node"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("canonical_id"))
      val sizes = canon.groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"))
      canon.join(sizes, Seq("canonical_id"))
        .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
          (col("doc_id") =!= col("canonical_id")).as("is_dup"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE t AS (
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
    common AS (
      -- Pair enumeration via the exploded gram equi-join, NOT the
      -- quadratic per-source block join: a pair with zero common grams
      -- has jaccard 0 < 0.8, so grouping the gram matches enumerates
      -- every qualifying pair exactly (bg is distinct within a doc, so
      -- count(*) IS |A∩B|). The block-join form is O(|block|^2) list
      -- intersects (125M at sf1) and was DuckDB-intractable past
      -- sf0.01; this form's join output is sum(df^2) over grams —
      -- linear in true gram co-occurrence — and verifies at sf1.
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        count(*) AS c, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM g a JOIN g b
        ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT a_id, b_id FROM common
      WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.8),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (
      SELECT node AS doc_id, min(lbl) AS canonical_id
      FROM reach GROUP BY node)
    SELECT c.doc_id, c.canonical_id,
      CAST(n.cluster_size AS BIGINT) AS cluster_size,
      c.doc_id != c.canonical_id AS is_dup
    FROM comp c JOIN (
      SELECT canonical_id, count(*) AS cluster_size
      FROM comp GROUP BY canonical_id) n USING (canonical_id)
    ORDER BY doc_id"""))

  /** EXT (r13): cluster-resolved dedup with a KEEP-BEST rule — the
    * production counterpart of [[dedupComponents]]' keep-min-id
    * canonicals. Real pipelines don't keep the lowest doc_id of a
    * near-dup cluster; they keep the highest-QUALITY member and drop
    * the rest (SlimPajama, FineWeb: dedup keeps the "best" copy by a
    * quality heuristic). Clusters come from the same confident-edge
    * connected components; the keeper is argmax by alphabetic-char
    * ratio with doc_id ascending as the tie-break, expressed as ONE
    * struct-max aggregate per cluster — `max(struct(q, -doc_id))` is
    * (q DESC, doc_id ASC) argmax with no per-cluster window sort, the
    * same two-phase SortAggregate shape as the OHLC rewrite (struct
    * agg buffers can't hash-agg; still partial+final, parallel per
    * split). The quality double is a single division of exact longs
    * (float-parity rule); empty docs pin q = −1 so the NaN ordering
    * divergence surface never exists. Output is one row per cluster
    * (singletons included): the keeper, its score, and the drop count.
    * Scale: edges are output-bound (t = 0.8), components O(log
    * diameter) rounds, and the keep rule is one keyed aggregate —
    * nothing here exceeds the machinery already measured linear
    * through sf40. */
  val dedupClusterKeep: Q = Q(
    "q_dedup_cluster_keep",
    (s, d) => {
      val edges = DedupOps.ngramPairs(s, DedupOps.ngramGrams(s, d),
          blockCap = 512, t = EdgeThreshold)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val comp = connectedComponents(s, edges)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("n_chars") === 0, lit(-1.0))
            .otherwise(
              length(regexp_replace(col("text"), "[^a-z]", ""))
                .cast("double") / col("n_chars"))
            .as("q"))
      val canon = docs
        .join(comp, docs("doc_id") === comp("node"), "left")
        .select(col("doc_id"), col("q"),
          coalesce(col("label"), col("doc_id")).as("canonical_id"))
      canon.groupBy(col("canonical_id"))
        .agg(
          max(struct(col("q").as("q"), (-col("doc_id")).as("negid")))
            .as("best"),
          count(lit(1)).as("cluster_size"))
        .select(col("canonical_id"),
          (-col("best.negid")).as("keep_id"),
          col("best.q").as("keep_q"),
          col("cluster_size"),
          (col("cluster_size") - 1).as("n_dropped"))
        .orderBy("canonical_id")
    },
    Some("""WITH RECURSIVE t AS (
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
    common AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        count(*) AS c, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM g a JOIN g b
        ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT a_id, b_id FROM common
      WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.8),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (
      SELECT node AS doc_id, min(lbl) AS canonical_id
      FROM reach GROUP BY node),
    scored AS (
      SELECT c.canonical_id, c.doc_id,
        CASE WHEN doc.n_chars = 0 THEN -1.0e0
          ELSE CAST(length(regexp_replace(doc.text, '[^a-z]', '', 'g'))
            AS DOUBLE) / doc.n_chars END AS q
      FROM comp c JOIN documents doc USING (doc_id)),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY canonical_id
        ORDER BY q DESC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY canonical_id) AS cluster_size
      FROM scored)
    SELECT canonical_id, doc_id AS keep_id, q AS keep_q,
      CAST(cluster_size AS BIGINT) AS cluster_size,
      CAST(cluster_size - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    ORDER BY canonical_id"""))

  /** Context-window token budget for sequence packing. */
  private val PackBudget = 2048L

  /** Documents per id-range chunk for the packing prefix sum. Any
    * positive width is exact (chunking never changes the answer —
    * Skew.chunkedRunning's contract); it only sets the parallelism
    * trade: per-(source, chunk) tasks sort ~width rows, the per-source
    * prefix pass sorts (id_range / width) chunk-total rows in one task.
    * 64 exercises the multi-chunk path at every fixture scale; a
    * production corpus sizes it ~√(ids per source) via
    * `spark.graft.pack.chunkDocs` so neither pass can dominate. */
  private val PackChunkDocs = 64L

  /** Mandated EXT (sequence packing): assign documents to fixed
    * token-budget context windows ("bins") for training. This is
    * offset packing — each doc lands in the bin where its cumulative
    * start offset falls — the one-pass, shuffle-once formulation that
    * scales (true greedy first-fit is inherently sequential). A doc
    * straddling a boundary belongs to its start bin; packers handle
    * the overflow by splitting or padding downstream.
    *
    * The running sum rides engine.Skew.chunkedRunning, NOT a plain
    * window over (source): `source` is a FIXED-CARDINALITY key (~20
    * values at any corpus size — the cliff-6 pattern, SCALE.md), so
    * the plain window serializes each source's entire doc stream
    * through one task at 100×. Chunked, each (source, id-chunk) sorts
    * independently and only chunk TOTALS take the per-source prefix
    * pass. Result ≡ the plain window — the DuckDB oracle IS the plain
    * form, so the rewrite is verified end-to-end, not against itself.
    * Cumulative sums are exact longs.
    *
    * Token source: the chars/4 heuristic keeps this query
    * oracle-checkable end-to-end; the machinery is token-source-
    * agnostic, and with the real BPE tokenizer (C109) a production
    * pipeline swaps `nTokens` for
    * `graft.functions.BpeTokenCount(s, col("text"))` — same window,
    * same bins, exact budgets. */
  val textPack: Q = Q(
    "q_text_pack",
    (s, d) => {
      val nTokens = ceil(col("n_chars").cast("double") / 4.0).cast("long")
      val chunkDocs =
        s.conf.get("spark.graft.pack.chunkDocs", PackChunkDocs.toString).toLong
      // 0 would make `doc_id div chunkDocs` null for every row and
      // chunkedRunning's inner join on __chunk would silently return an
      // EMPTY result; negative widths break chunk monotonicity. Fail loud.
      require(chunkDocs > 0,
        s"spark.graft.pack.chunkDocs must be positive: $chunkDocs")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), nTokens.as("n_tokens"))
      graft.engine.Skew.chunkedRunning(
          base, "source", expr(s"doc_id div $chunkDocs"),
          Seq("doc_id"), col("n_tokens"))
        .withColumn("start_offset", col("running_sum") - col("n_tokens"))
        .withColumn("bin_id",
          expr(s"start_offset div $PackBudget"))
        .withColumn("bin_offset",
          col("start_offset") - col("bin_id") * PackBudget)
        .select("doc_id", "source", "n_tokens", "start_offset",
          "bin_id", "bin_offset")
        .orderBy("source", "doc_id")
    },
    Some(s"""WITH t AS (
      SELECT doc_id, source,
        CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0e0) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
        COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY source
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS BIGINT), 0) AS start_offset
      FROM t)
    SELECT doc_id, source, n_tokens, start_offset,
      start_offset // $PackBudget AS bin_id,
      start_offset - (start_offset // $PackBudget) * $PackBudget
        AS bin_offset
    FROM c ORDER BY source, doc_id"""))

  /** Mandated EXT (corpus-relative quality filter): drop the bottom
    * 20% of documents per language by alphabetic-character ratio, plus
    * all token-degenerate docs — the percentile-threshold corpus
    * selection shape (absolute thresholds live in q_text_quality).
    *
    * percent_rank is computed WITHOUT a per-lang window sort: `lang` is
    * a FIXED-CARDINALITY key (~5-10 values at any corpus size — the
    * cliff-6 pattern, SCALE.md), so `percent_rank().over(lang)` sorts
    * each language's ENTIRE corpus slice in one task at 100×. Instead:
    * the ratio order is a total order (ties broken by doc_id), so
    * percent_rank ≡ (row_number − 1) / (n_lang − 1); row_number is
    * engine.Skew.chunkedRunning's running COUNT, chunked on 64 ratio
    * buckets (monotone in the sort key → exact), and n_lang is a tiny
    * per-lang aggregate broadcast back. Both operands are exact longs,
    * so the one double division is bit-identical to the oracle's
    * percent_rank (DuckDB defines the 1-row partition as 0 — the guard
    * mirrors it). The oracle stays the PLAIN percent_rank form: the
    * rewrite is cross-checked end-to-end, not against itself. */
  /** NaN-safe 64-bucket chunk key over a [0,1] ratio, for
    * [[graft.engine.Skew.chunkedRunning]]. An empty doc (n_chars = 0)
    * has alpha_ratio = 0.0/0 = NaN; `floor(NaN*64).cast(long)` is NULL,
    * and chunkedRunning's inner join on __chunk would silently DROP the
    * row — violating its "result ≡ plain window" contract. NaN sorts
    * AFTER every finite double in both Spark and DuckDB ascending
    * order, so mapping it to a max sentinel chunk keeps the chunk key
    * monotone in the (ratio, tiebreak) total order (pinned in SkewSpec
    * with explicit NaN rows). */
  private[graft] def ratioChunk64(ratio: Column): Column =
    when(isnan(ratio), lit(Long.MaxValue))
      .otherwise(floor(ratio * 64).cast("long"))

  val textQualityFilter: Q = Q(
    "q_text_quality_filter",
    (s, d) => {
      val nTok = size(filter(split(lower(col("text")), " "), t => t =!= ""))
        .cast("long")
      val alphaRatio =
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          col("n_chars")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), nTok.as("n_tokens"),
          alphaRatio.as("alpha_ratio"))
      val counts = base.groupBy(col("lang"))
        .agg(count(lit(1)).as("__n_lang"))
      graft.engine.Skew.chunkedRunning(
          base, "lang", ratioChunk64(col("alpha_ratio")),
          Seq("alpha_ratio", "doc_id"), lit(1L))
        .join(broadcast(counts), Seq("lang"))
        .withColumn("lang_pctile",
          when(col("__n_lang") === 1L, lit(0.0))
            .otherwise((col("running_n") - 1).cast("double") /
              (col("__n_lang") - 1).cast("double")))
        .where(col("lang_pctile") >= 0.2 && col("n_tokens") > 0)
        .select("doc_id", "lang", "n_tokens", "alpha_ratio", "lang_pctile")
        .orderBy("doc_id")
    },
    Some("""WITH q AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(string_split(lower(text), ' '), t -> t != ''))
          AS BIGINT) AS n_tokens,
        CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
          / n_chars AS alpha_ratio
      FROM documents),
    r AS (
      SELECT *, percent_rank() OVER (PARTITION BY lang
        ORDER BY alpha_ratio, doc_id) AS lang_pctile
      FROM q)
    SELECT doc_id, lang, n_tokens, alpha_ratio, lang_pctile
    FROM r WHERE lang_pctile >= 0.2e0 AND n_tokens > 0
    ORDER BY doc_id"""))

  /** Chunk size / stride (tokens) for q_text_chunk. Overlap of
    * ChunkSize - ChunkStride tokens carries context across boundaries —
    * the RAG / pretraining windowing convention. */
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** Mandated EXT (document chunking): split each document into
    * overlapping token windows — the context-window preparation step
    * for embedding / pretraining pipelines. Chunk starts step by
    * `ChunkStride`; every token position belongs to ≥1 chunk; the last
    * chunk is allowed to run short. Pure per-row expression work
    * (tokenize once, slice per chunk) + one explode — narrow, no
    * shuffle, scan-speed at 100 TB. */
  val textChunk: Q = Q(
    "q_text_chunk",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
        .where(size(col("toks")) > 0)
        // Explode the (tiny) index sequence, slice in the OUTER
        // projection: no lambda wraps the slice, so Generate inlining
        // can't re-evaluate the tokenization per chunk (SCALE.md cliff
        // #5 — the transform(seq, i -> slice(...)) form feeding an
        // explode is exactly the interpreted-HOF shape that rule bans).
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            expr(s"(size(toks) - 1) div $ChunkStride").cast("int")))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          slice(col("toks"), col("chunk_idx") * ChunkStride + 1,
            lit(ChunkSize)).as("chunk"))
        .select(
          col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          array_join(col("chunk"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH t AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '')
        AS toks
      FROM documents),
    c AS (
      SELECT doc_id,
        unnest(generate_series(0, (len(toks) - 1) // $ChunkStride))
          AS chunk_idx,
        toks
      FROM t WHERE len(toks) > 0)
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
      CAST(len(toks[chunk_idx * $ChunkStride + 1 :
        chunk_idx * $ChunkStride + $ChunkSize]) AS BIGINT) AS n_chunk_tokens,
      array_to_string(toks[chunk_idx * $ChunkStride + 1 :
        chunk_idx * $ChunkStride + $ChunkSize], ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_idx"""))

  /** Token n-gram width for decontamination matching. Real pipelines
    * use 8–13-token grams over natural text; the fixture's word-salad
    * corpus over a ~40-word vocabulary needs a narrower gram to produce
    * any overlap at all (5 flags genuine duplicated passages at every
    * SF, where 4 drowns in small-vocabulary chance collisions). */
  private val DecontamGramLen = 5

  /** Mandated EXT (eval-set decontamination): flag training documents
    * that share any `DecontamGramLen`-token gram with a held-out eval
    * set — the benchmark-leak scan every serious pretraining pipeline
    * runs. The eval set here is the deterministic doc_id % 97 == 0
    * slice standing in for an external benchmark table.
    *
    * Scale shape: explode both sides to (gram, doc) and equi-join on
    * the gram. The eval side is tiny (benchmarks are thousands of
    * docs, not billions), so at 100 TB the gram join broadcasts the
    * eval grams and the corpus side stays a narrow scan + semi-join —
    * no shuffle of the corpus. Grams join as 64-bit hashes at scale;
    * the declared query keeps gram strings so the oracle can mirror
    * them (same pairs modulo hash collisions, as in the ngram dedup). */
  val textDecontaminate: Q = Q(
    "q_text_decontaminate",
    (s, d) => {
      // index-explode + outer slice — not transform(seq, λ) — for the
      // same Generate-inlining reason as q_text_chunk
      def grams(df: DataFrame, idAs: String): DataFrame =
        df.select(col("doc_id"),
          filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
          .where(size(col("toks")) >= DecontamGramLen)
          .select(col("doc_id").as(idAs), col("toks"),
            explode(sequence(lit(1),
              size(col("toks")) - DecontamGramLen + 1)).as("i"))
          .select(col(idAs),
            array_join(slice(col("toks"), col("i"), lit(DecontamGramLen)), " ")
              .as("gram"))
      val docs = Tables.documents(s, d)
      val evalGrams = grams(docs.where(col("doc_id") % 97 === 0), "eval_id")
        .select("gram").distinct()
      val trainGrams = grams(docs.where(col("doc_id") % 97 =!= 0), "train_id")
      trainGrams
        .join(broadcast(evalGrams), Seq("gram"))
        .groupBy(col("train_id"))
        .agg(countDistinct(col("gram")).as("n_shared_grams"))
        .select(col("train_id").as("doc_id"), col("n_shared_grams"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
      SELECT doc_id,
        list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, len(t) - $DecontamGramLen + 1),
        i -> array_to_string(t[i : i + $DecontamGramLen - 1], ' '))) AS gram
      FROM toks WHERE len(t) >= $DecontamGramLen),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
    SELECT doc_id, count(DISTINCT gram) AS n_shared_grams
    FROM grams JOIN eval_grams USING (gram)
    WHERE doc_id % 97 != 0
    GROUP BY doc_id ORDER BY doc_id"""))

  /** EXT: one-pass table profile — the ANALYZE/data-quality snapshot a
    * pipeline runs before trusting a new corpus drop: row count,
    * per-column null counts, exact distincts, ranges, and length
    * stats, all from a single scan (Spark plans the multi-distinct via
    * one Expand, still one pass over the data). At 100 TB swap the
    * exact `countDistinct`s for `approx_count_distinct` — same plan
    * shape minus the Expand multiplier; exact is kept here because the
    * oracle can mirror it. All outputs are integer/string domain — no
    * float parity surface. */
  val profileTable: Q = Q(
    "q_profile_table",
    (s, d) =>
      Tables.documents(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("doc_id_distinct"),
          min(col("doc_id")).as("doc_id_min"),
          max(col("doc_id")).as("doc_id_max"),
          count(when(col("lang").isNull, 1)).as("lang_nulls"),
          countDistinct(col("lang")).as("lang_distinct"),
          min(col("lang")).as("lang_min"),
          max(col("lang")).as("lang_max"),
          countDistinct(col("source")).as("source_distinct"),
          min(col("n_chars")).cast("long").as("nchars_min"),
          max(col("n_chars")).cast("long").as("nchars_max"),
          sum(col("n_chars")).cast("long").as("nchars_sum"),
          sum(length(col("text"))).cast("long").as("text_len_sum"),
          max(length(col("text"))).cast("long").as("text_len_max")),
    Some("""SELECT
      count(*) AS n_rows,
      count(DISTINCT doc_id) AS doc_id_distinct,
      min(doc_id) AS doc_id_min,
      max(doc_id) AS doc_id_max,
      count(*) FILTER (WHERE lang IS NULL) AS lang_nulls,
      count(DISTINCT lang) AS lang_distinct,
      min(lang) AS lang_min,
      max(lang) AS lang_max,
      count(DISTINCT source) AS source_distinct,
      CAST(min(n_chars) AS BIGINT) AS nchars_min,
      CAST(max(n_chars) AS BIGINT) AS nchars_max,
      CAST(sum(n_chars) AS BIGINT) AS nchars_sum,
      CAST(sum(len(text)) AS BIGINT) AS text_len_sum,
      CAST(max(len(text)) AS BIGINT) AS text_len_max
    FROM documents"""))

  /** EXT: domain-mixing weights — per-source token counts and the
    * up/down-sampling weight that would equalize each source's token
    * share (the "data mixing" step every pretraining pipeline runs
    * after dedup: weight = target_share / actual_share, here with a
    * uniform target over the observed sources). The per-source
    * aggregate shrinks the corpus to |sources| rows before the scalar
    * totals are cross-joined back (broadcast — no second corpus scan,
    * no unpartitioned window). Integer sums throughout; `share` and
    * `weight` are single double divisions of exact longs (float-parity
    * rule), with the n_sources·n_tokens product kept in the long
    * domain. */
  val textMixWeights: Q = Q(
    "q_text_mix_weights",
    (s, d) => {
      val perSrc = Tables.documents(s, d)
        .select(col("source"),
          size(filter(split(lower(col("text")), " "), t => t =!= ""))
            .cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("n_tokens"))
      val totals = perSrc.agg(
        sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
      perSrc.crossJoin(broadcast(totals))
        .select(col("source"), col("n_tokens"),
          (col("n_tokens").cast("double")
            / col("total_tokens").cast("double")).as("share"),
          (col("total_tokens").cast("double")
            / (col("n_sources") * col("n_tokens")).cast("double"))
            .as("weight"))
        .orderBy("source")
    },
    Some("""WITH per_src AS (
      SELECT source,
        CAST(sum(len(list_filter(string_split(lower(text), ' '),
          t -> t != ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        count(*) AS n_sources
      FROM per_src)
    SELECT source, n_tokens,
      CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
      CAST(total_tokens AS DOUBLE) / CAST(n_sources * n_tokens AS DOUBLE)
        AS weight
    FROM per_src, tot ORDER BY source"""))

  /** EXT (r13): TEMPERATURE-scaled mixing — the sampling-probability
    * form real multilingual/pretraining mixes use (p_s ∝ n_s^α with
    * α < 1 upweights small sources; mBERT/XLM-R exponent-smoothed
    * sampling). α = 1/2 exactly, for a float-parity reason: `sqrt` is
    * IEEE-754 correctly rounded in BOTH engines, while `pow(x, 0.7)`
    * is not guaranteed bit-equal between a JVM intrinsic and libm —
    * a temperature knob would make the oracle compare flaky, a fixed
    * √-sampling operator stays hash-exact. The normalizer Σ√n_s is a
    * LEFT FOLD over the VALUE-SORTED per-source list (`aggregate ∘
    * sort_array` here, `list_reduce ∘ list_sort` in DuckDB): a plain
    * double `sum` is accumulation-order-dependent and would break
    * cross-engine parity; source cardinality is fixed-small, so the
    * collected list is bounded at any corpus size. `weight` is the
    * up/down-sampling factor vs natural sampling (p_temp / share). */
  val textMixTemperature: Q = Q(
    "q_text_mix_temperature",
    (s, d) => {
      val perSrc = Tables.documents(s, d)
        .select(col("source"),
          size(filter(split(lower(col("text")), " "), t => t =!= ""))
            .cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("n_tokens"))
        .withColumn("sqrt_tok", sqrt(col("n_tokens").cast("double")))
      val totals = perSrc.agg(
        sum(col("n_tokens")).as("total_tokens"),
        aggregate(sort_array(collect_list(col("sqrt_tok"))), lit(0.0),
          (acc, x) => acc + x).as("z"))
      perSrc.crossJoin(broadcast(totals))
        .select(col("source"), col("n_tokens"),
          (col("n_tokens").cast("double")
            / col("total_tokens").cast("double")).as("share"),
          (col("sqrt_tok") / col("z")).as("p_temp"))
        .withColumn("weight", col("p_temp") / col("share"))
        .select("source", "n_tokens", "share", "p_temp", "weight")
        .orderBy("source")
    },
    Some("""WITH per_src AS (
      SELECT source,
        CAST(sum(len(list_filter(string_split(lower(text), ' '),
          t -> t != ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    sq AS (
      SELECT source, n_tokens,
        sqrt(CAST(n_tokens AS DOUBLE)) AS sqrt_tok
      FROM per_src),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        list_reduce(list_sort(list(sqrt_tok)), (a, x) -> a + x) AS z
      FROM sq)
    SELECT source, n_tokens,
      CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
      sqrt_tok / z AS p_temp,
      (sqrt_tok / z)
        / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
        AS weight
    FROM sq, tot ORDER BY source"""))

  /** EXT: join-key skew profile — the diagnostic run BEFORE deciding a
    * join strategy at scale: heavy-hitter keys with their share of
    * rows, beside the global key/row/max-bucket counts (the numbers
    * that tell you whether AQE skew-split suffices or
    * `Skew.saltedJoin`'s numSalts needs raising). One keyed agg
    * shrinks the table to its key histogram; the top-10 is a bounded
    * sort over KEY COUNTS, not rows, and the scalar stats broadcast
    * back. Ties rank deterministically by key. */
  val profileSkew: Q = Q(
    "q_profile_skew",
    (s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"))
      val stats = counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_rows"))
      counts
        .orderBy(col("n").desc, col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey").as("key"), col("n"))
        .crossJoin(broadcast(stats))
        .select(col("key"), col("n"),
          (col("n").cast("double") / col("n_rows").cast("double"))
            .as("share"),
          col("n_keys"), col("n_rows"), col("max_rows"))
        .orderBy(col("n").desc, col("key").asc)
    },
    Some("""WITH c AS (
      SELECT l_orderkey AS key, count(*) AS n
      FROM lineitem GROUP BY l_orderkey),
    s AS (
      SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        max(n) AS max_rows
      FROM c)
    SELECT key, n, CAST(n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
      n_keys, n_rows, max_rows
    FROM c, s ORDER BY n DESC, key ASC LIMIT 10"""))

  /** EXT: data-quality expectations report — the assert-style contract
    * check (dbt tests / Great Expectations shape) run against every
    * ingested snapshot before it is published: referential integrity,
    * domain ranges, and key completeness, each reported as
    * (rule, n_violations, n_checked) so a gate can fail on any
    * n_violations > 0. Each rule is one aggregate over one scan (the
    * FK rule a broadcast anti join); the union is of 4 single-row
    * plans, not of data. All counts — no float surface. */
  val profileExpectations: Q = Q(
    "q_profile_expectations",
    (s, d) => {
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val lineitem = Tables.lineitem(s, d)
      def rule(name: String, violations: DataFrame, checked: DataFrame) =
        violations.agg(count(lit(1)).as("n_violations"))
          .crossJoin(broadcast(
            checked.agg(count(lit(1)).as("n_checked"))))
          .select(lit(name).as("rule"),
            col("n_violations"), col("n_checked"))
      rule("fk_orders_customer",
          orders.join(broadcast(customer),
            orders("o_custkey") === customer("c_custkey"), "left_anti"),
          orders)
        .unionByName(rule("range_lineitem_quantity",
          lineitem.where(col("l_quantity") < 1 || col("l_quantity") > 50),
          lineitem))
        .unionByName(rule("positive_order_totalprice",
          orders.where(col("o_totalprice") <= 0), orders))
        .unionByName(rule("notnull_customer_key",
          customer.where(col("c_custkey").isNull), customer))
        .orderBy("rule")
    },
    Some("""SELECT 'fk_orders_customer' AS rule,
      (SELECT count(*) FROM orders o LEFT JOIN customer c
        ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        AS n_violations,
      (SELECT count(*) FROM orders) AS n_checked
    UNION ALL SELECT 'range_lineitem_quantity',
      (SELECT count(*) FROM lineitem
        WHERE l_quantity < 1 OR l_quantity > 50),
      (SELECT count(*) FROM lineitem)
    UNION ALL SELECT 'positive_order_totalprice',
      (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
      (SELECT count(*) FROM orders)
    UNION ALL SELECT 'notnull_customer_key',
      (SELECT count(*) FROM customer WHERE c_custkey IS NULL),
      (SELECT count(*) FROM customer)
    ORDER BY rule"""))

  /** EXT: distribution-drift profile (PSI — population stability index,
    * the standard model-monitoring drift score) between a reference
    * window and a current window of the same table: orders before vs
    * on/after 1997-01-01, over fixed-width o_totalprice buckets. The
    * pipeline use: compare a new corpus/feature drop against the last
    * accepted snapshot and alarm when Σ psi > 0.2 (the conventional
    * threshold) — here the per-bucket rows are emitted (counts, shares,
    * contribution) and the caller sums, because a cross-bucket double
    * sum would be accumulation-order-dependent while the per-bucket
    * values are pure per-row scalars.
    *
    * Scale shape: one scan → 10-key aggregate (map-side combine
    * collapses each partition to ≤10 rows before the shuffle), then a
    * broadcast of the 1-row totals back over the 10-row result — the
    * table is never scanned twice and nothing wider than the bucket
    * histogram moves. Laplace smoothing ((n+1)/(N+B)) keeps ln finite
    * on empty-on-one-side buckets deterministically; ln itself runs
    * per-row on bitwise-identical doubles in both engines and is
    * rounded to 6 decimals (the q_text_tfidf libm-ulp discipline). */
  val profileDrift: Q = Q(
    "q_profile_drift",
    (s, d) => {
      val bucketed = Tables.orders(s, d).select(
        least(floor(col("o_totalprice") / 50000), lit(9)).cast("int")
          .as("bucket"),
        (col("o_orderdate") >= lit("1997-01-01").cast("date")).as("is_cur"))
      val hist = bucketed.groupBy(col("bucket")).agg(
        count(when(!col("is_cur"), 1)).as("n_ref"),
        count(when(col("is_cur"), 1)).as("n_cur"))
      val totals = hist.agg(
        sum(col("n_ref")).as("tot_ref"), sum(col("n_cur")).as("tot_cur"))
      val pRef = (col("n_ref") + 1).cast("double") /
        (col("tot_ref") + 10).cast("double")
      val pCur = (col("n_cur") + 1).cast("double") /
        (col("tot_cur") + 10).cast("double")
      hist.crossJoin(broadcast(totals))
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          pRef.as("share_ref"), pCur.as("share_cur"),
          round((pCur - pRef) * log(pCur / pRef), 6).as("psi_contrib"))
        .orderBy("bucket")
    },
    Some("""WITH hist AS (
      SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bucket,
        count(*) FILTER (WHERE o_orderdate < DATE '1997-01-01') AS n_ref,
        count(*) FILTER (WHERE o_orderdate >= DATE '1997-01-01') AS n_cur
      FROM orders GROUP BY 1),
    tot AS (SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM hist)
    SELECT bucket, n_ref, n_cur,
      CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + 10 AS DOUBLE) AS share_ref,
      CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + 10 AS DOUBLE) AS share_cur,
      round((CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + 10 AS DOUBLE)
           - CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + 10 AS DOUBLE))
        * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + 10 AS DOUBLE))
           / (CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + 10 AS DOUBLE))), 6)
        AS psi_contrib
    FROM hist CROSS JOIN tot ORDER BY bucket"""))

  /** EXT (r12 verdict missing #3): the COMPOSED end-to-end curation
    * pipeline — quality gate → exact dedup → near-dup drop →
    * decontaminate → mix-weight → pack, as ONE declared DataFrame
    * chain. Every stage exists as its own oracle-checked operator;
    * what no per-stage oracle can see is the SEAMS — a lost pushdown,
    * a redundant exchange, or a semantics drift where stage N+1 reads
    * the corpus instead of stage N's survivors. This query is the
    * integration contract: each stage consumes exactly the previous
    * stage's survivors, the whole chain is verified hash-exact against
    * a single DuckDB CTE chain, and PlanSpec pins the composed plan's
    * exchange count so a seam regression is a test failure.
    *
    * Stage semantics (deliberately the per-stage operators' rules):
    *  1. train split (doc_id % 97 != 0 — the eval slice never trains)
    *     + q_text_quality's absolute keep rule (20 ≤ tokens ≤ 400,
    *     stopword ratio < 0.5). Narrow scan-speed predicates first —
    *     at 100 TB this is the stage that must prune BEFORE any
    *     shuffle, and it does (one scan, filters pushed).
    *  2. exact dedup, q_dedup_exact's keep-first rule: one hash
    *     shuffle on lower(trim(text)); min(struct(doc_id, …)) keeps
    *     the lowest-id copy's whole row (doc_id is unique, so the
    *     struct min is deterministic).
    *  3. near-dup drop over the SURVIVORS' grams — the same
    *     ngramPairs machinery (per-source blocks, Bayardo prefix
    *     filter, t=0.8) as q_dedup_ngram_jaccard, but fed stage 2's
    *     output, not the corpus; docs appearing as the HIGHER id of a
    *     confident pair drop (greedy keep-lowest; cluster-resolution
    *     via components is q_dedup_components' job, documented there).
    *  4. decontaminate: q_text_decontaminate's 5-token-gram match
    *     against the eval slice's grams (eval grams broadcast — the
    *     benchmark side is thousands of docs, never corpus-scale).
    *  5. mix weights over the FINAL corpus (per-source token shares of
    *     what actually ships, not of the raw corpus — the seam the
    *     per-stage q_text_mix_weights cannot test).
    *  6. pack: q_text_pack's running-offset bin layout
    *     (chunkedRunning — no per-source single-task window), with
    *     each row carrying its source's mix weight.
    *
    * Scale shape: stages 1–2 are scan + one keyed shuffle; stage 3 is
    * the dominant cost and is EXACTLY the measured-linear ngram
    * machinery; stages 4–6 add one broadcast semi-drop, one per-source
    * agg (|sources| rows), and the chunked running sum.
    *
    * The two fan-out seams are MATERIALIZED via [[cut]] (the
    * connected-components discipline: localCheckpoint locally,
    * reliable checkpoint on a cluster): the stage-2 survivors feed the
    * near-dup machinery, which references its input many times
    * internally — harmless over a raw scan, but composed over a
    * computed stage it would replicate the quality+dedup subtree ~90×
    * in the plan (measured sf0.01: 92 documents scans, 195 exchanges
    * in the un-cut composed plan; runtime stage reuse collapses the
    * identical exchanges but every post-exchange tail re-executes) —
    * and the stage-4 survivors feed three consumers (weights, pack,
    * output). At 100 TB these two cuts are exactly where a production
    * pipeline persists its stage artifacts (quality+exact-deduped
    * corpus; final curated corpus) — pay the write once, every
    * consumer reads it. PipelineSpec pins the post-cut plan: ZERO
    * parquet scans (stages 5–6 read the survivors, never re-read the
    * corpus) and the fixed exchange count of the weights+pack seams.
    *
    * Measured end-to-end (BenchOne steady iter2+): sf5 (250k docs)
    * 14.4–15.0 s; sf20 (1M docs, 16g) 31–38 s — 4× the documents →
    * ~2.2–2.6× the chain, tracking its dominant stage (the measured-
    * linear near-dup machinery) plus the full-text exact-dedup
    * shuffle. */
  val pipelineCurate: Q = Q(
    "q_pipeline_curate",
    (s, d) => {
      def toks = filter(split(lower(col("text")), " "), t => t =!= "")
      def nTok = size(toks).cast("long")
      def nStop = size(filter(toks, x => x.isin("a", "the", "of", "and")))
        .cast("long")
      val docs = Tables.documents(s, d)
      // 1 — train split + absolute quality gate (narrow, pushed down)
      val quality = docs
        .where(col("doc_id") % 97 =!= 0)
        .where(nTok >= 20 && nTok <= 400
          && nStop.cast("double") / nTok < 0.5)
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      // 2 — exact dedup, keep-first: one hash shuffle on the norm key.
      // cut: the stage-2 artifact seam (see scaladoc)
      val exact = cut(quality
        .groupBy(lower(trim(col("text"))).as("__norm"))
        .agg(min(struct(col("doc_id"), col("source"), col("text"),
          col("n_chars"))).as("__kept"))
        .select(col("__kept.doc_id").as("doc_id"),
          col("__kept.source").as("source"),
          col("__kept.text").as("text"),
          col("__kept.n_chars").as("n_chars")))
      // 3 — near-dup drop among survivors (higher id of each pair)
      val grams = exact.select(col("doc_id"), col("source"),
        graft.functions.GramHashes(s, col("text"), 5).as("bg"))
      val nearDropIds = DedupOps
        .ngramPairs(s, grams, DedupOps.NgramBlockCap)
        .select(col("b_id").as("doc_id")).distinct()
      val near = exact.join(nearDropIds, Seq("doc_id"), "left_anti")
      // 4 — decontaminate vs the eval slice's token grams
      def tokGrams(df: DataFrame): DataFrame =
        df.select(col("doc_id"), toks.as("toks"))
          .where(size(col("toks")) >= DecontamGramLen)
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(1),
              size(col("toks")) - DecontamGramLen + 1)).as("i"))
          .select(col("doc_id"),
            array_join(slice(col("toks"), col("i"), lit(DecontamGramLen)),
              " ").as("gram"))
      val evalGrams = tokGrams(docs.where(col("doc_id") % 97 === 0))
        .select("gram").distinct()
      val leaked = tokGrams(near)
        .join(broadcast(evalGrams), Seq("gram"))
        .select("doc_id").distinct()
      // cut: the stage-4 artifact seam — the final curated corpus,
      // read by three consumers (weights, pack, output)
      val clean = cut(near.join(leaked, Seq("doc_id"), "left_anti"))
      // nothing reads `exact` past the materialized `clean`
      checkpointPath(exact).foreach(deleteCheckpoint(s, _))
      // 5 — mix weights over what actually ships
      val perSrc = clean.groupBy(col("source"))
        .agg(sum(nTok).as("src_tokens"))
      val totals = perSrc.agg(
        sum(col("src_tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
      val weights = perSrc.crossJoin(broadcast(totals))
        .select(col("source"),
          (col("total_tokens").cast("double")
            / (col("n_sources") * col("src_tokens")).cast("double"))
            .as("weight"))
      // 6 — pack the final corpus, carrying the weight
      val chunkDocs =
        s.conf.get("spark.graft.pack.chunkDocs", PackChunkDocs.toString)
          .toLong
      require(chunkDocs > 0,
        s"spark.graft.pack.chunkDocs must be positive: $chunkDocs")
      val base = clean.select(col("doc_id"), col("source"),
        ceil(col("n_chars").cast("double") / 4.0).cast("long")
          .as("n_tokens"))
      graft.engine.Skew.chunkedRunning(
          base, "source", expr(s"doc_id div $chunkDocs"),
          Seq("doc_id"), col("n_tokens"))
        .withColumn("start_offset", col("running_sum") - col("n_tokens"))
        .withColumn("bin_id", expr(s"start_offset div $PackBudget"))
        .withColumn("bin_offset",
          col("start_offset") - col("bin_id") * PackBudget)
        .join(broadcast(weights), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_offset"), col("bin_id"), col("bin_offset"),
          col("weight"))
        .orderBy("source", "doc_id")
    },
    Some(s"""WITH qual AS (
      SELECT doc_id, source, text, n_chars,
        CAST(len(list_filter(string_split(lower(text), ' '), x -> x != ''))
          AS BIGINT) AS n_tok,
        CAST(len(list_filter(string_split(lower(text), ' '),
          x -> x IN ('a','the','of','and'))) AS BIGINT) AS n_stop
      FROM documents WHERE doc_id % 97 != 0),
    q2 AS (
      SELECT doc_id, source, text, n_chars FROM qual
      WHERE n_tok >= 20 AND n_tok <= 400
        AND CAST(n_stop AS DOUBLE) / n_tok < 0.5e0),
    ex AS (
      SELECT doc_id, source, text, n_chars FROM (
        SELECT q2.*, min(doc_id)
          OVER (PARTITION BY lower(trim(text))) AS __keep
        FROM q2)
      WHERE doc_id = __keep),
    gr AS (
      SELECT doc_id, source,
        list_distinct(list_transform(
          generate_series(1, len(t) - 4),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
            || ' ' || t[i+3] || ' ' || t[i+4])) AS bg
      FROM (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), x -> x != '') AS t
            FROM ex)
      WHERE len(t) >= 5),
    g AS (
      SELECT doc_id, source, len(bg) AS n, unnest(bg) AS gram FROM gr),
    pairs AS (
      SELECT a.source AS source, a.doc_id AS a_id, b.doc_id AS b_id,
        count(*) AS n_common,
        any_value(a.n) AS na, any_value(b.n) AS nb
      FROM g a JOIN g b
        ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.source, a.doc_id, b.doc_id),
    drop_near AS (
      SELECT DISTINCT b_id AS doc_id FROM pairs
      WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
        >= ${DedupOps.NgramJaccardT}),
    nd AS (
      SELECT * FROM ex
      WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)),
    eval_grams AS (
      SELECT DISTINCT unnest(list_transform(
        generate_series(1, len(t) - $DecontamGramLen + 1),
        i -> array_to_string(t[i : i + $DecontamGramLen - 1], ' ')))
        AS gram
      FROM (SELECT list_filter(string_split(lower(text), ' '), x -> x != '')
              AS t
            FROM documents WHERE doc_id % 97 = 0)
      WHERE len(t) >= $DecontamGramLen),
    leaked AS (
      SELECT DISTINCT tg.doc_id FROM (
        SELECT doc_id, unnest(list_transform(
          generate_series(1, len(t) - $DecontamGramLen + 1),
          i -> array_to_string(t[i : i + $DecontamGramLen - 1], ' ')))
          AS gram
        FROM (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x != '')
                  AS t
              FROM nd)
        WHERE len(t) >= $DecontamGramLen) tg
      JOIN eval_grams USING (gram)),
    clean AS (
      SELECT * FROM nd
      WHERE doc_id NOT IN (SELECT doc_id FROM leaked)),
    per_src AS (
      SELECT source,
        CAST(sum(len(list_filter(string_split(lower(text), ' '),
          x -> x != ''))) AS BIGINT) AS src_tokens
      FROM clean GROUP BY source),
    tot AS (
      SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        count(*) AS n_sources
      FROM per_src),
    wts AS (
      SELECT source,
        CAST(total_tokens AS DOUBLE)
          / CAST(n_sources * src_tokens AS DOUBLE) AS weight
      FROM per_src, tot),
    packed AS (
      SELECT doc_id, source,
        CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0e0) AS BIGINT) AS n_tokens,
        COALESCE(CAST(sum(CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0e0)
          AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          AS start_offset
      FROM clean)
    SELECT p.doc_id, p.source, p.n_tokens, p.start_offset,
      p.start_offset // $PackBudget AS bin_id,
      p.start_offset - (p.start_offset // $PackBudget) * $PackBudget
        AS bin_offset,
      w.weight
    FROM packed p JOIN wts w USING (source)
    ORDER BY p.source, p.doc_id"""))

  /** EXT (r14): PageRank centrality on the user↔event-type bipartite
    * interaction graph — the iterative message-passing family
    * ([[connectedComponents]] is its min-semiring cousin; this is the
    * weighted-sum semiring), the standard "which catalog entities
    * matter, weighted by who touches them" ranking (Brin & Page 1998).
    * Nodes are users and event types, one edge pair per DISTINCT
    * (user, type) interaction, K = 3 power iterations, d = 0.85.
    *
    * Float-parity discipline: classic PageRank sums doubles, whose
    * value depends on reduction order — never declarable. This is
    * INTEGER PageRank: ranks carry a fixed 1e9 mass scale and every
    * step is BIGINT arithmetic — `rank div deg` (truncating division;
    * all values positive, so Spark's `div` ≡ DuckDB's `//`), exact
    * BIGINT sums (order-independent), then `(85·Σ) div 100`. The
    * truncation leaks ≤1 unit of mass per edge per iteration —
    * immaterial at 1e9 scale and IDENTICAL in both engines, so the
    * result is bit-exact by construction, not by rounding luck. The
    * oracle unrolls the 3 iterations as chained CTEs (aggregates are
    * illegal in a recursive member; K is fixed, so unrolling is the
    * honest form).
    *
    * Scale: the edge list (one `distinct` over the event scan) joins
    * its out-degrees once and is materialized via [[cut]] — the three
    * iteration plans re-read the ~|V×types| checkpoint, NEVER the
    * event corpus (the zero-rescan discipline of [[pipelineCurate]]).
    * Each iteration is one keyed join + one keyed aggregate — two
    * exchanges over the edge list, map-side-combined; K is a constant,
    * so the whole query is O(K·|E|) with bounded lineage (larger-K
    * callers should cut() per round like [[connectedComponents]]).
    * Node count never gathers to the driver. At ~1e9 nodes the 1e9
    * mass scale approaches BIGINT range on the total-mass invariant —
    * production at that node count drops the scale to 1e6 (same
    * construction, 3 fewer digits of rank resolution). */
  val graphPagerank: Q = Q(
    "q_graph_pagerank",
    (s, d) => {
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val u = concat(lit("u:"), col("user_id").cast("string"))
      val e = concat(lit("e:"), col("event_type"))
      val edges = pairs.select(u.as("src"), e.as("dst"))
        .unionByName(pairs.select(e.as("src"), u.as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val ed = cut(edges.join(deg, "src"))
      // Every node has in-edges (both directions of every interaction
      // exist), so the per-iteration groupBy(dst) re-covers the full
      // node set — no dangling-mass term. The initial ranks derive
      // from the CHECKPOINT (one O(E)→O(V) distinct), not from `deg`:
      // deg's plan hangs off the raw corpus scan, and seeding r0 from
      // it re-reads the corpus — the zero-rescan pin in PipelineSpec
      // caught exactly that in the first cut of this query.
      var ranks = ed.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1000000000L).as("pr"))
      for (_ <- 1 to 3) {
        ranks = ed.join(ranks, ed("src") === ranks("node"))
          .select(col("dst"), expr("pr div deg").as("c"))
          .groupBy(col("dst"))
          .agg(expr("150000000L + (85 * sum(c)) div 100").as("pr"))
          .select(col("dst").as("node"), col("pr"))
      }
      ranks.where(col("node").startsWith("e:"))
        .select(expr("substr(node, 3)").as("event_type"), col("pr"))
        .orderBy(col("pr").desc, col("event_type"))
    },
    Some("""WITH pairs AS (
      SELECT DISTINCT user_id, event_type FROM events),
    edges AS (
      SELECT 'u:' || CAST(user_id AS VARCHAR) AS src,
        'e:' || event_type AS dst FROM pairs
      UNION ALL
      SELECT 'e:' || event_type, 'u:' || CAST(user_id AS VARCHAR)
      FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
    r1 AS (
      SELECT ed.dst AS node,
        CAST(150000000 + (85 * sum(r0.pr // ed.deg)) // 100 AS BIGINT) AS pr
      FROM ed JOIN r0 ON ed.src = r0.node GROUP BY ed.dst),
    r2 AS (
      SELECT ed.dst AS node,
        CAST(150000000 + (85 * sum(r1.pr // ed.deg)) // 100 AS BIGINT) AS pr
      FROM ed JOIN r1 ON ed.src = r1.node GROUP BY ed.dst),
    r3 AS (
      SELECT ed.dst AS node,
        CAST(150000000 + (85 * sum(r2.pr // ed.deg)) // 100 AS BIGINT) AS pr
      FROM ed JOIN r2 ON ed.src = r2.node GROUP BY ed.dst)
    SELECT substr(node, 3) AS event_type, pr
    FROM r3 WHERE node LIKE 'e:%'
    ORDER BY pr DESC, event_type"""))

  val all: Seq[Q] = Seq(dedupComponents, dedupClusterKeep, textPack,
    textQualityFilter, textChunk, textDecontaminate, profileTable,
    textMixWeights, textMixTemperature, profileSkew,
    profileExpectations, profileDrift, pipelineCurate, graphPagerank)
}
