package graft

import org.apache.spark.sql.functions._

/** Plan-quality regression guards: the properties that make these plans
  * scale are asserted, not just eyeballed — filter/projection pushdown
  * reaching the parquet scan, dimension broadcast, partial/final
  * aggregation, top-N via TakeOrdered, and partitioned-snapshot
  * round-trips.
  */
class PlanSpec extends SparkSpec {
  private def executed(name: String): String =
    q(name).queryExecution.executedPlan.toString

  test("scan query pushes filters and prunes columns at the source") {
    val plan = executed("q_scan_project_filter")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"),
      plan.take(800))
    // plan text truncates long fields; the prefix proves pruning to the
    // 5 selected columns (FileScan output list confirms too)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
      + "l_quantity:double,l_extendedprice:double"),
      "projection must prune to the 5 selected columns")
  }

  test("native as-of join plans AsofJoinExec with no window, matches the composed form") {
    val plan = executed("q_join_asof_native")
    assert(plan.contains("AsofJoin"), plan.take(800))
    assert(!plan.contains("Window"),
      "native as-of must not materialize candidates into a window sort")
    // the whole point: output identical to the composed join+window form
    // (cast aligns the NTZ/LTZ flavor — values are identical under the
    // pinned UTC session, and the DuckDB oracle hash-checks both)
    val native = q("q_join_asof_native").collect().toSeq
    val composed = q("q_join_asof")
      .withColumn("asof_orderdate", col("asof_orderdate").cast("timestamp"))
      .collect().toSeq
    assert(native == composed,
      s"native=${native.take(3)} composed=${composed.take(3)}")
    // null keys match nothing and don't break the merge
    import spark.implicits._
    val l = Seq((Some(1L), 10L, 100L), (None, 20L, 200L))
      .toDF("k", "t", "lv")
    val r = Seq((Some(1L), 5L, 7L), (None, 1L, 8L))
      .toDF("k", "t", "rv")
      .select(col("k").as("rk"), col("t").as("rt"), col("rv"))
    val out = graft.plans.Asof.join(l, r, "k", "rk", "t", "rt")
      .select(col("lv"), col("rv")).orderBy("lv").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 100L && out(0).getLong(1) == 7L)
    assert(out(1).getLong(0) == 200L && out(1).isNullAt(1),
      "null left key must not match")
    // tolerance: same rows, but the (t=10, rt=5) gap of 5 exceeds tol=4
    // -> null; tol=5 is inclusive -> match
    def tol(t: Long) = graft.plans.Asof
      .join(l, r, "k", "rk", "t", "rt", tolerance = Some(t))
      .where(col("lv") === 100L).select(col("rv")).head()
    assert(tol(4).isNullAt(0), "gap 5 must fail tolerance 4")
    assert(tol(5).getLong(0) == 7L, "tolerance bound is inclusive")
  }

  test("as-of forward and nearest directions (pandas merge_asof rules)") {
    import spark.implicits._
    // right rows per key 1: times 5, 10, 10, 30 (tie at 10 to check
    // the direction-specific tie rule: forward keeps the FIRST in
    // (rt, tieBreak) order, backward the LAST)
    val r = Seq((1L, 5L, 50L), (1L, 10L, 101L), (1L, 10L, 102L),
      (1L, 30L, 300L))
      .toDF("rk", "rt", "rv")
    def one(l: (Long, Long), dir: String, tol: Option[Long] = None) = {
      val lf = Seq(l).toDF("k", "t")
      graft.plans.Asof.join(lf, r, "k", "rk", "t", "rt",
        tieBreak = Seq("rv"), tolerance = tol, direction = dir)
        .select(col("rv")).head()
    }
    // forward: first row with rt >= t; exact match included; smallest
    // tie-break among equal rt
    assert(one((1L, 7L), "forward").getLong(0) == 101L)
    assert(one((1L, 10L), "forward").getLong(0) == 101L,
      "forward includes exact matches, smallest tie-break")
    assert(one((1L, 31L), "forward").isNullAt(0), "nothing later -> null")
    assert(one((1L, 11L), "forward", tol = Some(10L)).isNullAt(0),
      "forward gap 19 must fail tolerance 10")
    // backward at the tie keeps the LAST tie-break
    assert(one((1L, 10L), "backward").getLong(0) == 102L)
    // nearest: backward gap vs strictly-later forward gap
    assert(one((1L, 12L), "nearest").getLong(0) == 102L, "gap 2 < 18")
    assert(one((1L, 25L), "nearest").getLong(0) == 300L, "gap 5 < 15")
    assert(one((1L, 20L), "nearest").getLong(0) == 102L,
      "equal gaps (10) choose backward")
    assert(one((1L, 10L), "nearest").getLong(0) == 102L,
      "exact match wins at gap 0")
    assert(one((1L, 25L), "nearest", tol = Some(3L)).isNullAt(0),
      "both candidates out of tolerance -> null")
    assert(one((1L, 25L), "nearest", tol = Some(5L)).getLong(0) == 300L,
      "tolerance filters candidates before nearest chooses")
    // a too-old backward match must not shadow an in-tolerance forward
    assert(one((1L, 28L), "nearest", tol = Some(2L)).getLong(0) == 300L)
  }

  test("as-of exchanges stay shuffle.partitions-wide when AQE initialPartitionNum is raised") {
    // r8 SCALE.md latent cliff: AsofJoinExec once pinned
    // SQLConf.numShufflePartitions, which silently resolves to AQE's
    // initialPartitionNum when coalescing is enabled — a pinned
    // requirement is uncoalescible, so the standard cluster posture
    // (initialPartitionNum in the hundreds–thousands) would have run
    // every as-of join at the full initial width as real tasks. The
    // fix pins defaultNumShufflePartitions (the operator-tuned
    // spark.sql.shuffle.partitions); this guard re-plans the join
    // under a raised initial width — the cluster condition the local
    // suite otherwise never exercises — and asserts both child
    // exchanges still land exactly shuffle.partitions wide.
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "512")
    try {
      val df = q("q_join_asof_native")
      df.collect() // finalize the adaptive plan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      // tree walk that descends through the AQE wrappers — every
      // QueryStageExec flavor (Shuffle/Broadcast/Result) is a LEAF
      // hiding its subtree behind .plan
      def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      def collectAll[T](p: SparkPlan)(
          f: PartialFunction[SparkPlan, T]): Seq[T] =
        (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++
          unwrap(p).flatMap(collectAll(_)(f))
      val root = df.queryExecution.executedPlan
      val joins = collectAll(root) { case j: graft.plans.AsofJoinExec => j }
      assert(joins.nonEmpty, root.toString.take(1200))
      val widths = joins.flatMap(j => collectAll(j: SparkPlan) {
        case e: ShuffleExchangeLike => e.numPartitions
      })
      val expected = spark.sessionState.conf.defaultNumShufflePartitions
      assert(widths.size >= 2, s"expected both child exchanges, got $widths")
      assert(widths.forall(_ == expected),
        s"as-of exchange widths $widths != shuffle.partitions $expected " +
          "(initialPartitionNum leaked into the pinned requirement)")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("expensive scan projections evaluate above the global sort (sampler re-execution fix)") {
    // r9: a global sort's range-exchange samples by EXECUTING ITS
    // CHILD A SECOND TIME — for scan-shaped text queries the expensive
    // regex/kernel projection was the whole cost and the sort doubled
    // it (sf20: 25.1 -> 8.3 s). SortBelowExpensiveProject must leave
    // the projection ABOVE the sort: plan reads Project over Sort, and
    // the sampled/exchanged child carries the raw scan columns.
    for (name <- Seq("q_text_tokencount", "q_text_bpe_tokens",
        "q_dedup_simhash")) {
      val df = q(name)
      val plan = df.queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
      plan match {
        case Project(_, _: Sort) => () // projection above the sort
        case other => fail(s"$name: expected Project over Sort, got:\n" +
          other.treeString.take(800))
      }
    }
    // negative guard: a CHEAP reducing projection must NOT be pulled
    // above the sort — there the exchange should move the projected
    // rows, not the raw scan (the rule's `expensive` gate)
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val cheap = engine.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), (col("l_quantity") * 2).as("q2"))
      .orderBy("l_orderkey")
    cheap.queryExecution.optimizedPlan match {
      case _: Sort => () // Sort stayed on top of the (collapsed) project
      case other => fail("cheap projection was pulled above the sort:\n" +
        other.treeString.take(600))
    }
  }

  test("SQL-path asof_join TVF plans AsofJoinExec, matches the native form") {
    val plan = executed("q_join_asof_sql")
    assert(plan.contains("AsofJoin"), plan.take(800))
    assert(!plan.contains("Window"),
      "the TVF route must reach the native exec, not the window shape")
    val sqlForm = q("q_join_asof_sql").collect().toSeq
    val native = q("q_join_asof_native").collect().toSeq
    assert(sqlForm == native)
  }

  test("as-of self-join dedups attribute ids; resolver honors case; string keys") {
    import spark.implicits._
    // String keys also exercise the UTF8String snapshot path: bestKey
    // must survive the projection's buffer reuse across right rows.
    val df = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("b", 15L, 3L))
      .toDF("k", "t", "v")
    // Same DataFrame on both sides — r5 built a plan with conflicting
    // expression IDs here; the API now re-aliases the right side.
    val self = graft.plans.Asof.join(df, df, "k", "k", "t", "t")
    val m = self.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(5))).toSet
    assert(m == Set(("a", 10L, 1L), ("a", 20L, 2L), ("b", 15L, 3L)),
      s"each row must as-of-match itself, got ${m.mkString(", ")}")
    // Name lookup goes through the analyzer's resolver: upper-cased
    // right-side names resolve in the default case-insensitive session.
    val r2 = df.select(col("k").as("RK"), col("t").as("RT"),
      col("v").as("rv"))
    assert(graft.plans.Asof.join(df, r2, "k", "rk", "t", "rt")
      .count() == 3)
  }

  test("star join broadcasts both dimensions") {
    val plan = executed("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(800))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("flagship aggregation is two-phase (partial then final)") {
    val plan = executed("q_agg_hash_group")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(800))
  }

  test("global top-N plans TakeOrderedAndProject, not a full sort") {
    val plan = executed("q_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("hybrid search cuts each leg with TakeOrderedAndProject before " +
      "the bounded rank windows") {
    val plan = executed("q_search_hybrid")
    // Both legs' top-100 cuts AND the final top-20 must be
    // TakeOrderedAndProject (no full sort of either leg's score set);
    // the unpartitioned rank windows then see ≤100 rows by plan shape.
    val cuts = "TakeOrderedAndProject".r.findAllIn(plan).size
    assert(cuts >= 3, s"expected >=3 TakeOrderedAndProject, got $cuts:\n${
      plan.take(1500)}")
    assert(!plan.contains("Sort [bm25"),
      s"lexical leg fell back to a full sort:\n${plan.take(1500)}")
  }

  test("surrogate ids: ranking window is KEYED (distributed), offsets " +
      "broadcast, and ids are a dense 1..N permutation") {
    val df = q("q_gen_surrogate_id")
    val plan = df.queryExecution.executedPlan.toString
    // The oracle's single-partition `row_number() OVER (ORDER BY ...)`
    // must NOT be the engine's plan: the only window runs per-source.
    assert(plan.contains("Window [row_number()"), plan.take(1200))
    assert(plan.contains("windowspecdefinition(source"),
      s"ranking window lost its partition key:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"offset attach must broadcast:\n${plan.take(1200)}")
    val ids = df.collect().map(_.getLong(2))
    assert(ids.toSeq == (1L to ids.length).toSeq,
      s"ids are not dense 1..N: ${ids.take(10).mkString(",")}")
  }

  test("OHLC bars plan window-free and match the row_number form") {
    // r11 de-cliff: open/close via min/max of struct(ts, event_id,
    // value) — one partial-aggregating groupBy, no per-(type, day)
    // window sort that a hot day would serialize through one task.
    val plan = executed("q_event_ohlc")
    assert(!plan.contains("Window"),
      "OHLC must not sort (event_type, day) slices:\n" + plan.take(1200))
    // struct-ordered min/max can't use hash-agg buffers, so the plan is
    // SortAggregate — still TWO-PHASE (partial_min/max before the
    // exchange, each map split locally sorted in parallel), which is
    // the property that scales; assert it explicitly
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      "OHLC groupBy must partial-aggregate map-side:\n" + plan.take(1200))
    // equivalence vs the old explicit row_number form (the DuckDB
    // oracle keeps that shape too; this pins it at unit scope)
    import org.apache.spark.sql.expressions.Window
    val ev = engine.Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("value"))
    val wAsc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val windowed = ev.withColumn("rn_o", row_number().over(wAsc))
      .withColumn("rn_c", row_number().over(wDesc))
      .groupBy(col("event_type"), col("day"))
      .agg(
        max(when(col("rn_o") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_c") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type", "day")
    assert(q("q_event_ohlc").collect().toSeq == windowed.collect().toSeq)
  }

  test("stream-stream join's batch form is an equi join with a range residual") {
    val plan = executed("q_stream_join")
    // user_id must be the shuffle key; the time range stays a residual —
    // a nested-loop here would be quadratic in events
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("IVF search joins on the cell key, never crossing the corpus") {
    val plan = executed("q_sim_ivf_topk")
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(plan.contains("cell"), plan.take(1200))
  }

  test("skew-salt join keys on (user_id, salt), stays non-broadcast, " +
      "and equals the plain join") {
    // r15 re-scope: the declared query is now the batch-parity twin of
    // the STREAM-STATIC salted enrichment (the niche the r14 A/B
    // proved is the only place manual salting wins — AQE can't re-plan
    // a frozen streaming plan). Its premise is a dim too big/volatile
    // to broadcast, so the plan must be a SHUFFLED join on (key, salt):
    // a broadcast would mean no shuffle and nothing for the salt to
    // spread; a plan that dropped salt from the keys would ×8 the join
    // output silently.
    val plan = executed("q_join_skew_salt")
    assert(plan.contains("salt"), plan.take(1200))
    assert(plan.contains("ShuffledHashJoin"), plan.take(1200))
    assert(!plan.contains("BroadcastHashJoin")
      && !plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    val salted = q("q_join_skew_salt").collect().toSeq
    val plain = {
      val ev = engine.Tables.events(spark, sf)
      val c = engine.Tables.customer(spark, sf)
      ev.join(c, ev("user_id") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("c_mktsegment")
        .collect().toSeq
    }
    assert(salted.map(r => (r.getString(0), r.getLong(1))) ==
      plain.map(r => (r.getString(0), r.getLong(1))),
      "salting changed the join result")
  }

  test("decontamination broadcasts the eval grams, never shuffling the corpus") {
    val plan = executed("q_text_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "corpus-side shuffle join defeats the broadcast design")
  }

  test("chunking covers every token with the declared overlap") {
    val chunks = q("q_text_chunk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("sum_chunk_toks"),
        max(col("chunk_idx")).as("max_idx"))
      .collect()
    val docs = engine.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), t => t =!= ""))
          .cast("long").as("n_toks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chunks.foreach { r =>
      val (id, nChunks, sumToks, maxIdx) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
      val n = docs(id)
      // starts step by 24 until they pass the end → every position
      // covered exactly (1 + overlap-count) times in total
      val expectChunks = (n - 1) / 24 + 1
      assert(nChunks == expectChunks, s"doc $id: $nChunks != $expectChunks")
      assert(maxIdx.toLong == expectChunks - 1)
      // total sliced tokens = n + 8-token overlap per interior boundary,
      // except final short chunks that can't reach 8 back-tokens
      assert(sumToks >= n && sumToks <= n + 8 * (expectChunks - 1),
        s"doc $id: coverage $sumToks outside [$n, ${n + 8 * (expectChunks - 1)}]")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // At 100 TB the win: a bloom filter built from the filtered dim's
    // join keys is pushed into the fact scan, dropping non-joining rows
    // BEFORE the shuffle. Local fixtures sit under the size thresholds
    // that gate injection, so the thresholds are lowered for this test
    // only — on a cluster the defaults (10 MB creation / 10 GB
    // application side) fire on their own.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = engine.Tables.lineitem(spark, sf)
      val ord = engine.Tables.orders(spark, sf)
        .where(col("o_orderstatus") === "F")
      val plan = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        "bloom filter must reach the fact side:\n" + plan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("AQE skew split is the recommended batch default: a skewed SMJ " +
      "re-plans with skew=true and splits the hot partition") {
    // r14 (VERDICT r13 next #7) — the skew A/B (now `graft.Diag skew`) measured at
    // sf5/sf20: hot-key SMJ baseline 7.1/25.4 s, AQE skew split ON
    // 2.6/10.0 s (2.5-2.7x), manual Skew.saltedJoin 9.1/36.2 s —
    // WORSE than the un-mitigated baseline when the dim is fact-sized,
    // because saltedJoin replicates the WHOLE dim xN while AQE
    // replicates only the matching dim ranges of the oversized
    // partitions. The recommended default is therefore AQE's runtime
    // split (session default ON), with saltedJoin reserved for the
    // shapes AQE cannot re-plan: stream-static joins and skew inside a
    // single in-flight partition. This pins (a) the session default,
    // (b) that a genuinely skewed SMJ actually re-plans with
    // skew=true under fixture-scaled thresholds.
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
      "AQE skew join must stay the session default")
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.shuffle.partitions", "32")
      // 90% of fact rows on one key, values made incompressible
      // (xxhash64) — skew detection reads COMPRESSED map-output sizes,
      // and a constant-key/sequential-value hot partition lz4-shrinks
      // below any realistic threshold (found empirically r14)
      val fact = spark.range(0, 1000000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0L ELSE id END AS k",
        "xxhash64(id) AS v")
      val dim = spark.range(0, 1000000, 97).selectExpr(
        "id AS k", "xxhash64(id, id) AS w")
      val joined = fact.join(dim, "k")
        .groupBy(col("k") % 7).agg(count(lit(1)).as("n"))
      joined.collect() // executes the DataFrame's OWN QueryExecution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "skewed SMJ must re-plan with skew=true:\n" + plan.take(1500))
      // node prints "AQEShuffleRead skewed" or "coalesced and skewed"
      assert(plan.contains("skewed"),
        "hot partition must be split by a skewed AQEShuffleRead:\n" +
          plan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("shuffle_hash hint plans a ShuffledHashJoin with no sort under it") {
    val plan = executed("q_join_shuffle_hash")
    assert(plan.contains("ShuffledHashJoin"),
      "hint must override the default SMJ:\n" + plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
    // the strategy's point: neither side sorts below the join (the
    // only Sort in the plan is the final ORDER BY above the aggregate)
    val joinIdx = plan.indexOf("ShuffledHashJoin")
    assert(!plan.substring(joinIdx).contains("+- *Sort") &&
      !plan.substring(joinIdx).contains("+- Sort"),
      "no sort may appear below the hash join:\n" + plan.take(1500))
  }

  test("partitioned snapshot write round-trips and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_")
      .resolve("li").toString
    val li = engine.Tables.lineitem(spark, sf)
    engine.Snapshot.write(li, dir, partitionBy = Seq("l_returnflag"))
    val restored = spark.read.parquet(dir)
    assert(restored.count() == li.count())
    val pruned = restored.where(col("l_returnflag") === "R")
    val scan = pruned.queryExecution.executedPlan.toString
    // partition filter must be a partition filter, not a data filter
    assert(scan.contains("PartitionFilters") &&
      scan.contains("l_returnflag"), scan.take(800))
    assert(pruned.count() ==
      li.where(col("l_returnflag") === "R").count())
  }

  test("candidate-pair families scan their table once, join nothing, " +
      "and compute each signature once") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Plans extends AdaptiveSparkPlanHelper
    Seq("q_dedup_simhash_pairs" -> "simhash_portable(",
        "q_dedup_embedding" -> "hyperplane_sig(",
        "q_sim_lsh_topk" -> "hyperplane_sig(").foreach { case (name, sig) =>
      val df = q(name)
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val text = plan.toString
      assert(Plans.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s }.size == 1, s"$name:\n$text")
      assert(Plans.collectWithSubqueries(plan) {
        case j: BaseJoinExec => j }.isEmpty, s"$name:\n$text")
      assert(text.sliding(sig.length).count(_ == sig) == 1, s"$name:\n$text")
      assert(text.contains("BucketPairs"), s"$name:\n$text")
      // no operator evaluates a higher-order function (an interpreted lambda)
      val hofs = Plans.collectWithSubqueries(plan) { case p => p }
        .flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h }))
      assert(hofs.isEmpty, s"$name: ${hofs.mkString(", ")}\n$text")
    }
  }
}
