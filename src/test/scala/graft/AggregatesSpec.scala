package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

class AggregatesSpec extends SparkSpec {
  test("flagship pricing summary groups sum to the filtered row count") {
    val df = q("q_agg_hash_group").cache()
    assert(df.count() > 0)
    val counted = df.agg(sum("count_order")).head.getLong(0)
    val expected = engine.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(counted == expected)
    df.unpersist()
  }

  test("stratified sample rates land near targets; partition-invariant") {
    // The deterministic LCG sampler must (a) hit each stratum's target
    // rate within sampling noise, (b) produce the SAME subset under a
    // different partitioning — the property the old per-partition-
    // seeded sampleBy lacked and the reason the query is now
    // oracle-checkable.
    val docs = engine.Tables.documents(spark, sf)
    val strata = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = q("q_sample_stratified").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val targets = Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.3,
      "fr" -> 0.3, "zh" -> 0.3)
    targets.foreach { case (lang, rate) =>
      val n = strata.getOrElse(lang, 0L)
      if (n >= 30) {
        val got = sampled.getOrElse(lang, 0L).toDouble / n
        // 4-sigma Bernoulli tolerance at this stratum size
        val tol = 4 * math.sqrt(rate * (1 - rate) / n)
        assert(math.abs(got - rate) <= tol,
          f"$lang: rate $got%.3f vs target $rate (n=$n, tol=$tol%.3f)")
      }
    }
    // non-target languages must be absent entirely
    (sampled.keySet -- targets.keySet).foreach(l =>
      fail(s"unexpected stratum in sample: $l"))
    // partition invariance: the same rows are selected regardless of
    // how the input is partitioned (per-row identity hash, no RNG
    // state) — the property the per-partition-seeded sampleBy lacked
    val pred = pmod((col("doc_id") + lit(7L)) * lit(16807L),
      lit(2147483647L)) % 1000 <
      when(col("lang") === "en", lit(500))
        .when(col("lang").isin("de", "es", "fr", "zh"), lit(300))
        .otherwise(lit(0))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.where(pred).select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(docs)
    assert(base.nonEmpty)
    assert(ids(docs.repartition(16)) == base)
    assert(ids(docs.repartition(1)) == base)
  }

  test("approx_count_distinct within 3x the 5% rsd of exact") {
    val approx = q("q_agg_approx_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = engine.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.15,
        s"$k: approx=${approx(k)} exact=$n")
    }
  }

  test("rollup emits grand total + per-nation subtotals + leaves") {
    val rows = q("q_agg_grouping_sets").collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val total = engine.Tables.customer(spark, sf).count()
    assert(grand.head.getLong(2) == total)
  }

  test("stats stddev matches stddev_samp within 1e-6 relative") {
    val got = q("q_agg_stats").collect()
      .map(r => r.getString(0) -> r.getDouble(6)).toMap
    val ref = engine.Tables.orders(spark, sf)
      .groupBy("o_orderpriority").agg(stddev_samp(col("o_totalprice")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ref.foreach { case (k, s) =>
      assert(math.abs(got(k) - s) / s < 1e-6, s"$k: ${got(k)} vs $s")
    }
  }

  test("HLL sketch union of per-lang shards equals the direct corpus sketch") {
    import org.apache.spark.sql.functions._
    val tok = graft.engine.Tables.documents(spark, sf)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
    // mergeability law: union(per-shard sketches) == sketch(all) — this
    // is what makes re-aggregation at 100 TB free
    val merged = tok.groupBy(col("lang"))
      .agg(hll_sketch_agg(col("token"), lit(12)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      .head().getLong(0)
    val direct = tok
      .agg(hll_sketch_estimate(hll_sketch_agg(col("token"), lit(12))))
      .head().getLong(0)
    assert(merged == direct, s"union $merged != direct $direct")
    val exact = tok.select("token").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"estimate $merged vs exact $exact drifts > 5%")
    // the declared query carries the same numbers
    val all = q("q_agg_hll_sketch").where(col("lang") === "__all__")
      .head()
    assert(all.getLong(1) == merged)
  }

  test("q_agg_hll_sketch and q_agg_kmv_estimate cut to reliable storage " +
      "when a checkpoint dir is configured, with identical results") {
    // localCheckpoint blocks die with their executor; with a checkpoint
    // dir each query's one materialization must be a reliable
    // checkpoint, and the rows must match the local-mode path.
    val names = Seq("q_agg_hll_sketch", "q_agg_kmv_estimate")
    val local = names.map(n => q(n).collect().toSeq)
    val dir = java.nio.file.Files.createTempDirectory("graft-agg-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      names.zip(local).foreach { case (n, want) =>
        assert(q(n).collect().toSeq == want, s"$n changed under reliable checkpoints")
      }
      val written = scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
        s.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("rdd-"))
      }
      assert(written == names.size,
        s"expected one reliable checkpoint per query, found $written")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("q_agg_weighted_median buckets prices past 2^31 and below zero " +
      "like the plain single-window form") {
    // An INT-cast bucket throws CAST_OVERFLOW under ANSI mode for a
    // DECIMAL(12,2) price >= 2^31; the plain cumulative-window form has
    // no such limit. Negative prices must land in ordered buckets too.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wmedian")
    try {
      Seq(
        ("A", -130.25, 1.0), ("A", -64.0, 2.0), ("A", -0.5, 1.0),
        ("A", 10.0, 1.0), ("A", 3000000000.5, 10.0),
        ("N", -200.75, 3.0), ("N", -63.99, 1.0), ("N", 0.0, 1.0),
        ("N", 63.99, 1.0), ("N", 3000000000.5, 1.0),
        ("R", 5.0, 1.0), ("R", 70.0, 1.0), ("R", 128.0, 2.0),
        ("R", 2147483648.0, 1.0), ("R", 3000000000.5, 1.0))
        .toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.parquet(s"$dir/lineitem.parquet")
      spark.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("wm_lineitem")
      val plain = spark.sql(Registry.byName("q_agg_weighted_median").oracle.get
        .replace("FROM lineitem", "FROM wm_lineitem"))
        .as[(String, Double)].collect().toSeq
      assert(plain == Seq("A" -> 3000000000.5, "N" -> -63.99, "R" -> 128.0))
      val got = Registry.byName("q_agg_weighted_median").fn(spark, dir.toString)
        .as[(String, Double)].collect().toSeq
      assert(got == plain)
    } finally {
      spark.catalog.dropTempView("wm_lineitem")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("CMS estimates never underestimate, stay within eps*N, and are partition-invariant") {
    import org.apache.spark.sql.functions._
    val rows = q("q_text_cms_topk").collect()
    assert(rows.length == 10)
    val tok = graft.engine.Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .where(col("token") =!= "")
    val n = tok.count()
    // eps = e / width for the classic CMS bound (width 2048)
    val epsN = (math.E / 2048 * n).ceil.toLong
    rows.foreach { r =>
      val (exact, cms) = (r.getLong(1), r.getLong(2))
      assert(r.getBoolean(3) && cms >= exact,
        s"${r.getString(0)}: cms $cms underestimates exact $exact")
      assert(cms - exact <= epsN,
        s"${r.getString(0)}: overcount ${cms - exact} breaks eps*N=$epsN")
    }
    // the sketch is a FIXED-SIZE relational structure (<= depth*width
    // counter rows regardless of corpus size), built by a keyed count
    // -> merges are elementwise sums, so the counters (and every
    // estimate) are bit-identical under any partitioning; this is the
    // property that makes the build safe as a map-side-combined agg
    // and per-shard sketches re-aggregable without a corpus re-scan
    val p = graft.functions.GramSketch.PortableP
    def counters(parts: Int) = tok.repartition(parts)
      .select(graft.functions.RollingHash(spark, col("token")).as("g"))
      .select(posexplode(array((0 until 4).map(r =>
        ((col("g") * lit(graft.functions.GramSketch.portableA(r))
          + lit(graft.functions.GramSketch.portableB(r))) % p) % 2048L): _*))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    val c3 = counters(3)
    assert(c3.size <= 4 * 2048, "sketch must stay fixed-size")
    assert(c3 == counters(11), "CMS counters changed under repartitioning")
    // the declared query's estimate equals a hand-probe of the counters
    val g0 = tok.where(col("token") === rows.head.getString(0))
      .select(graft.functions.RollingHash(spark, col("token")))
      .head().getLong(0)
    val hand = (0 until 4).map { r =>
      val b = ((g0 * graft.functions.GramSketch.portableA(r)
        + graft.functions.GramSketch.portableB(r)) % p) % 2048L
      c3((r, b))
    }.min
    assert(hand == rows.head.getLong(2),
      "declared query estimate disagrees with a hand-probe of the counters")
  }
}
