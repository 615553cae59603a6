package graft.queries

import graft.Q
import graft.engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation operators (SURVEY.md §2B B13–B18).
  *
  * Reference analog: the bash pipelines' only "aggregation" is the
  * non-empty snapshot guard (`[ -s "$DUMP_FILE" ]`, backup.sh:215) and
  * status summarization (`tail -1`, backup.sh:143); here the engine
  * exposes the full hash-aggregate family. Catalyst plans each groupBy
  * as partial+final HashAggregateExec (map-side combine), so at 100 TB
  * only the per-group partials shuffle — never raw rows.
  */
object Aggregates {

  /** B13 flagship: TPC-H Q1-style pricing summary. */
  val aggHashGroup: Q = Q(
    "q_agg_hash_group",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      // Exact-decimal money arithmetic: raw 2/4-digit columns cast to
      // decimal, products stay decimal (exact) → order-independent sums.
      val price = Det.dec(col("l_extendedprice"), 2)
      val disc1 = Det.dec(lit(1), 4, 8) - Det.dec(col("l_discount"), 4, 8)
      val tax1 = Det.dec(lit(1), 4, 8) + Det.dec(col("l_tax"), 4, 8)
      l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Det.dsum(col("l_quantity"), 2).as("sum_qty"),
          Det.dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          // Rescale to the TRUE product scale (≤6 decimals: 2+2+2) before
          // the double conversion — an exact rescale, immune to DuckDB's
          // truncate-vs-round-half-up downscale difference. The unscaled
          // value passes 2^53 at sf1 (~8.3e16), where DuckDB's direct
          // decimal→double cast stops being correctly rounded (r6 sf1
          // run caught the last-ULP divergence), so convert via
          // bigToDouble's exact int/frac split.
          Det.bigToDouble(sum(price * disc1).cast(DecimalType(24, 6)))
            .as("sum_disc_price"),
          Det.bigToDouble(sum(price * disc1 * tax1).cast(DecimalType(24, 6)))
            .as("sum_charge"),
          Det.davg(col("l_quantity"), 2).as("avg_qty"),
          Det.davg(col("l_extendedprice"), 2).as("avg_price"),
          Det.davg(col("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${Det.sqlSum("l_quantity", 2)} AS sum_qty,
      ${Det.sqlSum("l_extendedprice", 2)} AS sum_base_price,
      ${Det.sqlBigToDouble(s"CAST(sum(${Det.sqlDec("l_extendedprice", 2)} * (${Det.sqlDec("1", 4, 8)} - ${Det.sqlDec("l_discount", 4, 8)})) AS DECIMAL(24,6))")} AS sum_disc_price,
      ${Det.sqlBigToDouble(s"CAST(sum(${Det.sqlDec("l_extendedprice", 2)} * (${Det.sqlDec("1", 4, 8)} - ${Det.sqlDec("l_discount", 4, 8)}) * (${Det.sqlDec("1", 4, 8)} + ${Det.sqlDec("l_tax", 4, 8)})) AS DECIMAL(24,6))")} AS sum_charge,
      ${Det.sqlAvg("l_quantity", 2)} AS avg_qty,
      ${Det.sqlAvg("l_extendedprice", 2)} AS avg_price,
      ${Det.sqlAvg("l_discount", 4)} AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""))

  /** B14: exact distinct customers (+ order count) per priority. */
  val aggDistinct: Q = Q(
    "q_agg_distinct",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
      count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** B15: HLL approximate distinct — approx value differs from DuckDB's
    * sketch, so no oracle; bounds asserted in AggregatesSpec. */
  val aggApproxDistinct: Q = Q(
    "q_agg_approx_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_median_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
    None)

  /** EXT: mergeable HLL sketches (Apache DataSketches via Spark 3.5+
    * built-ins) — THE 100 TB cardinality tool: per-shard sketches are
    * tiny fixed-size states whose UNION equals the sketch of the union
    * (re-aggregation without re-scanning). Here: per-language token
    * vocabulary sketches, union-merged to the corpus estimate, beside
    * exact counts so drift is visible in the declared output. DuckDB's
    * approx sketch differs → no oracle; AggregatesSpec asserts
    * merged == direct (the mergeability law) and the error bound. */
  val aggHllSketch: Q = Q(
    "q_agg_hll_sketch",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"),
          explode(split(lower(col("text")), " ")).as("token"))
        .where(col("token") =!= "")
      // cut: `per` (≤ |langs| rows) feeds BOTH union branches below,
      // and Catalyst plans each branch as its own full
      // scan→tokenize→sketch subtree — exchange reuse does not fire
      // across them (sf20 qprofile: two corpus passes of 110 s + 46 s
      // summed executor time for one 6-row aggregate). Materializing
      // the 6-row result runs the corpus pass ONCE; the cut is inside
      // the timed query body and recomputed every invocation.
      val per = PipelineOps.cut(tok.groupBy(col("lang"))
        .agg(hll_sketch_agg(col("token"), lit(12)).as("sk"),
          countDistinct(col("token")).as("exact_vocab")))
      per.select(col("lang"),
          hll_sketch_estimate(col("sk")).as("est_vocab"),
          col("exact_vocab"))
        .unionByName(per.agg(
          hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("est_vocab"),
          sum(lit(0L)).as("exact_vocab")) // corpus exact needs a 2nd
          // full pass — the sketch union is the point: mark it -1
          .select(lit("__all__").as("lang"),
            col("est_vocab"), lit(-1L).as("exact_vocab")))
        .orderBy("lang")
    },
    None)

  /** B16: rollup over (nation, market segment). DuckDB defaults to NULLS
    * LAST while Spark ASC is nulls-first, hence the explicit NULLS FIRST. */
  val aggRollup: Q = Q(
    "q_agg_grouping_sets",
    (s, d) => {
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_cust"),
          Det.dsum(col("c_acctbal"), 2).as("sum_acctbal"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    },
    Some(s"""SELECT n_name, c_mktsegment,
      count(*) AS n_cust, ${Det.sqlSum("c_acctbal", 2)} AS sum_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name, c_mktsegment)
    ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST"""))

  /** B17: two-phase (partial/final) aggregation — Catalyst plans this
    * automatically as HashAggregate(partial) → shuffle → HashAggregate
    * (final); exposed as a plain per-nation mean. */
  val aggPartialFinal: Q = Q(
    "q_agg_partial_final",
    (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(
          Det.davg(col("c_acctbal"), 2).as("avg_acctbal"),
          count(lit(1)).as("n_cust"))
        .orderBy("c_nationkey"),
    Some(s"""SELECT c_nationkey, ${Det.sqlAvg("c_acctbal", 2)} AS avg_acctbal,
      count(*) AS n_cust
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""))

  /** Histogram refinement, the distributed exact-quantile pattern of
    * [[aggStats]] and [[aggWeightedMedian]]. Each row is bucketed by
    * `FLOOR(value / 64)`: monotone in `value` with negatives included,
    * and no INT-cast overflow for large decimals. One map-side-combined
    * pass sums `mass` per (`group`, bucket) as `m`, beside any `extra`
    * aggregates. A prefix window over that small histogram gives each
    * bucket `pre`, the mass of the group's lower buckets, and `tot`, the
    * group's mass. The buckets where `boundary(pre, m, tot)` holds are
    * broadcast back onto a second narrow scan of the rows.
    * @return the histogram (group, b, m, extras) and the rows of the
    *   boundary buckets with their `pre` and `tot`, which the caller
    *   refines exactly */
  private def histogramRefine(
      rows: DataFrame, group: String, value: String, mass: Column,
      extra: Column*)(
      boundary: (Column, Column, Column) => Column): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val withB = rows.withColumn("b", expr(s"FLOOR($value / 64)"))
    val hist = withB.groupBy(col(group), col("b")).agg(mass.as("m"), extra: _*)
    val wPre = Window.partitionBy(col(group)).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = hist
      .select(col(group), col("b"), col("m"),
        coalesce(sum(col("m")).over(wPre), lit(0)).as("pre"),
        sum(col("m")).over(Window.partitionBy(col(group))).as("tot"))
      .where(boundary(col("pre"), col("m"), col("tot")))
      .select(col(group), col("b"), col("pre"), col("tot"))
    (hist, withB.join(broadcast(buckets), Seq(group, "b")))
  }

  /** B18: order-total statistics. Sample stddev via the explicit
    * sum/sum-of-squares formula over exact decimal sums so both engines
    * do the identical IEEE double arithmetic (a plain stddev_samp
    * accumulates in partition order and can drift an ulp). */
  val aggStats: Q = Q(
    "q_agg_stats",
    (s, d) => {
      // The exact median by [[histogramRefine]]: Spark's `median()`
      // buffers every value with no partial aggregation, capping
      // parallelism at the five priorities. The histogram carries
      // count/Σx/Σx²/min/max partials, from which every other statistic
      // re-aggregates exactly; the boundary buckets are those holding
      // the two 0-indexed target ranks of the interpolating median,
      // r1 = (n−1) DIV 2 and r2 = n DIV 2, and only their rows are
      // ranked. The midpoint 0.5·lo + 0.5·hi (exact halvings, one
      // rounding add; ≡ lo when r1 = r2) equals the oracle's
      // lo + (hi − lo)·0.5 bit for bit only when hi − lo is exact, which
      // Sterbenz's lemma gives for lo ≤ hi ≤ 2·lo (adjacent order
      // statistics of one sign within 2×, not subnormal) — true for
      // o_totalprice. The decimal re-sums are exact (only the type
      // widens), so the rewrite is oracle-checked against the unchanged
      // single-pass SQL.
      import org.apache.spark.sql.expressions.Window
      val x = col("o_totalprice")
      val xd = Det.dec(x, 2)
      def r1(n: Column) = call_function("div", n - 1, lit(2))
      def r2(n: Column) = call_function("div", n, lit(2))
      val (hist, refined) = histogramRefine(
        Tables.orders(s, d).select(col("o_orderpriority"), x),
        "o_orderpriority", "o_totalprice", count(lit(1)),
        sum(Det.dec(x, 2, 28)).as("sumd"), sum(xd * xd).as("s2b"),
        min(x).as("mn"), max(x).as("mx")) { (pre, cnt, n) =>
        pre <= r2(n) && pre + cnt - 1 >= r1(n)
      }
      val wIn = Window.partitionBy(col("o_orderpriority"), col("b"))
        .orderBy(x)
      val med = refined
        .withColumn("rk", col("pre") + row_number().over(wIn) - 1)
        .withColumn("r1", r1(col("tot")))
        .withColumn("r2", r2(col("tot")))
        .where(col("rk") === col("r1") || col("rk") === col("r2"))
        .groupBy(col("o_orderpriority"))
        .agg(min(when(col("rk") === col("r1"), x)).as("lo"),
          min(when(col("rk") === col("r2"), x)).as("hi"))
        .select(col("o_orderpriority"),
          (col("lo") * lit(0.5) + col("hi") * lit(0.5)).as("median_total"))
      hist.groupBy(col("o_orderpriority"))
        .agg(sum(col("m")).as("n_orders"),
          sum(col("sumd")).cast("double").as("sum_total"),
          sum(col("s2b")).as("s2dec"),
          min(col("mn")).as("min_total"),
          max(col("mx")).as("max_total"))
        .join(med, Seq("o_orderpriority"))
        .withColumn("s2", Det.bigToDouble(col("s2dec")))
        .select(
          col("o_orderpriority"), col("n_orders"), col("sum_total"),
          col("min_total"), col("max_total"), col("median_total"),
          sqrt((col("s2") - col("sum_total") * col("sum_total") / col("n_orders"))
            / (col("n_orders") - lit(1))).as("stddev_total"))
        .orderBy("o_orderpriority")
    },
    Some(s"""WITH g AS (
      SELECT o_orderpriority, count(*) AS n_orders,
        ${Det.sqlSum("o_totalprice", 2)} AS sum_total,
        ${Det.sqlBigToDouble(s"sum(${Det.sqlDec("o_totalprice", 2)} * ${Det.sqlDec("o_totalprice", 2)})")} AS s2,
        min(o_totalprice) AS min_total, max(o_totalprice) AS max_total,
        median(o_totalprice) AS median_total
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, n_orders, sum_total, min_total, max_total,
      median_total,
      sqrt((s2 - sum_total * sum_total / n_orders) / (n_orders - 1))
        AS stddev_total
    FROM g ORDER BY o_orderpriority"""))

  /** B16b: full cube over (orderstatus, orderpriority). */
  val aggCube: Q = Q(
    "q_agg_cube",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice"), 2).as("sum_total"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority")),
    Some(s"""SELECT o_orderstatus, o_orderpriority,
      count(*) AS n_orders, ${Det.sqlSum("o_totalprice", 2)} AS sum_total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  /** Pivot: per user-bucket event counts spread across event-type
    * columns (explicit value list keeps the schema static — at scale an
    * inferred pivot would need a collect of distinct values first). */
  val aggPivot: Q = Q(
    "q_agg_pivot",
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = graft.engine.Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      // pivot yields null (not 0) for absent combinations; align with
      // the oracle's CASE-sum zeros.
      types.foldLeft(pivoted)((df, t) =>
        df.withColumn(t, coalesce(col(t), lit(0L))))
        .orderBy("user_bucket")
    },
    Some("""SELECT user_id % 10 AS user_bucket,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_bucket ORDER BY user_bucket"""))

  /** Stratified sampling — the corpus-subsampling primitive: a
    * per-language Bernoulli rate (en 50%, the other curated langs
    * 30%, everything else dropped), realized as a DETERMINISTIC
    * row-hash test rather than `stat.sampleBy`. The r1–r8 sampleBy
    * form was seeded but PARTITION-DEPENDENT: Spark seeds its
    * Bernoulli RNG per partition, so the same corpus repartitioned
    * (AQE, file split changes, a cluster with different parallelism)
    * samples a DIFFERENT subset — at 100 TB that breaks retry
    * reproducibility and train/eval stability. The LCG-on-doc_id form
    * (same Lehmer-31 discipline as q_sample_weighted, decorrelated by
    * a +7 offset and the 16807 multiplier) depends only on row
    * identity, is equidistributed within each stratum, and is exactly
    * SQL-expressible — flipping this query from rows-only to
    * oracle-checked (r8 verdict next-10 #7). */
  val aggSample: Q = Q(
    "q_sample_stratified",
    (s, d) => {
      val u = pmod((col("doc_id") + lit(7L)) * lit(16807L),
        lit(2147483647L)) % 1000
      val ratePermille = when(col("lang") === "en", lit(500))
        .when(col("lang").isin("de", "es", "fr", "zh"), lit(300))
        .otherwise(lit(0))
      Tables.documents(s, d)
        .where(u < ratePermille)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
    FROM documents
    WHERE ((doc_id + 7) * 16807) % 2147483647 % 1000 <
      CASE WHEN lang = 'en' THEN 500
           WHEN lang IN ('de', 'es', 'fr', 'zh') THEN 300
           ELSE 0 END
    GROUP BY lang ORDER BY lang"""))

  /** Collect/string aggregation — sorted collect_list joined to a CSV
    * string (sorting makes the collect order-independent, so the value
    * is deterministic and DuckDB's ordered string_agg mirrors it). */
  val aggCollect: Q = Q(
    "q_agg_collect",
    (s, d) => {
      val n = Tables.nation(s, d)
      val r = broadcast(Tables.region(s, d))
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations_csv"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, count(*) AS n_nations,
      string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name"""))

  /** Unpivot (melt) — the inverse of aggPivot: wide metric columns to
    * (key, metric, value) long form. Narrow, shuffle-free; the oracle
    * states the same relation as a UNION ALL. */
  val aggUnpivot: Q = Q(
    "q_agg_unpivot",
    (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          col("p_retailprice").cast("double").as("retail"),
          col("p_size").cast("double").as("psize"))
        .unpivot(Array(col("p_partkey")),
          Array(col("retail"), col("psize")), "metric", "value")
        .orderBy("p_partkey", "metric"),
    Some("""SELECT p_partkey, metric, value FROM (
      SELECT p_partkey, 'retail' AS metric,
        CAST(p_retailprice AS DOUBLE) AS value FROM part
      UNION ALL
      SELECT p_partkey, 'psize', CAST(p_size AS DOUBLE) FROM part)
    ORDER BY p_partkey, metric"""))

  /** EXT: deterministic weighted sampling — the training-mix primitive
    * (each source kept at its own rate). Unlike q_sample_stratified's
    * engine-specific RNG, the keep decision is a pure integer function
    * of doc_id (Park–Miller step: u = doc_id·48271 mod 2³¹−1), so the
    * sample is reproducible across engines/retries and SQL-mirrorable →
    * hash-exact oracle. Narrow (no shuffle): at 100 TB this is a
    * scan-speed filter, and re-running it yields the same corpus —
    * the property that makes training mixes auditable. Even-indexed
    * sources keep 80%, odd 30%. */
  val sampleWeighted: Q = Q(
    "q_sample_weighted",
    (s, d) => {
      val srcIdx = substring(col("source"), 4, 10).cast("int")
      val u = pmod(col("doc_id") * lit(48271L), lit(2147483647L))
      val ratePermille = when(srcIdx % 2 === 0, lit(800)).otherwise(lit(300))
      Tables.documents(s, d)
        .withColumn("u", u % 1000)
        .withColumn("rate_permille", ratePermille)
        .where(col("u") < col("rate_permille"))
        .select("doc_id", "source", "u", "rate_permille")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source,
      (doc_id * 48271) % 2147483647 % 1000 AS u,
      CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
        THEN 800 ELSE 300 END AS rate_permille
    FROM documents
    WHERE (doc_id * 48271) % 2147483647 % 1000 <
      CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
        THEN 800 ELSE 300 END
    ORDER BY doc_id"""))

  /** EXT: exact percentiles per group — `percentile` (sort-based exact
    * interpolation) for the distribution profile of a measure. Both
    * engines implement the standard (n−1)·p linear interpolation;
    * round(6) absorbs the last-ulp libm divergence (same discipline as
    * tfidf). At 100 TB the exact form shuffles each group's values to
    * one reducer — the documented trade; approx_percentile (B15's HLL
    * cousin) is the constant-memory alternative already available via
    * q_agg_approx_distinct's pattern. */
  val aggPercentile: Q = Q(
    "q_agg_percentile",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.25), 6) AS p25,
      round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      round(quantile_cont(l_quantity, 0.75), 6) AS p75,
      round(quantile_cont(l_quantity, 0.95), 6) AS p95
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** EXT: correlation / covariance per group — built from exact
    * decimal co-moments (sums of x, y, xy, x², y² are order-independent
    * decimals; Det.bigToDouble converts exactly) and the closed-form
    * formulas in doubles, so both engines execute the identical IEEE
    * op sequence instead of their internal streaming co-moment
    * updates (whose accumulation order differs). round(6) guards the
    * final ulp. */
  val aggCorr: Q = Q(
    "q_agg_corr",
    (s, d) => {
      val xd = Det.dec(col("l_extendedprice"), 2)
      val yd = Det.dec(col("l_quantity"), 2, 8)
      val nD = col("n").cast("double")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(xd).as("sxd"), sum(yd).as("syd"),
          sum(xd * yd).as("sxyd"),
          sum(xd * xd).as("sxxd"), sum(yd * yd).as("syyd"))
        .select(
          col("l_returnflag"), col("n"),
          round((Det.bigToDouble(col("sxyd"))
            - Det.bigToDouble(col("sxd")) * Det.bigToDouble(col("syd")) / nD)
            / (nD - 1.0), 6).as("covar_price_qty"),
          round((nD * Det.bigToDouble(col("sxyd"))
            - Det.bigToDouble(col("sxd")) * Det.bigToDouble(col("syd")))
            / (sqrt(nD * Det.bigToDouble(col("sxxd"))
              - Det.bigToDouble(col("sxd")) * Det.bigToDouble(col("sxd")))
              * sqrt(nD * Det.bigToDouble(col("syyd"))
                - Det.bigToDouble(col("syd")) * Det.bigToDouble(col("syd")))),
            6).as("corr_price_qty"))
        .orderBy("l_returnflag")
    },
    Some {
      val sx = Det.sqlBigToDouble(s"sum(${Det.sqlDec("l_extendedprice", 2)})")
      val sy = Det.sqlBigToDouble(s"sum(${Det.sqlDec("l_quantity", 2, 8)})")
      val sxy = Det.sqlBigToDouble(
        s"sum(${Det.sqlDec("l_extendedprice", 2)} * ${Det.sqlDec("l_quantity", 2, 8)})")
      val sxx = Det.sqlBigToDouble(
        s"sum(${Det.sqlDec("l_extendedprice", 2)} * ${Det.sqlDec("l_extendedprice", 2)})")
      val syy = Det.sqlBigToDouble(
        s"sum(${Det.sqlDec("l_quantity", 2, 8)} * ${Det.sqlDec("l_quantity", 2, 8)})")
      s"""WITH g AS (
      SELECT l_returnflag, count(*) AS n,
        $sx AS sx, $sy AS sy, $sxy AS sxy, $sxx AS sxx, $syy AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
      round((sxy - sx * sy / CAST(n AS DOUBLE))
        / (CAST(n AS DOUBLE) - 1.0), 6) AS covar_price_qty,
      round((CAST(n AS DOUBLE) * sxy - sx * sy)
        / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
          * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr_price_qty
    FROM g ORDER BY l_returnflag"""
    })

  /** EXT: equal-width histogram — the distribution-profiling op beside
    * q_profile_table's scalar stats. Buckets are computed in EXACT
    * integer domain (price cents DIV width-in-cents), so bucketing is
    * bit-identical cross-engine with no float-boundary ambiguity; a
    * fixed [0, 600k) range with a clamped top bucket avoids a separate
    * min/max pre-pass (at 100 TB the range comes from q_profile_table
    * or domain knowledge, not a second scan). One narrow projection +
    * one keyed agg. */
  val aggHistogram: Q = Q(
    "q_agg_histogram",
    (s, d) =>
      Tables.orders(s, d)
        .select(least(
          expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)" +
            " DIV 6000000"),
          lit(9L)).as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("bucket"),
    Some("""SELECT
      least(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        // 6000000, 9) AS bucket,
      count(*) AS n,
      min(o_totalprice) AS lo,
      max(o_totalprice) AS hi
    FROM orders GROUP BY 1 ORDER BY bucket"""))

  /** EXT: exact per-group MODE with a total tie-break — "the dominant
    * event type per user". Built-in `mode()` picks an arbitrary value
    * on ties (nondeterministic under partitioning), so the engine form
    * is count + argmax-by-(count desc, value asc): deterministic,
    * cross-engine, and the same two-shuffle shape (keyed agg over
    * (group, value), then a window over the REDUCED counts — never the
    * raw rows). */
  val aggMode: Q = Q(
    "q_agg_mode",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type").asc)
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"),
          col("n").as("n_mode"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type)
    SELECT user_id, event_type AS mode_type, n AS n_mode
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY n DESC, event_type ASC) AS rn FROM c)
    WHERE rn = 1 ORDER BY user_id"""))

  /** EXT: fixed-size per-group sampling — "up to 3 example docs per
    * (lang, source)", the curation/debugging counterpart of fractional
    * sampling (q_sample_stratified takes a RATE; this takes a COUNT).
    * Pseudorandom rank comes from the same cross-engine LCG as
    * q_sample_weighted (`(doc_id·48271) mod 2³¹−1`), so the "random"
    * pick is bit-reproducible across engines, retries, and partitions
    * — a nondeterministic sample in a training pipeline is a
    * provenance hole.
    *
    * k=3 kept per group via a bounded top-k heap Aggregator
    * (functions.TypedAggs.TopKMinAgg), NOT row_number over a
    * (lang, source) window: the group key has FIXED cardinality (~100
    * groups at any corpus size — the cliff-6 pattern, SCALE.md), so the
    * window form sorts each group's entire slice in one task at 100×.
    * The aggregator carries O(k) state through partial/final hash
    * aggregation — map-side combine reduces every input split to ≤ 3
    * rows per group before the (tiny) shuffle, and nothing ever sorts
    * the raw stream. The oracle stays the PLAIN row_number window form,
    * so the rewrite is cross-checked end-to-end. */
  val samplePerGroup: Q = Q(
    "q_sample_per_group",
    (s, d) => {
      val u = pmod(col("doc_id") * lit(48271L), lit(2147483647L))
      val topk = udaf(new graft.functions.TypedAggs.TopKMinAgg(3),
        org.apache.spark.sql.Encoders.product[
          graft.functions.TypedAggs.RankedId])
      Tables.documents(s, d)
        .select(col("lang"), col("source"), u.as("u"), col("doc_id"))
        .groupBy(col("lang"), col("source"))
        .agg(topk(col("u"), col("doc_id")).as("top"))
        .select(col("lang"), col("source"),
          posexplode(col("top.ids")).as(Seq("pos", "doc_id")))
        .withColumn("rn", (col("pos") + 1).cast("long"))
        .select(col("lang"), col("source"), col("rn"), col("doc_id"))
        .orderBy("lang", "source", "rn")
    },
    Some("""SELECT lang, source, rn, doc_id
    FROM (SELECT lang, source, doc_id,
        row_number() OVER (PARTITION BY lang, source
          ORDER BY (doc_id * 48271) % 2147483647 ASC, doc_id ASC) AS rn
      FROM documents)
    WHERE rn <= 3 ORDER BY lang, source, rn"""))

  /** EXT: deterministic train/val/test split — the assignment every
    * training pipeline makes exactly once and must never change across
    * reruns, engines, or partitionings. Bucket = multiplicative hash of
    * the stable doc key (Knuth constant, high bits via div 2^16) mod
    * 100 → 90/5/5; pure integer arithmetic, identical in Spark and
    * DuckDB, no RNG state anywhere. Per-split counts + token totals
    * verify the assignment; the same bucket expression tags rows for an
    * actual split write (partitionBy("split")). At 100 TB this is a
    * narrow per-row expression + one 3-group aggregate — no shuffle of
    * the corpus, no sampling state to coordinate. */
  val sampleSplit: Q = Q(
    "q_sample_split",
    (s, d) => {
      val bucket = pmod(expr("(doc_id * 2654435761L) div 65536L"),
        lit(100L))
      val split = when(bucket < 90, "train")
        .when(bucket < 95, "val").otherwise("test")
      Tables.documents(s, d)
        .withColumn("split", split)
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split_part_tokens).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    },
    Some("""SELECT
      CASE WHEN ((doc_id * 2654435761) // 65536) % 100 < 90 THEN 'train'
           WHEN ((doc_id * 2654435761) // 65536) % 100 < 95 THEN 'val'
           ELSE 'test' END AS split,
      count(*) AS n_docs,
      CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens,
      count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY 1 ORDER BY split"""))

  private def split_part_tokens = split(lower(col("text")), " ")

  /** EXT (r14): segment-overlap via KMV bottom-k sketches
    * (functions.KmvSketch) — the audience-intersection question
    * ("distinct users in BOTH the high-value-purchase and the
    * high-value-error segment") that `approx_count_distinct`'s HLL
    * fundamentally cannot answer: HLLs don't intersect, KMV sketches
    * do (they are uniform hash-space samples, so set algebra composes
    * — Beyer et al. 2007). Each segment is one sketch-aggregation pass
    * with O(k) state per group (vs collect_set's unbounded state);
    * the two 1-row sketches meet in a broadcast cross join and every
    * set estimate is native array algebra on the sorted sketches
    * (stored pre-biased so signed array_sort == unsigned hash order).
    *
    * Regime discipline (r15 — the r14 form was silently wrong at
    * scale): raw sketch sizes and inclusion-exclusion are only valid
    * while every segment's TRUE distinct count is ≤ k, but the fixture
    * scales users linearly (15k·sf), so sf5 (75k users) and sf20
    * (300k) saturate a k = 65536 sketch — sizes would cap at k and
    * `|A|+|B|−|A∪B|` would degenerate to ~k garbage. Every output now
    * rides [[graft.functions.KmvSketch.estimateCol]] /
    * [[KmvSketch.intersectEstimateCol]] — the Beyer et al.
    * set-operation estimators as column algebra, which REDUCE TO EXACT
    * INTEGER ARITHMETIC below saturation (explicit `size < k`
    * branches, no float round-trips) and stay unbiased above it. The
    * oracle is plain COUNT(DISTINCT) algebra, hash-exact at the
    * sf ≤ 1 verify scales (15k users ≪ k puts every sketch in the
    * exact branch); at sf ≥ 5 the same query emits valid ESTIMATES
    * (~0.4% rel. σ at k = 65536) instead of silent caps — KmvSpec pins
    * the column algebra ≡ the Scala estimators on BOTH regimes, plus
    * the analytic ~1/√(k−2) bound and why inclusion-exclusion is the
    * wrong intersection estimator once saturated. */
  val aggKmvOverlap: Q = Q(
    "q_agg_kmv_overlap",
    (s, d) => {
      import graft.functions.KmvSketch
      val k = 65536
      val kmv = udaf(new KmvSketch.Agg(k),
        org.apache.spark.sql.Encoders.scalaLong)
      val ev = Tables.events(s, d)
      def seg(t: String) = ev
        .where(col("event_type") === t && col("value") > 90)
        .select(xxhash64(col("user_id")).as("h"))
      val ska = seg("purchase").agg(kmv(col("h")).as("ska"))
      val skb = seg("error").agg(kmv(col("h")).as("skb"))
      ska.crossJoin(broadcast(skb))
        .select(
          round(KmvSketch.estimateCol(col("ska"), k))
            .cast("long").as("a_users"),
          round(KmvSketch.estimateCol(col("skb"), k))
            .cast("long").as("b_users"),
          round(KmvSketch.estimateCol(
            KmvSketch.unionCol(col("ska"), col("skb"), k), k))
            .cast("long").as("either_users"),
          round(KmvSketch.intersectEstimateCol(col("ska"), col("skb"), k))
            .cast("long").as("both_users"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND value > 90),
      b AS (SELECT DISTINCT user_id FROM events
        WHERE event_type = 'error' AND value > 90)
    SELECT (SELECT count(*) FROM a) AS a_users,
      (SELECT count(*) FROM b) AS b_users,
      (SELECT count(*) FROM (SELECT user_id FROM a
        UNION SELECT user_id FROM b)) AS either_users,
      (SELECT count(*) FROM a JOIN b USING (user_id)) AS both_users"""))

  /** EXT (r16 — VERDICT r15 next #6): the KMV ESTIMATOR REGIME as a
    * declared, oracle-gated query — [[aggKmvOverlap]]'s twin with the
    * saturation boundary forced INSIDE the verify scales. k = 64 is
    * deliberately tiny: the fixture's high-value segments hold ~127/136
    * distinct users at sf0.01 (the driver's gate scale), so the
    * sketches saturate there and every output rides the Beyer
    * estimators, while sf0.001 stays in the exact branch — BOTH
    * regimes execute inside the correctness gate, at every sf, forever.
    *
    * The oracle trick that makes an approximate answer hash-gateable:
    * the query emits the EXACT distinct counts (plain aggregation —
    * DuckDB-checkable) plus BOOLEAN error-bound verdicts
    * (|est − exact| within ±3σ, σ = 1/√(k−2) per Beyer et al. 2007;
    * the intersection adds the binomial overlap-fraction term
    * 3·√(0.25/k)·|A∪B| since its estimator scales an in-window
    * fraction by the union estimate). The oracle restates the bounds
    * as literal TRUEs and the saturation flag as `exact ≥ k` —
    * equivalent BY CONSTRUCTION (sketch size = min(distinct, k)), so
    * a broken estimator branch (e.g. the r14 silent size-cap: est
    * would read k = 64 against 127 exact, a 50% error ≫ 3σ = 38%)
    * hash-fails the gate instead of hiding in a spec. Deterministic:
    * same data + same hash ⇒ same estimate, so the verdicts are
    * stable per sf, and the bounds were validated at sf0.001–sf5. */
  val aggKmvEstimate: Q = Q(
    "q_agg_kmv_estimate",
    (s, d) => {
      import graft.functions.KmvSketch
      val k = 64
      val kmv = udaf(new KmvSketch.Agg(k),
        org.apache.spark.sql.Encoders.scalaLong)
      // ONE corpus pass (r19, guide §2.3/§2.4): the r18 shape built a,
      // b, either (union-distinct) and both (intersect) as four
      // independent subtrees — six scans of events and four distinct
      // machineries for one output row. All four reduce to the same
      // per-user membership table: one scan, one groupBy(user_id)
      // shuffle, then four trivial aggregates over the (tiny, cut)
      // user set. Exactness: the KMV
      // sketch is a function of the DISTINCT hash set (Agg.fullCompact
      // applies .distinct.sorted.take(k)), so sketching one h per
      // distinct user is bit-identical to sketching every event row;
      // the four exact counts are plain set-cardinality identities.
      val base = Tables.events(s, d)
        .where(col("value") > 90 &&
          col("event_type").isin("purchase", "error"))
      val pu = PipelineOps.cut(base.groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("in_a"),
          max(when(col("event_type") === "error", 1).otherwise(0))
            .as("in_b")))
      def h = xxhash64(col("user_id"))
      val a = pu.where(col("in_a") === 1)
        .agg(kmv(h).as("ska"), count(lit(1)).as("a_exact"))
      val b = pu.where(col("in_b") === 1)
        .agg(kmv(h).as("skb"), count(lit(1)).as("b_exact"))
      val either = pu.agg(count(lit(1)).as("either_exact"))
      val both = pu.where(col("in_a") === 1 && col("in_b") === 1)
        .agg(count(lit(1)).as("both_exact"))
      val sigma = 3.0 / math.sqrt((k - 2).toDouble)
      def inBound(est: org.apache.spark.sql.Column,
          exact: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        abs(est - exact) <= greatest(lit(sigma) * exact, lit(1.0))
      val estA = KmvSketch.estimateCol(col("ska"), k)
      val estB = KmvSketch.estimateCol(col("skb"), k)
      val estEither = KmvSketch.estimateCol(
        KmvSketch.unionCol(col("ska"), col("skb"), k), k)
      val estBoth = KmvSketch.intersectEstimateCol(col("ska"), col("skb"), k)
      a.crossJoin(broadcast(b))
        .crossJoin(broadcast(either)).crossJoin(broadcast(both))
        .select(
          col("a_exact"), col("b_exact"),
          col("either_exact"), col("both_exact"),
          (col("a_exact") >= k || col("b_exact") >= k).as("est_regime"),
          inBound(estA, col("a_exact")).as("a_in_bound"),
          inBound(estB, col("b_exact")).as("b_in_bound"),
          inBound(estEither, col("either_exact")).as("either_in_bound"),
          (abs(estBoth - col("both_exact")) <=
            lit(3.0 * math.sqrt(0.25 / k)) * col("either_exact")
              + lit(sigma) * col("both_exact") + lit(1.0))
            .as("both_in_bound"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND value > 90),
      b AS (SELECT DISTINCT user_id FROM events
        WHERE event_type = 'error' AND value > 90)
    SELECT (SELECT count(*) FROM a) AS a_exact,
      (SELECT count(*) FROM b) AS b_exact,
      (SELECT count(*) FROM (SELECT user_id FROM a
        UNION SELECT user_id FROM b)) AS either_exact,
      (SELECT count(*) FROM a JOIN b USING (user_id)) AS both_exact,
      (SELECT count(*) FROM a) >= 64 OR (SELECT count(*) FROM b) >= 64
        AS est_regime,
      TRUE AS a_in_bound, TRUE AS b_in_bound,
      TRUE AS either_in_bound, TRUE AS both_in_bound"""))

  /** EXT (r14): weighted median — the robust location statistic when
    * rows carry unequal mass (median *unit* price weighted by quantity,
    * vs [[aggPercentile]]'s per-row median). No engine has a native
    * one; the portable exact form is the cumulative-mass definition:
    * the smallest value whose running weight reaches half the total.
    * Entirely in the exact decimal domain (the [[Det]] discipline):
    * weights and values are raw 2-decimal columns cast via [[Det.dec]],
    * the running sum is a keyed cumulative window over the
    * per-(group, value) pre-aggregate, and `2·cum ≥ tot` compares
    * exact decimals — bit-identical in both engines with no float
    * anywhere until the final ≤2^53 exact cast of the answer.
    *
    * Scale — HISTOGRAM REFINEMENT, the distributed exact-quantile
    * pattern. The naive forms all died at sf5 (30M rows): extended
    * price is NEAR-UNIQUE (qty × part price), so a per-(group, value)
    * pre-aggregate stays corpus-sized — the plain cumulative window
    * then sorts ~N/3 rows in ONE task per flag (measured 23–67 s,
    * thrashing), and even [[graft.engine.Skew.chunkedRunning]] stayed
    * ~20–49 s because the bottleneck was never the window: it was
    * shuffling a corpus-sized near-unique key set at all (map-side
    * combine combines nothing). The exact-median answer that never
    * shuffles the corpus:
    *
    *  1. coarse EXACT histogram — one pass, mass per (flag,
    *     64-price-unit bucket): ~1.6k buckets × 3 flags out of a
    *     map-side-combined aggregate (the bucket key is what makes
    *     partial aggregation work again);
    *  2. boundary bucket per flag on that TINY table (prefix window
    *     over ~1.6k rows): the unique bucket where cumulative mass
    *     crosses half;
    *  3. refine INSIDE the boundary bucket only — broadcast the
    *     3-row boundary set back onto a second narrow scan, keep
    *     ~1/1600th of the corpus, and run the per-value cumulative
    *     there (thousands of rows per flag).
    *
    * All masses are exact decimals at every level, so the refinement
    * is exactly the plain definition — and the ORACLE is the plain
    * single-window form, cross-checking the rewrite end-to-end. Two
    * narrow column-pruned scans, shuffle output bounded by bucket
    * count + boundary-bucket rows, never by rows or distinct prices. */
  val aggWeightedMedian: Q = Q(
    "q_agg_weighted_median",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (_, refined) = histogramRefine(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          Det.dec(col("l_extendedprice")).as("p"),
          Det.dec(col("l_quantity")).as("w")),
        "l_returnflag", "p", sum(col("w"))) { (pre, m, tot) =>
        pre * 2 < tot && (pre + m) * 2 >= tot
      }
      val wIn = Window.partitionBy(col("l_returnflag")).orderBy(col("p"))
      refined
        .groupBy(col("l_returnflag"), col("p"), col("pre"), col("tot"))
        .agg(sum(col("w")).as("wt"))
        .withColumn("cum", col("pre") + sum(col("wt")).over(wIn))
        .where(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("p")).cast("double").as("wmedian_price"))
        .orderBy("l_returnflag")
    },
    Some("""WITH g AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS p,
        sum(CAST(l_quantity AS DECIMAL(12,2))) AS wt
      FROM lineitem GROUP BY 1, 2),
    t AS (SELECT l_returnflag, sum(wt) AS tot FROM g GROUP BY 1),
    c AS (SELECT l_returnflag, p,
        sum(wt) OVER (PARTITION BY l_returnflag ORDER BY p) AS cum
      FROM g)
    SELECT c.l_returnflag, CAST(min(p) AS DOUBLE) AS wmedian_price
    FROM c JOIN t USING (l_returnflag) WHERE 2 * cum >= tot
    GROUP BY c.l_returnflag ORDER BY c.l_returnflag"""))

  /** EXT (r14): exact higher central moments — skewness and excess
    * kurtosis per group, the distribution-shape statistics
    * [[aggStats]] stops short of. Spark's native `skewness`/`kurtosis`
    * are float accumulations (order-dependent — never declarable);
    * here the four raw power sums Σx..Σx⁴ run in EXACT integer
    * arithmetic (quantity is integral ≤50, so Σx⁴ ≤ n·6.25e6 stays
    * far under 2^53 even at 120M rows — one map-side-combined
    * aggregate, order-independent), and the closed-form conversion to
    * central moments is the IDENTICAL IEEE double expression text in
    * both engines (sqrt, not pow(·,1.5) — sqrt is correctly rounded
    * everywhere). One shuffle of 4 longs per group. */
  val aggMoments: Q = Q(
    "q_agg_moments",
    (s, d) => {
      val x = col("x")
      val agg = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(x).as("s1"),
          sum(x * x).as("s2"), sum(x * x * x).as("s3"),
          sum(x * x * x * x).as("s4"))
      agg.select(col("l_returnflag"), col("n"),
        expr(MomentsFormula("mean")).as("mean"),
        expr(MomentsFormula("m2")).as("variance_pop"),
        expr(MomentsFormula("skew")).as("skewness"),
        expr(MomentsFormula("kurt")).as("kurtosis_excess"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH a AS (
      SELECT l_returnflag, count(*) AS n,
        CAST(sum(x) AS BIGINT) AS s1,
        CAST(sum(x * x) AS BIGINT) AS s2,
        CAST(sum(x * x * x) AS BIGINT) AS s3,
        CAST(sum(x * x * x * x) AS BIGINT) AS s4
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x
            FROM lineitem)
      GROUP BY l_returnflag)
    SELECT l_returnflag, n,
      ${MomentsFormula("mean")} AS mean,
      ${MomentsFormula("m2")} AS variance_pop,
      ${MomentsFormula("skew")} AS skewness,
      ${MomentsFormula("kurt")} AS kurtosis_excess
    FROM a ORDER BY l_returnflag"""))

  /** The shared moments formula TEXT — interpolated into BOTH the
    * Spark `expr` and the DuckDB oracle so the IEEE evaluation tree is
    * identical by construction (same parser precedence both sides). */
  private object MomentsFormula {
    private val nd = "CAST(n AS DOUBLE)"
    private val m = s"(CAST(s1 AS DOUBLE) / $nd)"
    private val q2 = s"(CAST(s2 AS DOUBLE) / $nd)"
    private val q3 = s"(CAST(s3 AS DOUBLE) / $nd)"
    private val q4 = s"(CAST(s4 AS DOUBLE) / $nd)"
    private val m2 = s"($q2 - $m * $m)"
    private val m3 = s"($q3 - 3 * $m * $q2 + 2 * $m * $m * $m)"
    private val m4 =
      s"($q4 - 4 * $m * $q3 + 6 * $m * $m * $q2 - 3 * $m * $m * $m * $m)"
    def apply(which: String): String = which match {
      case "mean" => m
      case "m2"   => m2
      case "skew" => s"($m3 / ($m2 * sqrt($m2)))"
      case "kurt" => s"($m4 / ($m2 * $m2) - 3)"
    }
  }

  val all: Seq[Q] = Seq(
    aggHashGroup, aggDistinct, aggApproxDistinct, aggHllSketch, aggRollup,
    aggCube, aggPartialFinal, aggStats, aggPivot, aggSample, aggCollect,
    aggUnpivot, sampleWeighted, aggPercentile, aggCorr, aggHistogram,
    aggMode, samplePerGroup, sampleSplit, aggKmvOverlap, aggKmvEstimate,
    aggWeightedMedian, aggMoments)
}
