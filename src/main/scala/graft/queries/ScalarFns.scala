package graft.queries

import graft.Q
import graft.engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar function families (SURVEY.md §2B B26–B30) — one query per
  * family, each exercising the built-in (codegen'd) functions the
  * reference reaches for via sed/grep/csvcut/date (backup.sh:76,130,
  * 143; psql-backups.sh:11,56-62).
  *
  * Cross-engine alignment notes: Spark int-typed results are cast to
  * long where DuckDB returns BIGINT; transcendental fns other than sqrt
  * are rounded (libm implementations differ by ulps); Spark dayofweek is
  * 1-based Sunday vs DuckDB 0-based, hence the -1.
  */
object ScalarFns {

  /** B26: string family over customer names (`Customer#000000042`). */
  val fnString: Q = Q(
    "q_fn_string",
    (s, d) =>
      Tables.customer(s, d)
        .select(
          col("c_custkey"),
          substring(col("c_name"), 1, 8).as("name_sub"),
          upper(col("c_name")).as("name_up"),
          lower(col("c_mktsegment")).as("seg_low"),
          length(col("c_name")).cast("long").as("name_len"),
          concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("ident"),
          regexp_extract(col("c_name"), "[0-9]+", 0).as("digits"),
          regexp_replace(col("c_name"), "0+", "0").as("squeezed"),
          replace(col("c_name"), lit("#"), lit("-")).as("replaced"),
          instr(col("c_name"), "#").cast("long").as("hash_pos"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("padded"),
          split(col("c_name"), "#").getItem(0).as("prefix"),
          trim(concat(lit("  "), col("c_mktsegment"), lit(" "))).as("trimmed"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey,
      substr(c_name, 1, 8) AS name_sub,
      upper(c_name) AS name_up,
      lower(c_mktsegment) AS seg_low,
      CAST(length(c_name) AS BIGINT) AS name_len,
      concat_ws('-', c_mktsegment, c_custkey) AS ident,
      regexp_extract(c_name, '[0-9]+') AS digits,
      regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
      replace(c_name, '#', '-') AS replaced,
      CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
      lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
      split_part(c_name, '#', 1) AS prefix,
      trim(concat('  ', c_mktsegment, ' ')) AS trimmed
    FROM customer ORDER BY c_custkey"""))

  /** B27: date/time family over o_orderdate (A22 timestamp semantics). */
  val fnDate: Q = Q(
    "q_fn_date",
    (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          col("o_orderdate"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 1 MONTH")).as("next_month"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_ref"),
          last_day(col("o_orderdate")).as("last_dom"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          // o_orderdate reads as TIMESTAMP_NTZ; session tz is UTC so the
          // cast to instant-typed timestamp preserves the wall clock.
          unix_millis(col("o_orderdate").cast("timestamp")).as("epoch_ms"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_orderdate,
      year(o_orderdate) AS y,
      month(o_orderdate) AS m,
      dayofmonth(o_orderdate) AS dom,
      dayofweek(o_orderdate) AS dow,
      dayofyear(o_orderdate) AS doy,
      quarter(o_orderdate) AS qtr,
      date_trunc('month', o_orderdate) AS month_start,
      o_orderdate + INTERVAL 1 MONTH AS next_month,
      date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
        AS days_to_ref,
      last_day(o_orderdate) AS last_dom,
      strftime(o_orderdate, '%Y-%m') AS ym,
      epoch_ms(o_orderdate) AS epoch_ms
    FROM orders ORDER BY o_orderkey"""))

  /** B28: math family over part prices. sqrt is IEEE-correctly-rounded
    * in both engines; ln is rounded to 6 decimals (libm ulp drift).
    * `rounded` stays in the decimal domain end-to-end (exact decimal
    * product, decimal HALF_UP round, then a <2^53 cast to double):
    * `round(double)` semantics differ across DuckDB releases, so money
    * rounding must never touch the binary domain. */
  val fnMath: Q = Q(
    "q_fn_math",
    (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          col("p_retailprice"),
          round(Det.dec(col("p_retailprice"), 2) * lit(BigDecimal("1.1")), 2)
            .cast("double").as("rounded"),
          ceil(col("p_retailprice")).as("ceiling"),
          floor(col("p_retailprice")).as("flooring"),
          abs(col("p_retailprice") - lit(1000.0)).as("absdiff"),
          sqrt(col("p_retailprice")).as("sqrt_price"),
          (col("p_retailprice") * col("p_retailprice")).as("price_sq"),
          round(log(col("p_retailprice")), 6).as("ln_price"),
          (col("p_size") % lit(7)).as("size_mod"),
          greatest(col("p_retailprice"), lit(1000.0)).as("hi"),
          least(col("p_retailprice"), lit(1000.0)).as("lo"),
          // Render the decimal as text: a DECIMAL-typed output column is
          // normalized differently by the two comparator read paths
          // (pyarrow Decimal('900.00') vs DuckDB fetchdf float64 900.0),
          // so declared queries must not emit DECIMAL columns.
          col("p_retailprice").cast("decimal(12,2)").cast("string")
            .as("price_dec"))
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_retailprice,
      CAST(round(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)), 2)
        AS DOUBLE) AS rounded,
      CAST(ceil(p_retailprice) AS BIGINT) AS ceiling,
      CAST(floor(p_retailprice) AS BIGINT) AS flooring,
      abs(p_retailprice - 1000.0e0) AS absdiff,
      sqrt(p_retailprice) AS sqrt_price,
      p_retailprice * p_retailprice AS price_sq,
      round(ln(p_retailprice), 6) AS ln_price,
      p_size % 7 AS size_mod,
      greatest(p_retailprice, 1000.0e0) AS hi,
      least(p_retailprice, 1000.0e0) AS lo,
      CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS price_dec
    FROM part ORDER BY p_partkey"""))

  /** B29: array/higher-order family over embeddings. Folds are
    * sequential left-to-right in both engines (Spark `aggregate` with a
    * 0.0 seed == DuckDB `list_reduce`, since 0.0+x == x exactly). */
  val fnArray: Q = Q(
    "q_fn_array",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).as("first_val"),
          aggregate(
            transform(slice(col("embedding"), 1, 8), x => x.cast("double")),
            lit(0.0), (acc, x) => acc + x).as("sum8"),
          array_max(col("embedding")).as("vmax"),
          array_min(col("embedding")).as("vmin"),
          size(filter(col("embedding"), x => x > lit(0.5f)))
            .cast("long").as("n_above"))
        .orderBy("vec_id"),
    Some("""SELECT vec_id,
      CAST(len(embedding) AS BIGINT) AS dim,
      embedding[1] AS first_val,
      list_reduce(
        list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))),
        (a, b) -> a + b) AS sum8,
      list_max(embedding) AS vmax,
      list_min(embedding) AS vmin,
      CAST(len(list_filter(embedding, x -> x > 0.5)) AS BIGINT) AS n_above
    FROM embeddings ORDER BY vec_id"""))

  /** B30: JSON family over events.props. */
  val fnJson: Q = Q(
    "q_fn_json",
    (s, d) => {
      // Parse each props string ONCE per API: one get_json_object for
      // the path-extract form, one from_json struct that the other
      // three outputs all derive from. Three separate get_json_object
      // calls each re-parse the JSON per row — measured 40%+ slower
      // warm and far worse cold (Jackson per-call setup).
      val parsed = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
        .getField("k")
      Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          parsed.as("k_num"),
          parsed.as("k_struct"),
          parsed.isNotNull.as("has_k"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
      json_extract_string(props, '$.k') AS k_str,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
      json_extract_string(props, '$.k') IS NOT NULL AS has_k
    FROM events ORDER BY event_id"""))

  /** EXT (r13): the Spark 4 VARIANT type — semi-structured data as a
    * first-class typed column (`parse_json` → VARIANT, typed
    * `variant_get` path extraction, `try_parse_json` error channel,
    * `to_json` round-trip). This is the modern replacement for
    * string-JSON re-parsing: a VARIANT parses ONCE into a binary
    * form and every downstream extraction is a typed offset walk, the
    * Parquet-shredding story at 100 TB (vs q_fn_json's per-call
    * Jackson path). Built with `expr` since the SQL surface is the
    * stable API. Oracle notes: DuckDB has no VARIANT, so the mirror
    * extracts through its JSON type; the round-trip string is
    * reconstructed in the fixture's canonical-minified shape (Spark's
    * `to_json(variant)` minifies; DuckDB's JSON cast preserves input
    * spacing — single-integer-key objects make the reconstruction
    * exact, the same fixture-shaped-text rule as the CSV/XML
    * oracles). */
  val fnVariant: Q = Q(
    "q_fn_variant",
    (s, d) =>
      // Tail-stage width (r18, guide §2.4): with a bare `.orderBy`,
      // Catalyst pulls BOTH heavy projections above the Sort (to
      // shuffle raw props instead of results — plans/r18/
      // q_fn_variant_before.txt), so every variant parse runs in the
      // post-sort stage, which AQE coalesces to ONE task at fixture
      // bytes (qprofile: 1.4 s single-task tail = ~70% of the query).
      // The byte saving is illusory here — json_rt is props-sized, so
      // results weigh what the input weighs. An explicit-N range
      // repartition + in-partition sort produces the identical global
      // order (event_id is unique) while pinning the parse stage at
      // session width at every scale (explicit-N repartition is exempt
      // from AQE coalescing). The earlier-draft `widen` on this read
      // was pure waste — its exchange fed straight into the sort
      // exchange with no work between (removed).
      Tables.events(s, d)
        // Range exchange directly on the SCAN (r19, closing the r18
        // ADVICE note): with the exchange above the parse, (a) the
        // range SAMPLER job re-executed scan+parse_json a second time
        // (sf20 qprofile: a 52-96 s-exec, 2.2 s-span stage with zero
        // shuffle in/out), and (b) the exchange shipped props AND the
        // parsed variant v (~2× props bytes, 243 MB at sf20). Sampling
        // only needs event_id, so exchanging raw (event_id, props)
        // makes the sampler scan-only and halves the shuffle; the
        // parse now also runs in the pinned-width stage.
        .select(col("event_id"), col("props"))
        .repartitionByRange(
          s.sparkContext.defaultParallelism, col("event_id"))
        // parse ONCE into a named variant column, derive both
        // extractions from it — the entire point of the type (the
        // q_fn_json single-parse discipline; measured 9.4 s vs 4.0 s
        // for q_fn_json at sf1 when each output re-parsed). Safe from
        // CollapseProject-duplication: v is referenced twice below, and
        // the rule never collapses a multiply-referenced non-trivial
        // alias into its consumers.
        .select(col("event_id"), col("props"),
          expr("parse_json(props)").as("v"))
        .select(
          col("event_id"),
          expr("variant_get(v, '$.k', 'long')").as("k_num"),
          expr("to_json(v)").as("json_rt"),
          // corrupt PREFIX, not suffix: both parsers tolerate trailing
          // garbage after a complete object, neither an unclosed one
          expr("try_parse_json(concat('{', props)) IS NULL")
            .as("bad_is_null"),
          expr("is_variant_null(parse_json('null'))").as("null_literal"))
        .sortWithinPartitions("event_id"),
    Some("""SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
      '{"k":' || json_extract_string(props, '$.k') || '}' AS json_rt,
      TRY_CAST(('{' || props) AS JSON) IS NULL AS bad_is_null,
      true AS null_literal
    FROM events ORDER BY event_id"""))

  /** B26 adjunct: null-handling family over the sparse side of an outer
    * join (coalesce/nullif/nvl/conditional defaults). */
  val fnNull: Q = Q(
    "q_fn_null",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2001-06-01").cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_recent"),
          Det.dsum(col("o_totalprice"), 2).as("recent_total"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("n_recent"), lit(0L)).as("n_recent"),
          coalesce(col("recent_total"), lit(0.0)).as("recent_total"),
          col("n_recent").isNull.as("is_inactive"),
          nullif(coalesce(col("n_recent"), lit(0L)), lit(0L))
            .as("nonzero_or_null"),
          when(col("recent_total").isNotNull,
            col("recent_total") / col("n_recent"))
            .otherwise(lit(-1.0)).as("avg_or_sentinel"))
        .orderBy("c_custkey")
    },
    Some(s"""WITH o AS (
      SELECT o_custkey, count(*) AS n_recent,
        ${Det.sqlSum("o_totalprice", 2)} AS recent_total
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01'
      GROUP BY o_custkey)
    SELECT c_custkey,
      coalesce(n_recent, 0) AS n_recent,
      coalesce(recent_total, 0.0e0) AS recent_total,
      n_recent IS NULL AS is_inactive,
      nullif(coalesce(n_recent, 0), 0) AS nonzero_or_null,
      CASE WHEN recent_total IS NOT NULL THEN recent_total / n_recent
        ELSE -1.0e0 END AS avg_or_sentinel
    FROM customer LEFT JOIN o ON c_custkey = o_custkey
    ORDER BY c_custkey"""))

  /** Error-tolerant casting (`try_cast`) — malformed values become
    * nulls instead of failing the job, the ingestion posture for dirty
    * 100 TB corpora. */
  val fnTryCast: Q = Q(
    "q_fn_trycast",
    (s, d) =>
      Tables.customer(s, d)
        .select(
          col("c_custkey"),
          expr("try_cast(c_name AS BIGINT)").as("bad_cast"),
          expr("try_cast(regexp_extract(c_name, '[0-9]+', 0) AS BIGINT)")
            .as("good_cast"),
          expr("try_cast(c_mktsegment AS DATE)").as("bad_date"),
          expr("try_cast('2001-05-17' AS DATE)").as("good_date"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey,
      TRY_CAST(c_name AS BIGINT) AS bad_cast,
      TRY_CAST(regexp_extract(c_name, '[0-9]+') AS BIGINT) AS good_cast,
      TRY_CAST(c_mktsegment AS DATE) AS bad_date,
      TRY_CAST('2001-05-17' AS DATE) AS good_date
    FROM customer ORDER BY c_custkey"""))

  /** Mandated EXT: cryptographic/content hash family — the shard keys
    * and content-addressed ids of a 100 TB dedup pipeline (md5 already
    * anchors q_text_fingerprint; this covers the wider surface). Hex
    * casing differs per engine for hex(): Spark upper, DuckDB upper —
    * both upper, no normalization needed. */
  val fnHash: Q = Q(
    "q_fn_hash",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          md5(col("text")).as("md5_hex"),
          sha2(col("text"), 256).as("sha256_hex"),
          base64(substring(col("text"), 1, 16).cast("binary")).as("b64_head"),
          hex(substring(col("text"), 1, 8).cast("binary")).as("hex_head"),
          bit_length(col("text")).cast("long").as("n_bits"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      md5(text) AS md5_hex,
      sha256(text) AS sha256_hex,
      to_base64(encode(substr(text, 1, 16))) AS b64_head,
      hex(encode(substr(text, 1, 8))) AS hex_head,
      CAST(bit_length(text) AS BIGINT) AS n_bits
    FROM documents ORDER BY doc_id"""))

  /** Mandated EXT: regex family — extract / extract-all / global
    * replace / boolean match. Both engines compile the same pattern
    * dialect for these constructs (Java regex vs RE2 agree on classes,
    * quantifiers, \b); DuckDB's regexp_replace needs the explicit 'g'
    * flag to match Spark's replace-all default. */
  val fnRegex: Q = Q(
    "q_fn_regex",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "[0-9]+", 0).as("first_num"),
          size(expr("regexp_extract_all(text, '[0-9]+', 0)"))
            .cast("long").as("n_nums"),
          regexp_replace(col("text"), "[aeiou]", "").as("no_vowels"),
          col("text").rlike("\\bthe\\b").as("has_the"),
          regexp_extract(col("text"), "([a-z]+)ing\\b", 1).as("ing_stem"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      regexp_extract(text, '[0-9]+') AS first_num,
      CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums,
      regexp_replace(text, '[aeiou]', '', 'g') AS no_vowels,
      regexp_matches(text, '\bthe\b') AS has_the,
      regexp_extract(text, '([a-z]+)ing\b', 1) AS ing_stem
    FROM documents ORDER BY doc_id"""))

  /** Mandated EXT: struct/map construction + field access — the nested
    * data model (typed metadata columns ride beside payloads at scale,
    * cf. multimodal/Multimodal.scala). The oracle states the identities
    * the nested round-trip must satisfy in plain SQL — equivalent
    * values, not identical construction. */
  val fnStruct: Q = Q(
    "q_fn_struct",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("meta",
          struct(col("lang"), col("source"), col("n_chars")))
        .withColumn("m", map_from_arrays(
          array(lit("lang"), lit("source")),
          array(col("lang"), col("source"))))
        .select(
          col("doc_id"),
          col("meta.lang").as("s_lang"),
          (col("meta.n_chars") + 1).as("s_chars1"),
          element_at(col("m"), "source").as("m_source"),
          size(col("m")).cast("long").as("m_size"),
          // Joined to one string: an ARRAY-typed output column crashes the
          // driver's row-sort (unhashable ndarray in pandas lexsort).
          array_join(sort_array(map_keys(col("m"))), ",").as("m_keys"),
          element_at(transform_values(col("m"), (_, v) => upper(v)),
            "lang").as("m_lang_upper"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      lang AS s_lang,
      n_chars + 1 AS s_chars1,
      source AS m_source,
      CAST(2 AS BIGINT) AS m_size,
      'lang,source' AS m_keys,
      upper(lang) AS m_lang_upper
    FROM documents ORDER BY doc_id"""))

  /** EXT: bitwise family — AND/OR/XOR/NOT, shifts, bit_count, get_bit.
    * Pure 64-bit integer ops, bit-identical across engines by
    * definition; the operand mix (id vs a constant mask and a
    * data-dependent shift) exercises both literal and column paths. */
  val fnBitwise: Q = Q(
    "q_fn_bitwise",
    (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(lit(0xFFL))).as("and_mask"),
          (col("o_orderkey").bitwiseOR(lit(0x100L))).as("or_mask"),
          (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("xor_cust"),
          bitwise_not(col("o_orderkey")).as("not_key"),
          shiftleft(col("o_orderkey"), 3).as("shl3"),
          shiftright(col("o_orderkey"), 2).as("shr2"),
          bit_count(col("o_orderkey")).as("n_bits_set"),
          getbit(col("o_orderkey"), lit(0)).as("bit0"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
      o_orderkey & 255 AS and_mask,
      o_orderkey | 256 AS or_mask,
      xor(o_orderkey, o_custkey) AS xor_cust,
      ~o_orderkey AS not_key,
      o_orderkey << 3 AS shl3,
      o_orderkey >> 2 AS shr2,
      bit_count(o_orderkey) AS n_bits_set,
      CAST(get_bit(o_orderkey::BIT, 63) AS BIGINT) AS bit0
    FROM orders ORDER BY o_orderkey"""))

  /** EXT: native Z-order (Morton) key — the clustering key behind
    * [[graft.engine.Snapshot.writeZOrdered]]'s 2-D-prunable file
    * layout. The oracle re-derives the bit interleave in DuckDB from
    * first principles (the parallel-prefix spread as a 5-stage CTE
    * pipeline), so the codegen kernel is cross-checked against an
    * independent SQL formulation, not itself. */
  val fnZorder: Q = Q(
    "q_fn_zorder",
    (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          graft.functions.ZOrder64(s,
            col("o_orderkey").cast("long"),
            col("o_custkey").cast("long")).as("zkey"))
        .orderBy("o_orderkey"),
    Some("""WITH z0 AS (
        SELECT o_orderkey,
               CAST(o_orderkey AS BIGINT) & 4294967295 AS a,
               CAST(o_custkey AS BIGINT) & 4294967295 AS b
        FROM orders),
      z1 AS (SELECT o_orderkey, (a | (a << 16)) & 281470681808895 AS a,
                    (b | (b << 16)) & 281470681808895 AS b FROM z0),
      z2 AS (SELECT o_orderkey, (a | (a << 8)) & 71777214294589695 AS a,
                    (b | (b << 8)) & 71777214294589695 AS b FROM z1),
      z3 AS (SELECT o_orderkey, (a | (a << 4)) & 1085102592571150095 AS a,
                    (b | (b << 4)) & 1085102592571150095 AS b FROM z2),
      z4 AS (SELECT o_orderkey, (a | (a << 2)) & 3689348814741910323 AS a,
                    (b | (b << 2)) & 3689348814741910323 AS b FROM z3),
      z5 AS (SELECT o_orderkey, (a | (a << 1)) & 6148914691236517205 AS a,
                    (b | (b << 1)) & 6148914691236517205 AS b FROM z4)
      SELECT o_orderkey, a | (b << 1) AS zkey FROM z5 ORDER BY o_orderkey"""))

  /** EXT: URL parsing family — `parse_url` for host/path/query plus a
    * keyed query-parameter extract, over URLs constructed
    * deterministically from document metadata (web-crawl provenance
    * columns are a staple of pretraining corpora). The oracle rebuilds
    * the same URL and re-derives each component with plain string ops,
    * so Spark's java.net-based parser is checked against an independent
    * formulation, not itself. */
  val fnUrl: Q = Q(
    "q_fn_url",
    (s, d) => {
      val url = concat(lit("https://"), col("source"),
        lit(".example.com/docs/"), col("doc_id").cast("string"),
        lit("?lang="), col("lang"), lit("&v=2"))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          url.as("url"),
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY")).as("query"),
          parse_url(url, lit("QUERY"), lit("lang")).as("lang_param"),
          parse_url(url, lit("PROTOCOL")).as("proto"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      'https://' || source || '.example.com/docs/' || doc_id ||
        '?lang=' || lang || '&v=2' AS url,
      source || '.example.com' AS host,
      '/docs/' || doc_id AS path,
      'lang=' || lang || '&v=2' AS query,
      lang AS lang_param,
      'https' AS proto
    FROM documents ORDER BY doc_id"""))

  /** EXT: calendar-interval arithmetic — add_months (with month-end
    * clamping), last_day, quarter/ISO-week extraction, make_date
    * reconstruction. Completes the date family beyond q_fn_date's
    * trunc/diff/extract. Date outputs render as ISO strings on both
    * sides: a DATE-typed result column would hinge the compare on
    * pyarrow-vs-DuckDB date boxing, which is parity risk with zero
    * semantic content. */
  val fnInterval: Q = Q(
    "q_fn_interval",
    (s, d) => {
      val dt = col("o_orderdate").cast("date")
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          add_months(dt, 3).cast("string").as("plus_3m"),
          add_months(dt, -18).cast("string").as("minus_18m"),
          last_day(dt).cast("string").as("month_end"),
          quarter(dt).cast("long").as("q"),
          weekofyear(dt).cast("long").as("iso_week"),
          make_date(year(dt), month(dt), lit(1)).cast("string")
            .as("month_start"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      CAST(CAST(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 MONTH AS DATE)
        AS VARCHAR) AS plus_3m,
      CAST(CAST(CAST(o_orderdate AS TIMESTAMP) - INTERVAL 18 MONTH AS DATE)
        AS VARCHAR) AS minus_18m,
      CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
      CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS q,
      CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
      CAST(make_date(CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER),
        CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER), 1)
        AS VARCHAR) AS month_start
    FROM orders ORDER BY o_orderkey"""))

  /** EXT (r14): `variant_explode` — the VARIANT fan-out generator
    * (Spark 4's lateral TVF over the binary semi-structured type),
    * completing the VARIANT family beside q_fn_variant's scalar
    * extraction: one parse, then every FIELD of the object becomes a
    * (pos, key, value) row — the dynamic-schema ingestion shape where
    * field names are data, not schema. The object is widened from the
    * fixture (`{"et":"<type>","k":<n>}`) so the fan-out is 2 fields
    * per event; values project through `to_json(value)` (minified —
    * matches DuckDB's JSON-extract rendering for ints and strings).
    * DuckDB has no json_each here; the mirror enumerates
    * `unnest(json_keys(...))` and re-derives pos as the key's rank —
    * field order in the variant binary is sorted-by-key, which for
    * these keys equals alphabetical. */
  val fnVariantExplode: Q = Q(
    "q_fn_variant_explode",
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events_ve")
      s.sql("""
        SELECT event_id, f.pos, f.key, to_json(f.value) AS value_json
        FROM (SELECT event_id,
                parse_json(concat('{"et":"', event_type, '",',
                  substring(props, 2))) AS v
              FROM events_ve) t,
          LATERAL variant_explode(t.v) AS f
        ORDER BY event_id, key""")
    },
    Some("""WITH t AS (
      SELECT event_id,
        ('{"et":"' || event_type || '",' || substring(props, 2))::JSON AS v
      FROM events),
    x AS (
      SELECT event_id, unnest(json_keys(v)) AS key, v FROM t)
    SELECT event_id,
      CAST(row_number() OVER (PARTITION BY event_id ORDER BY key) - 1
        AS INT) AS pos,
      key,
      CAST(json_extract(v, '$.' || key) AS VARCHAR) AS value_json
    FROM x ORDER BY event_id, key"""))

  /** EXT (r14): Spark 4 COLLATIONS — string equality as a TYPE
    * property (`collate(s, 'UTF8_LCASE')`), not an expression rewrite:
    * grouping/distinct over a collated column compares
    * case-insensitively inside codegen, the SQL-standard form of the
    * lower()-wrapper idiom (and at 100 TB the collation survives into
    * shuffles and joins where a forgotten lower() silently forks
    * keys). Each event type is fanned to three case variants; the
    * binary-collation distinct count sees all of them, the LCASE
    * count collapses them. Counts-only output keeps the oracle exact
    * (a collated GROUP BY's representative value is
    * first-encountered, i.e. nondeterministic — never declare it).
    *
    * Scale (r15): the r14 form ran both countDistincts over the RAW
    * exploded stream — a multi-distinct aggregate plans an Expand
    * (one input copy per distinct spec), so 3·|events| exploded rows
    * shuffled ×3 again: the suite's second-largest sf20 absolute
    * (29.4 s steady) for a 5-group answer. Now the stream collapses
    * to the DISTINCT DOMAIN first — groupBy(event_type, v) with
    * map-side combine reduces 3·|events| to 15 rows before any
    * Expand — and the distinct counts + collated distinct run on the
    * collapsed table (n_rows = exact sum of the carried counts).
    * Never worse at ANY cardinality: the pre-aggregate shuffles each
    * distinct (key, v) once where Expand shuffles every INPUT row
    * per distinct spec. Same outputs, same oracle (hash-exact
    * sf0.01/sf1); idle best-of-4 steady: sf5 6.43 → 0.83 s, sf20
    * 29.35 → 1.45 s (20×), growth 1.75× on the 4× step — scan-bound. */
  val fnCollation: Q = Q(
    "q_fn_collation",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          explode(array(
            col("event_type"),
            upper(col("event_type")),
            concat(upper(expr("left(event_type, 1)")),
              expr("substring(event_type, 2)")))).as("v"))
        .groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("v")).as("n_binary"),
          countDistinct(expr("collate(v, 'UTF8_LCASE')")).as("n_lcase"),
          sum(col("c")).as("n_rows"))
        .orderBy("event_type"),
    Some("""WITH x AS (
      SELECT event_type, unnest([
        event_type,
        upper(event_type),
        upper(substring(event_type, 1, 1)) || substring(event_type, 2)
      ]) AS v
      FROM events)
    SELECT event_type,
      count(DISTINCT v) AS n_binary,
      count(DISTINCT lower(v)) AS n_lcase,
      count(*) AS n_rows
    FROM x GROUP BY event_type ORDER BY event_type"""))

  val all: Seq[Q] = Seq(fnString, fnDate, fnMath, fnArray, fnJson, fnNull,
    fnTryCast, fnHash, fnRegex, fnStruct, fnBitwise, fnZorder, fnUrl,
    fnInterval, fnVariant, fnVariantExplode, fnCollation)
}
