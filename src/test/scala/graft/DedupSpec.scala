package graft

import graft.functions.{TextHash, Vectors}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val nearDupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different words about spark query engines at scale"))
    .toDF("doc_id", "text")

  test("minhash estimated jaccard tracks exact shingle jaccard") {
    val sig = nearDupDocs.select(col("doc_id"),
      TextHash.shingles(TextHash.tokens(col("text")), 3).as("sh"))
      .select(col("doc_id"), col("sh"),
        TextHash.minhashSignature(col("sh"), 64).as("sig"))
    val a = sig.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("sig").as("a_sig"))
    val b = sig.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("sig").as("b_sig"))
    val pairs = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        TextHash.estJaccard(col("a_sig"), col("b_sig"), 64).as("est"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh")))).as("exact"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(pairs((1L, 2L)) == ((1.0, 1.0)))            // identical docs
    val (est13, exact13) = pairs((1L, 3L))             // one-word edit
    assert(exact13 > 0.4 && math.abs(est13 - exact13) < 0.25,
      s"est=$est13 exact=$exact13")
    val (est14, _) = pairs((1L, 4L))                   // unrelated
    assert(est14 < 0.2)
  }

  test("banded LSH collides identical docs and not unrelated ones") {
    val sig = nearDupDocs.select(col("doc_id"),
      TextHash.minhashSignature(
        TextHash.shingles(TextHash.tokens(col("text")), 3), 32).as("sig"))
      .select(col("doc_id"),
        TextHash.bandKeys(col("sig"), 8, 4).as("bands"))
      .select(col("doc_id"), explode(col("bands")).as("bk"))
    val hits = sig.as("x").join(sig.as("y"), "bk")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((1L, 2L)))
    assert(!hits.contains((1L, 4L)))
  }

  test("simhash: identical text -> hamming 0; unrelated -> large distance") {
    val sims = Registry.byName("q_dedup_simhash").fn(spark, sf)
    assert(sims.count() > 0)
    // the synthetic frame through the native kernel
    val hashes = nearDupDocs
      .select(col("doc_id"),
        functions.SimHashPortable(spark, col("text"), 60).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashes(1L), hashes(2L)) == 0)
    assert(ham(hashes(1L), hashes(3L)) < ham(hashes(1L), hashes(4L)))
  }

  test("simhash token filter: the trim predicate keeps exactly the texts with a token") {
    val texts = Seq[String](null, "", " ", "   ", "\t", "\n", " \t ", "a",
      " a", "a ", "  a  b  ", "A B", "\u00a0", " \u3000 ", "x\u0000", "é ")
      .toDF("text")
    val kept = texts.select(col("text"),
      coalesce(size(TextHash.tokens(col("text"))) > 0, lit(false)).as("old"),
      coalesce(queries.DedupOps.hasToken(col("text")), lit(false)).as("new"))
      .collect()
    assert(kept.length == 16)
    kept.foreach(r => assert(r.getBoolean(1) == r.getBoolean(2),
      s"text ${Option(r.getString(0)).map(_.map(_.toInt))}: " +
        s"tokens ${r.getBoolean(1)}, trim ${r.getBoolean(2)}"))
    assert(kept.count(_.getBoolean(2)) == 12)
  }

  test("simhash pairs: exact dups pair at hamming 0; unrelated never pair") {
    val pairs = Registry.byName("q_dedup_simhash_pairs").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.nonEmpty, "fixture exact dups must collide")
    // every reported pair is within the declared threshold, and the
    // block guarantee holds: re-derive hamming from the fingerprints
    val sh = Registry.byName("q_dedup_simhash").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case ((a, b), h) =>
      assert(h <= 3, s"pair ($a,$b) above threshold: $h")
      assert(java.lang.Long.bitCount(sh(a) ^ sh(b)) == h,
        s"pair ($a,$b) hamming mismatch")
    }
    // completeness at the guaranteed radius: brute-force all pairs
    // within hamming <= 3 over the fingerprints and compare sets
    val ids = sh.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator
      j <- (i + 1 until ids.size).iterator
      if java.lang.Long.bitCount(sh(ids(i)) ^ sh(ids(j))) <= 3
    } yield (ids(i), ids(j))).toSet
    assert(pairs.keySet == brute,
      s"missing=${brute -- pairs.keySet} extra=${pairs.keySet -- brute}")
  }

  test("LSH top-k candidates rank by the same cosine as brute force") {
    val lsh = Registry.byName("q_sim_lsh_topk").fn(spark, sf)
      .select("probe_id", "cand_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    val brute = Registry.byName("q_sim_topk_cosine").fn(spark, sf)
      .select("probe_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // any candidate also in the brute top-10 must carry the identical score
    val overlap = lsh.keySet.intersect(brute.keySet)
    overlap.foreach { k => assert(lsh(k) == brute(k), s"cos mismatch at $k") }
  }

  test("embedding dedup: LSH candidates give exact-cosine subset of brute force, recall documented") {
    val lsh = Registry.byName("q_dedup_embedding").fn(spark, sf)
      .select("a_id", "b_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force: all same-label pairs, exact cosine >= 0.35
    val e = graft.engine.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val brute = e.select(col("vec_id").as("a_id"), col("label"),
        col("embedding").as("av"))
      .join(e.select(col("vec_id").as("b_id"), col("label"),
        col("embedding").as("bv")), Seq("label"))
      .where(col("a_id") < col("b_id"))
      .withColumn("cos", graft.functions.CosineSimilarity(
        spark, col("av"), col("bv")))
      .where(col("cos") >= 0.35)
      .select("a_id", "b_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision 1: every LSH pair is a true pair with the identical score
    lsh.foreach { case (k, c) =>
      assert(brute.contains(k), s"false positive $k")
      assert(brute(k) == c, s"cos mismatch at $k")
    }
    // recall vs the identically-bounded brute set: the declared query
    // keeps each vector's top-NearK(=5) earlier neighbors, so bound the
    // brute pair set the same way (per-b_id top-5 by cos desc, a_id
    // asc) before comparing. At threshold 0.35 a hyperplane bit agrees
    // with only p≈0.61, so misses are expected BY DESIGN (the declared
    // semantics include the candidate stage). Pin a floor so a banding
    // regression (e.g. a band-key bug collapsing collisions) fails loudly.
    assert(brute.nonEmpty)
    val bruteTopK = brute.toSeq
      .groupBy(_._1._2)
      .flatMap { case (_, ps) =>
        ps.sortBy { case ((aId, _), c) => (-c, aId) }.take(5)
      }
    val recall = lsh.size.toDouble / bruteTopK.size
    assert(recall >= 0.5, s"recall $recall (${lsh.size}/${bruteTopK.size})")
  }

  test("LSH bucket cap keeps a pathological all-identical corpus linear") {
    // 200 identical docs collapse every band into one bucket; uncapped
    // all-pairs would emit C(200,2)=19900 pairs. The cap bounds the
    // bucket at C(64,2) head pairs + (200-64) star pairs, and the star
    // shape must keep every doc connected to the duplicate component.
    val tmp = java.nio.file.Files.createTempDirectory("graft_degen").toString
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    (1L to 200L).map(i => (i, txt, "en", "srcA", txt.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Registry.byName("q_dedup_near").fn(spark, tmp).cache()
    val n = pairs.count()
    val cap = 64
    val bound = cap * (cap - 1) / 2 + (200 - cap)
    assert(n <= bound, s"pair count $n exceeds capped bound $bound")
    assert(n >= 200 - 1, s"pair count $n cannot connect 200 duplicates")
    val ids = pairs.select("a_id").as[Long].collect().toSet ++
      pairs.select("b_id").as[Long].collect().toSet
    assert(ids == (1L to 200L).toSet, "an overflow doc lost its link")
    pairs.unpersist()
  }

  test("ngram fallback: prefix-filtered path equals the pairwise path") {
    val grams = queries.DedupOps.ngramGrams(spark, sf).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val pairwise =
      rows(queries.DedupOps.ngramPairs(spark, grams, Int.MaxValue))
    val prefixed = rows(queries.DedupOps.ngramPairs(spark, grams, 0))
    assert(pairwise.nonEmpty)
    assert(prefixed == pairwise,
      s"prefix-only=${prefixed -- pairwise} pairwise-only=${pairwise -- prefixed}")
    grams.unpersist()
  }

  test("q_dedup_near recall/precision measured against the exact ngram truth (sf0.1)") {
    // r8 verdict gap #2: the repo has an EXACT oracle for its
    // approximate near-dup operator (q_dedup_ngram_jaccard enumerates
    // every 5-gram-Jaccard ≥ 0.8 pair) and never used it. This spec
    // pins the quality contract at sf0.1:
    //  - the LSH parameters' S-curve is sane (pure math);
    //  - RECALL floor: every exact near-dup pair whose 3-shingle
    //    Jaccard (the measure MinHash actually estimates) is ≥ 0.85
    //    must be recovered at rate ≥ 0.9;
    //  - PRECISION floor: ≥ 0.8 of emitted pairs are true 3-shingle
    //    J ≥ 0.35 neighbors (est ≥ 0.5 at 32 perms has σ ≈ 0.09;
    //    0.35 is the 1.65σ lower bound of the kept estimates).
    val d = "/root/testdata/sf0.1"
    import queries.DedupOps.{Bands, RowsPerBand}
    // Standard banded-LSH S-curve: P(≥1 of b bands of r rows collides
    // | signature agreement s) = 1 − (1 − s^r)^b. At (b=8, r=4) the
    // curve must pass high-similarity pairs and reject background.
    def collideP(s: Double) =
      1 - math.pow(1 - math.pow(s, RowsPerBand), Bands)
    assert(collideP(0.85) > 0.99, f"S-curve at 0.85: ${collideP(0.85)}%.4f")
    assert(collideP(0.30) < 0.10, f"S-curve at 0.30: ${collideP(0.30)}%.4f")
    val near = Registry.byName("q_dedup_near").fn(spark, d)
      .select("a_id", "b_id").cache()
    val sh = graft.engine.Tables.documents(spark, d).select(col("doc_id"),
      graft.functions.GramHashes(spark, col("text"), 3).as("sh"))
    def withJ3(pairs: org.apache.spark.sql.DataFrame) = pairs
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("c", graft.functions.SortedIntersectCount(
        spark, col("a_sh"), col("b_sh")).cast("double"))
      .withColumn("j3", col("c")
        / (size(col("a_sh")) + size(col("b_sh")) - col("c")))
    val truth = withJ3(Registry.byName("q_dedup_ngram_jaccard")
        .fn(spark, d).select("a_id", "b_id"))
      .where(col("j3") >= 0.85)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = near.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "no exact truth pairs at sf0.1 — vacuous recall")
    val recall = truth.count(got.contains).toDouble / truth.size
    info(f"recall of exact J3≥0.85 pairs: $recall%.3f over ${truth.size} pairs")
    assert(recall >= 0.9, f"recall $recall%.3f < 0.9 (missed: ${truth -- got})")
    val nearScored = withJ3(near)
    val nNear = nearScored.count()
    val nTrue = nearScored.where(col("j3") >= 0.35).count()
    info(s"precision proxy: $nTrue/$nNear emitted pairs have exact J3 >= 0.35")
    assert(nNear > 0)
    assert(nTrue.toDouble / nNear >= 0.8,
      s"precision ${nTrue.toDouble / nNear} < 0.8")
    near.unpersist()
  }

  test("global ngram dedup: same-source restriction equals the per-source query; cross-source pairs exist") {
    // Both queries are EXACT enumerations of J >= 0.8 pairs — the only
    // difference is the blocking scope — so the global result
    // restricted to a_source == b_source must equal the per-source
    // result bit-for-bit, and the unrestricted remainder is exactly
    // the dup mass per-source blocking cannot see (at sf0.01: 24 of
    // 25 pairs are cross-source).
    val d = "/root/testdata/sf0.01"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val glob = Registry.byName("q_dedup_ngram_global").fn(spark, d).cache()
    val same = glob.where(col("a_source") === col("b_source"))
      .select("a_id", "b_id", "n_common", "jaccard")
      .collect().map(key).toSet
    val per = Registry.byName("q_dedup_ngram_jaccard").fn(spark, d)
      .select("a_id", "b_id", "n_common", "jaccard")
      .collect().map(key).toSet
    assert(same == per,
      s"same-source-only=${same -- per} per-source-only=${per -- same}")
    val cross = glob.where(col("a_source") =!= col("b_source")).count()
    assert(cross > 0, "fixture has no cross-source near-dups?")
    glob.unpersist()
  }

  test("fuzzy-name hot block: deletion-neighborhood path equals pairwise, exactly") {
    // r8 verdict "what's wrong" #1: the 16-char prefix block was
    // fixture-coupled — a hot real-world prefix would send the
    // pairwise self-join quadratic. One synthetic mega-block (68 rows,
    // one shared prefix) forced through the FastSS path (cap=10) must
    // agree bit-for-bit with (a) the pairwise path (cap=MaxValue) and
    // (b) the brute-force unblocked truth. Planted pair classes:
    // equality, substitution, insertion, deletion, plus the sequential
    // filler names whose trailing digits generate their own dist-1
    // substitution pairs.
    val p = "Prefix__________" // exactly the 16-char block width
    assert(p.length == 16)
    val rows = (Seq(
      1L -> "alpha", 2L -> "alpha",   // dist 0
      3L -> "alphb",                  // substitution
      4L -> "alpha7",                 // insertion (tail)
      5L -> "alph",                   // deletion
      6L -> "zzzzz",                  // unrelated
      7L -> "aalpha"                  // insertion (head of suffix)
    ) ++ (100L to 160L).map(i => i -> s"filler$i"))
      .map { case (id, sfx) => (id, p + sfx) }
    val named = rows.toDF("id", "name")
      .withColumn("blk", substring(col("name"), 1, 16))
    def got(cap: Int) = queries.DedupOps.fuzzyNamePairs(named, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaHot = got(10)          // block_n=68 > 10 → FastSS path
    val viaPairwise = got(Int.MaxValue)
    val a = rows.toDF("id_a", "name_a")
    val b = rows.toDF("id_b", "name_b")
    val truth = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(truth.contains((1L, 2L, 0L)) && truth.contains((1L, 3L, 1L))
      && truth.contains((1L, 4L, 1L)) && truth.contains((1L, 5L, 1L))
      && truth.contains((1L, 7L, 1L)), s"planted pairs missing: $truth")
    assert(viaHot == truth,
      s"hot-only=${viaHot -- truth} missed=${truth -- viaHot}")
    assert(viaPairwise == truth)
  }

  test("ngram prefix filter recovers boilerplate-only duplicates exactly") {
    // The r5 df-capped generator pruned ubiquitous grams, so docs made
    // ONLY of boilerplate (d1, d2) lost all their pairs — including the
    // jaccard-1.0 duplicate — unless a lossy residual hack re-paired
    // them. The prefix filter has no such blind spot: ubiquitous grams
    // rank last but a doc whose every gram is ubiquitous still carries
    // them in its (rarest-first) prefix. Ground truth is the pairwise
    // shape on the same grams.
    val tmp = java.nio.file.Files.createTempDirectory("graft_resid").toString
    val boiler = "aaa bbb ccc ddd eee" // 5 tokens = one 5-gram
    val docs =
      Seq((1L, boiler), (2L, boiler), // boilerplate-only duplicates
        (3L, s"$boiler xxx yyy zzz"), // rare-phrase duplicates
        (4L, s"$boiler xxx yyy zzz")) ++
        (5L to 8L).map(i => (i, s"$boiler p$i q$i r$i")) // unique fillers
    docs.map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val grams = queries.DedupOps.ngramGrams(spark, tmp).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val exact = rows(queries.DedupOps.ngramPairs(spark, grams, Int.MaxValue))
    val prefixed = rows(queries.DedupOps.ngramPairs(spark, grams, 0))
    assert(exact.exists { case (_, a, b, _, j) => a == 1L && b == 2L && j == 1.0 },
      "fixture must contain the boilerplate duplicate pair")
    assert(prefixed == exact,
      s"prefix-only=${prefixed -- exact} exact-only=${exact -- prefixed}")
    grams.unpersist()
  }

  test("ngram prefix path enumerates an identical-doc block completely") {
    // 120 identical docs: every pair qualifies (jaccard 1.0), so the
    // TRUE answer is all C(120,2) = 7140 pairs — exact enumeration is
    // inherently output-sized and no candidate generator can beat it.
    // (That cost is the reason cluster-level dedup at 100 TB belongs to
    // minhash banding + connected components; THIS query is the exact
    // verifier of the family.) The prefix path must return the complete
    // quadratic truth, not a capped subset as r5's residual path did.
    val tmp = java.nio.file.Files.createTempDirectory("graft_residcap").toString
    val boiler = "aaa bbb ccc ddd eee"
    (1L to 120L).map(i => (i, boiler, "en", "srcA", boiler.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val grams = queries.DedupOps.ngramGrams(spark, tmp).cache()
    val pairs = queries.DedupOps.ngramPairs(spark, grams, 0).cache()
    assert(pairs.count() == 120L * 119 / 2,
      "identical-doc block must enumerate completely")
    assert(pairs.where(col("jaccard") =!= 1.0).isEmpty)
    val ids = pairs.select("a_id").as[Long].collect().toSet ++
      pairs.select("b_id").as[Long].collect().toSet
    assert(ids == (1L to 120L).toSet)
    pairs.unpersist(); grams.unpersist()
  }

  test("containment catches a quote inside a container that jaccard misses") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_contain").toString
    val quote = "alpha beta gamma delta epsilon"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    Seq((1L, quote, "en", "srcA", quote.length.toLong),
      (2L, s"$quote $filler", "en", "srcA", 400L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val grams = queries.DedupOps.ngramGrams(spark, tmp)
    val scored = queries.DedupOps
      .ngramRawPairs(spark, grams, 512, queries.DedupOps.NgramContainT,
        symmetric = false)
      .select(
        graft.functions.SortedIntersectCount(
          spark, col("a_bg"), col("b_bg")).as("n_common"),
        size(col("a_bg")).cast("double").as("na"),
        size(col("b_bg")).cast("double").as("nb"))
      .select(
        (col("n_common") / least(col("na"), col("nb"))).as("containment"),
        (col("n_common") / (col("na") + col("nb") - col("n_common")))
          .as("jaccard"))
      .head()
    // every gram of the quote appears in the container → perfect
    // containment, while jaccard is diluted by the container's length
    assert(scored.getDouble(0) == 1.0,
      s"containment ${scored.getDouble(0)}")
    assert(scored.getDouble(1) < 0.1, s"jaccard ${scored.getDouble(1)}")
  }

  test("containment prefix path is exact when every shared gram is ubiquitous") {
    // The blind spot that killed the r5 df-capped generator at sf1: a
    // pair whose EVERY shared gram is block-ubiquitous generated no
    // candidate. Here a 5-token quote is contained whole in 30 long
    // containers (its single 5-gram has df=31 — maximally ubiquitous),
    // so all 30 (quote, container) pairs have containment 1.0 and
    // depend ONLY on that ubiquitous gram. Container-container pairs
    // share just it against ~40 of their own → below threshold. The
    // prefix path must find exactly the 30 true pairs; ground truth is
    // the pairwise shape on the same grams.
    val tmp = java.nio.file.Files.createTempDirectory("graft_ubiq").toString
    val quote = "alpha beta gamma delta epsilon"
    val docs = (1L, quote) +: (2L to 31L).map { i =>
      val filler = (1 to 40).map(j => s"w${i}_$j").mkString(" ")
      (i, s"$quote $filler")
    }
    docs.map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val grams = queries.DedupOps.ngramGrams(spark, tmp).cache()
    def contained(blockCap: Int) =
      queries.DedupOps.ngramRawPairs(spark, grams, blockCap,
        queries.DedupOps.NgramContainT, symmetric = false)
        .select(col("source"), col("a_id"), col("b_id"),
          (graft.functions.SortedIntersectCount(
            spark, col("a_bg"), col("b_bg")).cast("double") /
            least(size(col("a_bg")), size(col("b_bg"))).cast("double"))
            .as("containment"))
        .where(col("containment") >= queries.DedupOps.NgramContainT)
        .select("source", "a_id", "b_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    val full = contained(Int.MaxValue)
    val prefixed = contained(0)
    assert(full == (2L to 31L).map(i => ("srcA", 1L, i)).toSet,
      s"ground truth must be the 30 quote-container pairs, got $full")
    assert(prefixed == full,
      s"prefix-only=${prefixed -- full} full-only=${full -- prefixed}")
    grams.unpersist()
  }

  /** Composed mirror of the portable SimHash kernel
    * (functions.SimHashPortable / GramSketch.simhashPortable), the
    * independent form the kernel must match bit for bit: per bit b, sum
    * +tf when the affine-permutation sign of the portable token hash is
    * up (`((g·A(b) + B(b)) mod P)·2 ≥ P`) else -tf, over the exploded
    * (portable-hash, tf) aggregate context. */
  private def simhashBitSums(
      tokenHash: Column, tf: Column, bits: Int): Seq[Column] = {
    import graft.functions.GramSketch
    val p = GramSketch.PortableP
    (0 until bits).map { b =>
      val sign = ((tokenHash * GramSketch.portableA(b)
        + GramSketch.portableB(b)) % p) * 2 >= p
      sum(when(sign, tf).otherwise(-tf)).as(s"_bit$b")
    }
  }

  /** Combine the per-bit sum columns into the final fingerprint. */
  private def simhashFromBitSums(cols: Seq[Column]): Column =
    cols.zipWithIndex.map { case (c, b) =>
      when(c > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  test("native portable simhash equals the composed explode/groupBy form bit for bit") {
    // real fixture docs, not just the synthetic frame — covers unicode,
    // repeated tokens and long texts through both paths
    val docs = graft.engine.Tables.documents(spark, sf)
      .where(size(TextHash.tokens(col("text"))) > 0)
    val composed = {
      val tok = docs
        .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("th", functions.RollingHash(spark, col("token")))
      val bitSums = simhashBitSums(col("th"), col("tf"), 60)
      tok.groupBy(col("doc_id"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          simhashFromBitSums(
            (0 until 60).map(b => col(s"_bit$b"))).as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val native = docs
      .select(col("doc_id"),
        functions.SimHashPortable(spark, col("text"), 60).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.keySet == composed.keySet)
    composed.foreach { case (id, v) =>
      assert(native(id) == v, s"doc $id: native ${native(id)} != composed $v")
    }
  }

  test("native gram_hashes: sorted, distinct, counts match the expression form") {
    val both = nearDupDocs.select(col("doc_id"),
      functions.GramHashes(spark, col("text"), 3).as("g"),
      TextHash.shingles(TextHash.tokens(col("text")), 3).as("sh"))
      .collect()
    both.foreach { r =>
      val g = r.getSeq[Long](1)
      assert(g == g.sorted, "gram hashes must be sorted")
      assert(g.distinct.size == g.size, "gram hashes must be distinct")
      assert(g.size == r.getSeq[String](2).distinct.size,
        "native distinct-gram count must equal string-shingle count")
    }
  }

  test("native minhash_sig estimated jaccard tracks exact shingle jaccard") {
    val sig = nearDupDocs.select(col("doc_id"),
      TextHash.shingles(TextHash.tokens(col("text")), 3).as("sh"),
      functions.MinHashSig(spark, col("text"), 3, 64).as("sig"))
    val a = sig.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("sig").as("a_sig"))
    val b = sig.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("sig").as("b_sig"))
    val pairs = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        TextHash.estJaccard(col("a_sig"), col("b_sig"), 64).as("est"),
        (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh")))).as("exact"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(pairs((1L, 2L)) == ((1.0, 1.0)))
    val (est13, exact13) = pairs((1L, 3L))
    assert(math.abs(est13 - exact13) < 0.25, s"est=$est13 exact=$exact13")
    assert(pairs((1L, 4L))._1 < 0.2)
  }

  test("native kernels are SQL-callable and null/short-doc safe") {
    import spark.implicits._
    functions.GramHashes.register(spark)
    functions.MinHashSig.register(spark)
    Seq((1L, "one two three four"), (2L, "tiny"), (3L, null: String))
      .toDF("id", "text").createOrReplaceTempView("gs_docs")
    val rows = spark.sql("""
      SELECT id, gram_hashes(text, 3) AS g, minhash_sig(text, 3, 8) AS s
      FROM gs_docs ORDER BY id""").collect()
    assert(rows(0).getSeq[Long](1).size == 2)   // 4 tokens -> 2 trigrams
    assert(rows(0).getSeq[Long](2).size == 8)
    assert(rows(1).getSeq[Long](1).isEmpty)     // < k tokens -> empty grams
    assert(rows(1).getSeq[Long](2).forall(_ == Long.MaxValue)) // seed sig
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2)) // null text -> null
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = engine.Tables.documents(spark, sf)
      .dropDuplicates("text")
    assert(once.dropDuplicates("text").count() == once.count())
  }

  test("q_dedup_semantic: greedy keep rule holds exactly, per cell") {
    // Re-derive the SemDeDup keep rule driver-side on the sf0.001
    // corpus (200 vectors) and demand bit-agreement: a vector is dup
    // iff SOME lower-id same-cell vector has cos >= 0.35, and dup_of
    // is the smallest such id.
    val res = q("q_dedup_semantic")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getBoolean(3)))).toMap
    val vecs = engine.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      d / math.sqrt(nx * ny)
    }
    assert(res.size == vecs.size)
    val byCell = res.toSeq.groupBy(_._2._1)
    byCell.foreach { case (_, members) =>
      val ids = members.map(_._1).sorted
      ids.foreach { id =>
        val earlierSim = ids.filter(o => o < id && cos(vecs(o), vecs(id)) >= 0.35)
        val (_, dupOf, kept) = res(id)
        if (earlierSim.isEmpty) assert(kept && dupOf == -1L, s"vec $id")
        else assert(!kept && dupOf == earlierSim.min, s"vec $id")
      }
    }
  }

  test("q_dedup_semantic: identical vectors collapse to the first id") {
    // The two lowest-id vectors of some cell made identical would be
    // the cleanest probe, but the declared query is fixture-bound —
    // instead assert the structural invariants on the real output.
    val df = q("q_dedup_semantic").cache()
    assert(df.where(col("dup_of") >= col("vec_id")).isEmpty)
    assert(df.where(col("kept") =!= col("dup_of").isNull).isEmpty)
    // dup_of stays within the same cell
    val cells = df.select(col("vec_id").as("dup_of"), col("cell").as("dcell"))
    assert(df.where(col("dup_of").isNotNull).join(cells, Seq("dup_of"))
      .where(col("cell") =!= col("dcell")).isEmpty)
    df.unpersist()
  }

  test("cosine self-similarity is 1 and symmetric") {
    val e = engine.Tables.embeddings(spark, sf).limit(20)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    val sims = a.crossJoin(b)
      .select(col("a_id"), col("b_id"),
        Vectors.cosine(col("av"), col("bv")).as("ab"),
        Vectors.cosine(col("bv"), col("av")).as("ba"))
      .collect()
    sims.foreach { r =>
      if (r.getLong(0) == r.getLong(1))
        assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }
}
