package graft

import graft.engine.{JobConfig, Retry}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Pure (no-Spark) properties — cheap, run at full case counts. */
object PureProps extends Properties("pure") {
  property("retry succeeds whenever failures < attempts") =
    forAll(Gen.choose(1, 9), Gen.choose(0, 8)) { (attempts, failures) =>
      (failures < attempts) ==> {
        var calls = 0
        val out = Retry.retry(attempts, baseDelayMs = 1, _ => ()) { () =>
          calls += 1
          if (calls <= failures) sys.error("boom") else "ok"
        }
        out == "ok" && calls == failures + 1
      }
    }

  property("retry total sleep follows doubling schedule") =
    forAll(Gen.choose(2, 9)) { attempts =>
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      try Retry.retry(attempts, baseDelayMs = 2, sleeps += _)(
        () => sys.error("always"))
      catch { case _: RuntimeException => () }
      sleeps.toSeq == (0 until attempts - 1).map(i => 2L << i)
    }

  private val base = Map(
    "DB_ENGINE" -> "postgres", "DB_ENGINE_VERSION" -> "12.8",
    "BACKUP_DIR" -> "/tmp/x")

  property("service-name trim: ≥30 chars → exactly 29, else unchanged") =
    forAll(Gen.alphaNumStr.suchThat(_.nonEmpty)) { name =>
      val c = JobConfig(base + ("SERVICE_NAME" -> name))
      if (name.length >= 30) c.trimmedServiceName.length == 29
      else c.trimmedServiceName == name
    }

  property("major version parses the leading component") =
    forAll(Gen.choose(1, 99), Gen.choose(0, 99)) { (maj, min) =>
      JobConfig(base + ("SERVICE_NAME" -> "s",
        "DB_ENGINE_VERSION" -> s"$maj.$min")).majorVersion == maj
    }
}

/** Spark-backed properties — algebraic laws from SURVEY.md §5.2; small
  * case counts since each case runs Spark jobs. */
object SparkProps extends Properties("spark") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val smallInts = Gen.listOfN(30, Gen.choose(0, 9))

  property("(a exceptAll b) ∪ (a intersectAll b) ≍ a  (multiset law)") =
    forAll(smallInts, smallInts) { (a, b) =>
      val da = a.toDF("v")
      val db = b.toDF("v")
      val rebuilt = da.exceptAll(db).unionAll(da.intersectAll(db))
      rebuilt.exceptAll(da).isEmpty && da.exceptAll(rebuilt).isEmpty
    }

  property("dedup is idempotent and keeps one row per key") =
    forAll(Gen.listOfN(20, Gen.alphaStr.map(_.take(4)))) { xs =>
      (xs.nonEmpty) ==> {
        val df = xs.toDF("v")
        val once = df.dropDuplicates("v")
        once.count() == xs.distinct.size.toLong &&
          once.dropDuplicates("v").count() == once.count()
      }
    }

  property("parquet write→read round trip is content-equal (A7)") =
    forAll(Gen.listOfN(15,
      Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue),
        Gen.alphaNumStr.map(_.take(8)), Gen.choose(-1e6, 1e6)))) { rows =>
      (rows.nonEmpty) ==> {
        val df = rows.toDF("id", "name", "x")
        val dir = java.nio.file.Files.createTempDirectory("graft_prop_")
          .resolve("t").toString
        val rt = graft.engine.Snapshot.roundTripVerify(spark, df, dir)
        rt.verified
      }
    }

  // two nullable columns over tiny domains: NULLs and duplicate rows
  // are common, and an empty frame is one case in four
  private val cdcFrame = Gen.frequency(
    1 -> Gen.const(List.empty[(Option[Int], Option[String])]),
    3 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.option(Gen.choose(0, 2)), Gen.option(Gen.oneOf("a", "b"))))))

  property("incremental equals exceptAll both ways, and |cur| − inserted") =
    forAll(cdcFrame, cdcFrame, Gen.oneOf(false, true)) { (p, c0, same) =>
      val prev = p.toDF("k", "v")
      val cur = (if (same) p else c0).toDF("k", "v")
      val inc = graft.engine.Snapshot.incremental(prev, cur)
      val inserted = cur.exceptAll(prev).count()
      inc.inserted == inserted &&
        inc.deleted == prev.exceptAll(cur).count() &&
        inc.unchanged == cur.count() - inserted
    }

  property("zorder64 clusters: interleave round-trips both operands") =
    forAll(Gen.choose(0L, 0xFFFFFFFFL), Gen.choose(0L, 0xFFFFFFFFL)) {
      (a, b) =>
        import graft.functions.ZOrder64
        val z = ZOrder64.kernel(a, b)
        // de-interleave: even bits back to a, odd bits to b
        def unspread(v: Long): Long = {
          var x = v & 0x5555555555555555L
          x = (x | (x >> 1)) & 0x3333333333333333L
          x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
          x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
          x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
          (x | (x >> 16)) & 0xFFFFFFFFL
        }
        unspread(z) == a && unspread(z >>> 1) == b
    }

  property("strip_accents is idempotent; nfc_normalize is idempotent") =
    forAll(Gen.listOfN(12, Gen.oneOf(
      "Café", "Café", "naïve", "Straße", "plain", "öä", "é̂"))) {
      parts =>
        import graft.functions.{NfcNormalize, StripAccents}
        import org.apache.spark.unsafe.types.UTF8String
        val s = UTF8String.fromString(parts.mkString(" "))
        val once = StripAccents.kernel(s)
        val nfcOnce = NfcNormalize.kernel(s)
        StripAccents.kernel(once) == once &&
          NfcNormalize.kernel(nfcOnce) == nfcOnce
    }

  property("adc_score equals the manual table-lookup sum") =
    forAll(Gen.choose(1, 6).flatMap(m =>
      Gen.zip(Gen.listOfN(m, Gen.choose(0, 7)),
        Gen.listOfN(m * 8, Gen.choose(-100.0, 100.0))))) {
      case (codes, table) =>
        val df = Seq((codes, table)).toDF("codes", "table")
          .select(graft.functions.AdcScore(spark,
            org.apache.spark.sql.functions.col("codes"),
            org.apache.spark.sql.functions.col("table")).as("s"))
        val got = df.head.getDouble(0)
        val want = codes.zipWithIndex
          .map { case (c, m) => table(m * 8 + c) }.sum
        got == want
    }

  property("minhash est jaccard ∈ [0,1] and est(x,x) = 1") =
    forAll(Gen.listOfN(12, Gen.oneOf("spark", "query", "engine", "data",
      "row", "scan", "join", "agg"))) { words =>
      import graft.functions.TextHash
      import org.apache.spark.sql.functions._
      val df = Seq(words.mkString(" ")).toDF("text")
        .select(TextHash.minhashSignature(
          TextHash.shingles(TextHash.tokens(col("text")), 3), 16).as("sig"))
        .select(TextHash.estJaccard(col("sig"), col("sig"), 16).as("self"))
      val self = df.head.getDouble(0)
      self == 1.0
    }
}
