package graft

import graft.queries.{DedupOps, Similarity}
import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

/** The three bucket-then-verify families (queries.BucketPairs) against a
  * plain-Scala brute force of their declared semantics, on small inputs
  * whose signatures collide on purpose: identical signatures (one hot
  * bucket, pairs that share every bucket), a bucket past
  * q_dedup_embedding's 64-row look-back, empty and one-row inputs, and
  * ragged, zero and NULL vectors. Rows, doubles (bit for bit) and
  * order must match. Cases do not shrink: each one runs Spark jobs. */
object BucketPairsProps extends Properties("bucket-pairs") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  type Vec = Option[Seq[Option[Float]]]

  /** Empty, one row, a few rows, or `hot` rows. */
  private def sized[A](g: Gen[A], hot: Gen[List[A]]): Gen[List[A]] =
    Gen.frequency(1 -> Gen.const(Nil), 1 -> Gen.listOfN(1, g),
      5 -> Gen.choose(2, 30).flatMap(Gen.listOfN(_, g)), 2 -> hot)

  /** `n` distinct ids from `ids`, in random order. */
  private def ids(n: Int, ids: Seq[Long]): Gen[List[Long]] =
    Gen.pick(n, ids).flatMap(xs => Gen.const(xs.toList)).map(xs =>
      new scala.util.Random(xs.sum).shuffle(xs))

  private val sim60 = Gen.choose(0L, (1L << 60) - 1)

  /** Fingerprints near a few bases (0 to 4 flipped bits), some random,
    * some NULL. */
  private val simhashes: Gen[List[(Long, Option[Long])]] = for {
    bases <- Gen.listOfN(3, sim60)
    near = for {
      b <- Gen.oneOf(bases)
      k <- Gen.choose(0, 4)
      bits <- Gen.listOfN(k, Gen.choose(0, 59))
    } yield bits.foldLeft(b)((h, i) => h ^ (1L << i))
    one = Gen.frequency(8 -> near.map(Option(_)), 1 -> sim60.map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
    hs <- sized(one, Gen.listOfN(40, near.map(Option(_))))
    is <- ids(hs.size, 0L until 1000L)
  } yield is.zip(hs)

  private val floats = Gen.choose(-1f, 1f)

  /** Copies of a few bases, some with a few elements moved; random,
    * zero, ragged and NULL vectors, and one with a NULL element. */
  private def vectors(pool: List[Seq[Float]]): Gen[Vec] = {
    val near = for {
      base <- Gen.oneOf(pool)
      moved <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 63)))
      d <- Gen.choose(-0.5f, 0.5f)
    } yield base.zipWithIndex.map { case (x, i) =>
      Option(if (moved.contains(i)) x + d else x) }
    Gen.frequency(
      12 -> near.map(Option(_)),
      2 -> Gen.listOfN(64, floats).map(v => Option(v.map(Option(_)))),
      1 -> Gen.const(Option(Seq.fill(64)(Option(0f)))),
      1 -> Gen.const(Option.empty[Seq[Option[Float]]]),
      1 -> Gen.listOfN(63, floats).map(v => Option(v.map(Option(_)))),
      1 -> near.map(v => Option(v.updated(5, None))))
  }

  private val pool = Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.listOfN(64, floats)))

  // --- plain-Scala semantics -------------------------------------------

  /** HyperplaneSig: bit p set iff the left fold of x·plane(p) is > 0;
    * NULL for a vector that is not 64 non-null floats. */
  private def sig(v: Seq[Option[Float]], planes: Seq[Seq[Double]]): Option[Int] =
    if (v.size != 64 || v.exists(_.isEmpty)) None
    else Some(planes.indices.foldLeft(0) { (s, p) =>
      val dot = v.indices.foldLeft(0.0)((acc, j) => acc + v(j).get.toDouble * planes(p)(j))
      if (dot > 0) s | (1 << p) else s
    })

  private def band(s: Int, b: Int): Int = (s >> (4 * b)) & 15

  /** cosine_sim: dot / sqrt(‖a‖²·‖b‖²), each a left fold from 0.0;
    * NULL for a ragged pair or a NULL element. */
  private def cosine(a: Seq[Option[Float]], b: Seq[Option[Float]]): Option[Double] =
    if (a.size != b.size || a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
    else {
      var d, na, nb = 0.0
      a.indices.foreach { i =>
        val (x, y) = (a(i).get.toDouble, b(i).get.toDouble)
        d += x * y; na += x * x; nb += y * y
      }
      Some(d / math.sqrt(na * nb))
    }

  /** Spark's DESC order on doubles: NaN first, NULL last. */
  private def descKey(c: Option[Double]): (Int, Double) = c match {
    case None => (2, 0.0)
    case Some(x) if x.isNaN => (0, 0.0)
    case Some(x) => (1, -x)
  }

  private def bits(c: Option[Double]): Option[Long] =
    c.map(java.lang.Double.doubleToLongBits)

  private def opt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  property("simhash pairs: every pair within hamming 3, once, in (a_id, b_id) order") =
    forAllNoShrink(simhashes) { rows =>
      val got = DedupOps.simhashPairs(rows.toDF("doc_id", "simhash")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val xs = rows.collect { case (id, Some(h)) => (id, h) }.sortBy(_._1)
      val want = for {
        i <- xs.indices
        j <- i + 1 until xs.size
        h = java.lang.Long.bitCount(xs(i)._2 ^ xs(j)._2)
        if h <= 3
      } yield (xs(i)._1, xs(j)._1, h.toLong)
      (got == want) :| s"got ${got.take(5)} want ${want.take(5)}"
    }

  private val labelled: Gen[List[(Long, Option[Int], Vec)]] = for {
    p <- pool
    label = Gen.frequency(5 -> Some(0), 3 -> Some(1), 1 -> None)
    row = Gen.zip(label, vectors(p))
    // buckets past the 64-row look-back: mostly exact copies of one base
    copy = Gen.const(Option(p.head.map(Option(_))))
    hot = Gen.choose(80, 110).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.const(Some(0)), Gen.frequency(9 -> copy, 1 -> vectors(p)))))
    rs <- sized(row, hot)
    is <- ids(rs.size, 0L until 1000L)
  } yield is.zip(rs).map { case (i, (l, v)) => (i, l, v) }

  property("embedding dedup: 64-row look-back per (label, band) bucket, cos >= 0.35, top 5 per b_id") =
    forAllNoShrink(labelled) { rows =>
      val got = Similarity.embeddingDedup(rows.toDF("vec_id", "label", "embedding"))
        .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]),
          r.getLong(1), r.getLong(2), bits(opt(r, 3)), r.getLong(4))).toSeq
      val signed = rows.collect { case (id, l, Some(v)) if v.size == 64 =>
        sig(v, Similarity.DedupPlanes).map(s => (id, l, v, s)) }.flatten
      val cands = (for {
        b <- 0 until 8
        bucket <- signed.groupBy(x => (x._2, band(x._4, b))).values
        sorted = bucket.sortBy(_._1)
        k <- sorted.indices
        j <- math.max(0, k - 64) until k
      } yield (sorted(j), sorted(k))).distinctBy { case (a, b) => (a._1, b._1) }
      val scored = cands.flatMap { case (a, b) =>
        cosine(a._3, b._3).filter(c => c.isNaN || c >= 0.35)
          .map(c => (a._2, a._1, b._1, c)) }
      val want = scored.groupBy(_._3).values.toSeq.flatMap { g =>
        g.sortBy(x => (descKey(Some(x._4)), x._2)).take(5).zipWithIndex
          .map { case ((l, a, b, c), i) => (l, a, b, bits(Some(c)), i + 1L) }
      }.sortBy(x => (x._1.map(_ + 1).getOrElse(0), x._2, x._3))
      (got == want) :| s"got ${got.take(5)} want ${want.take(5)}"
    }

  private val probed: Gen[List[(Long, Vec)]] = for {
    p <- pool
    vs <- sized(vectors(p), Gen.listOfN(70, vectors(p.take(1))))
    // multiples of 50: half are probes while below the 20000 ceiling
    is <- ids(vs.size, (0L until 500L).map(_ * 50))
  } yield is.zip(vs)

  property("LSH top-k: each probe's 5 best band-bucket candidates, cos DESC NULLS LAST") =
    forAllNoShrink(probed) { rows =>
      val got = DedupOps.lshTopk(rows.toDF("vec_id", "embedding")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), bits(opt(r, 3)))).toSeq
      val signed = rows.collect { case (id, Some(v)) =>
        sig(v, DedupOps.LshPlanes).map(s => (id, v, s)) }.flatten
      val want = signed.filter(p => p._1 % 100 == 0 && p._1 < 20000)
        .sortBy(_._1).flatMap { p =>
          signed.filter(c => c._1 != p._1 &&
              (0 until 4).exists(b => band(c._3, b) == band(p._3, b)))
            .map(c => (c._1, cosine(p._2, c._2)))
            .sortBy { case (c, cos) => (descKey(cos), c) }.take(5).zipWithIndex
            .map { case ((c, cos), i) => (p._1, i + 1L, c, bits(cos)) }
        }
      (got == want) :| s"got ${got.take(5)} want ${want.take(5)}"
    }
}
