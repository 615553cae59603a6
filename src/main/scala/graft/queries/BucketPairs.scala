package graft.queries

import scala.collection.mutable

import graft.functions.{CosineSimilarity, SquaredNorm}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Descending, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.{col, lit, posexplode_outer}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Bucket-then-verify: the one candidate-pair operator of
  * q_dedup_simhash_pairs, q_dedup_embedding and q_sim_lsh_topk.
  *
  * A key row carries its payload (a simhash, or a vector whose squared
  * norm is computed here once) and an array of bucket keys: key i puts
  * the row in bucket (block, i, key); a NULL key (a NULL signature) puts
  * it in none. The rows explode to one row per bucket and cross ONE
  * exchange, `repartition(defaultParallelism, block, bucket, key)`:
  * pinned width, exempt from AQE coalescing, because pair work grows
  * with the square of a bucket and its bytes only linearly. Each
  * partition sorts by (block, bucket, key, probes first, id), and pairs
  * are generated and scored where both payloads sit: no join, no payload
  * re-attached by id, one signature pass.
  *
  * Pairings, and the distinct each needs:
  *  - [[Complete]]: every two members of a bucket, oriented by id;
  *  - [[Probes]]: each probe with every other member, oriented (probe,
  *    member). For these two a pair is emitted only from the
  *    lowest-index bucket both rows share (both key arrays are in hand),
  *    so it comes out once and needs no distinct.
  *  - [[LookBack]](n): each member with its n nearest predecessors in id
  *    order. A pair can be outside the window in its lowest shared
  *    bucket and inside it in another, so the rule above does not hold:
  *    the caller takes the distinct of the verifier's survivors.
  *
  * Bounded buffering: a partition holds only one bucket's bounded side
  * — the last n rows for LookBack, the probes for Probes (they sort
  * first; members stream past them) — and the whole bucket only for
  * Complete, which must pair it completely anyway.
  *
  * Precondition: ids are unique; two rows with one id never pair.
  */
private[graft] object BucketPairs {
  sealed trait Pairing
  case object Complete extends Pairing
  case object Probes extends Pairing
  final case class LookBack(n: Int) extends Pairing

  /** Scores a pair from its two payloads and keeps or drops it. */
  sealed trait Verifier { def dataType: DataType }

  /** `bitCount(a ^ b)` over a bigint payload; keeps distances ≤ `max`. */
  final case class Hamming(max: Int) extends Verifier {
    def dataType: DataType = LongType
  }

  /** Cosine over an array<float> payload by [[CosineSimilarity.fold]]
    * and the two precomputed squared norms: the double `cosine_sim`
    * returns. With `min`, keeps cos ≥ min under Spark's double order
    * (NaN above every number, NULL never); without, keeps every pair,
    * NULL included. */
  final case class Cosine(min: Option[Double]) extends Verifier {
    def dataType: DataType = DoubleType
  }

  /** Pairs of `rows` by the rules above. `keys` is each row's
    * array<bigint> of bucket keys; `block` names columns of `rows` that
    * every bucket also keys on; `probe` marks the probe rows of
    * [[Probes]]. Output: the block columns, then `a_id`, `b_id` and
    * `score`. */
  def apply(rows: DataFrame, id: Column, keys: Column, payload: Column,
      pairing: Pairing, verifier: Verifier, block: Seq[String] = Nil,
      probe: Column = lit(false)): DataFrame = {
    val s = rows.sparkSession
    val norm = verifier match {
      case _: Cosine => Seq(GraftPlanBridge.column(
        SquaredNorm(GraftPlanBridge.expression(col("p")))).as("norm"))
      case _: Hamming => Nil
    }
    val group = block :+ "bucket" :+ "key"
    val keyed = rows
      .select(block.map(col) ++ Seq(id.cast("long").as("id"),
        keys.cast("array<bigint>").as("keys"), probe.as("probe"),
        payload.as("p")): _*)
      // outer: the inner form makes the optimizer infer size(keys) > 0
      // and push it below the signature's alias, computing it again
      .select(col("*") +: norm :+ posexplode_outer(col("keys")).as(Seq("bucket", "key")): _*)
      .where(col("key").isNotNull)
      .drop((pairing match {
        case Complete => Seq("probe")
        case Probes => Nil
        case _: LookBack => Seq("probe", "keys")
      }): _*)
      .repartition(s.sparkContext.defaultParallelism, group.map(col): _*)
    val child = keyed.queryExecution.analyzed
    def at(n: String): Attribute = child.output.find(_.name == n).get
    def opt(n: String): Option[Attribute] = child.output.find(_.name == n)
    val node = BucketPairsNode(pairing, verifier,
      group = group.map(at), idAttr = at("id"),
      keys = opt("keys"), probe = opt("probe"),
      payload = ("p" +: norm.map(_ => "norm")).map(at),
      output = block.map(at(_).newInstance()) ++ Seq(
        AttributeReference("a_id", LongType, nullable = false)(),
        AttributeReference("b_id", LongType, nullable = false)(),
        AttributeReference("score", verifier.dataType)()),
      child = child)
    GraftPlanBridge.ofRows(s, node)
  }
}

/** The logical operator [[BucketPairs]] builds; `group` is (block...,
  * bucket, key). */
private[graft] case class BucketPairsNode(
    pairing: BucketPairs.Pairing, verifier: BucketPairs.Verifier,
    group: Seq[Attribute], idAttr: Attribute, keys: Option[Attribute],
    probe: Option[Attribute], payload: Seq[Attribute],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(c: LogicalPlan): BucketPairsNode =
    copy(child = c)
}

/** Plans [[BucketPairsNode]]; injected by GraftExtensions. */
private[graft] object BucketPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: BucketPairsNode =>
      BucketPairsExec(n.pairing, n.verifier, n.group, n.idAttr, n.keys, n.probe,
        n.payload, n.output, planLater(n.child)) :: Nil
    case _ => Nil
  }
}

private[graft] case class BucketPairsExec(
    pairing: BucketPairs.Pairing, verifier: BucketPairs.Verifier,
    group: Seq[Attribute], idAttr: Attribute, keys: Option[Attribute],
    probe: Option[Attribute], payload: Seq[Attribute],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  import BucketPairs._

  // The child's repartition(n, group) satisfies the distribution, so
  // planning adds only the sort.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(group) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(group.map(SortOrder(_, Ascending)) ++
      probe.map(SortOrder(_, Descending)) :+ SortOrder(idAttr, Ascending))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairs" -> SQLMetrics.createMetric(sparkContext, "number of pairs scored"))

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def ord(a: Attribute): Int = in.indexWhere(_.exprId == a.exprId)
    val blockAt = group.dropRight(2).map(a => (ord(a), a.dataType))
    val (bucketAt, idAt) = (ord(group(group.size - 2)), ord(idAttr))
    val (keysAt, probeAt, payAt) = (keys.map(ord), probe.map(ord), payload.map(ord))
    val (groupAttrs, outTypes) = (group, output.map(_.dataType).toArray)
    val (pairing, verifier) = (this.pairing, this.verifier)
    val (numOut, numPairs) = (longMetric("numOutputRows"), longMetric("numPairs"))
    child.execute().mapPartitions { rows =>
      val groupOf = UnsafeProjection.create(groupAttrs, in)
      val toUnsafe = UnsafeProjection.create(outTypes)
      val out = new GenericInternalRow(outTypes.length)
      val scoreAt = outTypes.length - 1
      val acc = new Array[Double](3)
      // writes the score of (a, b) into `out`; false drops the pair
      val score: (InternalRow, InternalRow) => Boolean = verifier match {
        case Hamming(max) =>
          val p = payAt.head
          (a, b) => !a.isNullAt(p) && !b.isNullAt(p) && {
            val h = java.lang.Long.bitCount(a.getLong(p) ^ b.getLong(p))
            out.setLong(scoreAt, h)
            h <= max
          }
        case Cosine(min) =>
          val (v, n) = (payAt(0), payAt(1))
          (a, b) =>
            if (a.isNullAt(n) || b.isNullAt(n) ||
                !CosineSimilarity.fold(a.getArray(v), b.getArray(v), norms = false, acc)) {
              out.setNullAt(scoreAt)
              min.isEmpty
            } else {
              val c = acc(0) / math.sqrt(a.getDouble(n) * b.getDouble(n))
              out.setDouble(scoreAt, c)
              min.forall(SQLOrderingUtil.compareDoubles(c, _) >= 0)
            }
      }
      // pair (a, b) is emitted here, not from a lower bucket both hold
      def lowestShared(a: InternalRow, b: InternalRow): Boolean =
        keysAt.forall { k =>
          val (ka, kb, bucket) = (a.getArray(k), b.getArray(k), a.getInt(bucketAt))
          var j = 0
          while (j < bucket && (ka.isNullAt(j) || kb.isNullAt(j) ||
              ka.getLong(j) != kb.getLong(j))) j += 1
          j == bucket
        }
      def emit(a: InternalRow, b: InternalRow): Option[InternalRow] =
        if (a.getLong(idAt) == b.getLong(idAt) || !lowestShared(a, b)) None
        else {
          numPairs += 1
          if (!score(a, b)) None
          else {
            blockAt.indices.foreach(k => out.update(k, a.get(blockAt(k)._1, blockAt(k)._2)))
            out.setLong(blockAt.size, a.getLong(idAt))
            out.setLong(blockAt.size + 1, b.getLong(idAt))
            numOut += 1
            Some(toUnsafe(out))
          }
        }
      val lookBack = pairing match { case LookBack(n) => n; case _ => Int.MaxValue }
      // the rows of this bucket that later rows pair with, in sort order
      val held = mutable.ArrayDeque.empty[InternalRow]
      var bucketKey: UnsafeRow = null
      rows.flatMap { r =>
        val g = groupOf(r)
        if (bucketKey == null || g != bucketKey) { bucketKey = g.copy(); held.clear() }
        val before = held.toArray
        val pairs = probeAt match {
          case Some(p) if !r.getBoolean(p) => before.iterator.map((_, r))
          case _ =>
            val c = r.copy()
            held.append(c)
            if (held.size > lookBack) held.removeHead()
            // a probe also pairs with the probes before it the other way
            val asProbe = if (probeAt.isDefined) before.iterator.map((c, _)) else Iterator.empty
            before.iterator.map((_, c)) ++ asProbe
        }
        pairs.flatMap { case (a, b) => emit(a, b) }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): BucketPairsExec =
    copy(child = c)
}
