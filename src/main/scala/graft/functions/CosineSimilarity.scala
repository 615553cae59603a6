package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: single-pass fused cosine similarity over
  * two float-array columns.
  *
  * The composed form (Vectors.cosine) traverses each array three times
  * (dot + two norms) through generic higher-order-function machinery;
  * this kernel does one traversal with three accumulators and
  * whole-stage-codegens to a tight scalar loop. Accumulation order per
  * accumulator is identical to the composed form's left fold from 0.0,
  * so results are BIT-IDENTICAL to Vectors.cosine and to the DuckDB
  * oracle mirror (Vectors.sqlCosine) — asserted by ExpressionSpec.
  *
  * This is the one place the built-ins genuinely couldn't express the
  * operator efficiently (SURVEY.md §4.3 anticipated zero custom
  * expressions; the fused traversal is the exception that measured
  * worth it).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e =>
      e.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // Returns null for non-null inputs (ragged pair / null element), so
  // nullability must not derive from the children — without this the
  // analyzed schema claims non-nullable and a null result reads back
  // as 0.0 through the external row converter.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val acc = new Array[Double](3)
    if (CosineSimilarity.fold(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData], norms = true, acc))
      acc(0) / math.sqrt(acc(1) * acc(2))
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acc = ctx.addMutableState("double[]", "cosAcc",
      v => s"$v = new double[3];")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.CosineSimilarity$$.MODULE$$.fold($a, $b, true, $acc)) {
        ${ev.value} = $acc[0] / Math.sqrt($acc[1] * $acc[2]);
      } else { ${ev.isNull} = true; }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val name = "cosine_sim"

  /** The one cosine arithmetic, shared by the expression (interpreted
    * and generated code), [[SquaredNorm]] and the bucket verifier
    * (`queries.BucketPairs`): left folds from 0.0, over the elements in
    * order with each float widened before the multiply, of x·y into
    * `acc(0)` and, when `norms`, of x·x and y·y into `acc(1)` and
    * `acc(2)` in the same traversal. False — a NULL cosine — for a
    * ragged pair or a null element, as the composed form and the DuckDB
    * mirror (out-of-range list index → NULL) give.
    *
    * `fold(x, x, norms = false, acc)` leaves in `acc(0)` exactly the
    * x·x the three-sum form accumulates, so a caller holding both
    * squared norms scores a pair with one dot product and gets the
    * identical double. */
  def fold(x: ArrayData, y: ArrayData, norms: Boolean, acc: Array[Double]): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return false
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return false
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      if (norms) { na += xi * xi; nb += yi * yi }
      i += 1
    }
    acc(0) = dot; acc(1) = na; acc(2) = nb
    true
  }

  val info = new ExpressionInfo(classOf[CosineSimilarity].getName, name)

  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${other.size}")
  }

  /** Idempotent per-session registration (also injected app-wide by
    * GraftExtensions for sessions built with the extension). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name), info, builder)

  /** Column-API entry: registers on the bound session lazily via SQL
    * function dispatch. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(name, a, b)
  }
}

/** Squared L2 norm of an array<float> column by [[CosineSimilarity.fold]]:
  * the per-vector half of the cosine, computed once per row so a pair
  * verifier needs only the dot product. NULL for a null element. Built
  * in Scala only (no SQL name). */
case class SquaredNorm(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val acc = new Array[Double](3)
    if (CosineSimilarity.fold(x, x, norms = false, acc)) acc(0) else null
  }
  override protected def withNewChildInternal(c: Expression): SquaredNorm =
    copy(child = c)
}
