package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, RegExpExtract, RegExpExtractAll, RegExpReplace, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: evaluate an EXPENSIVE projection after a global
  * sort instead of before it —
  * `Sort(o, Project(expensive, c))  →  Project(expensive, Sort(o, c))`
  * when the sort keys are plain child attributes and every projection
  * is deterministic.
  *
  * Why: a global sort's range-exchange SAMPLES its child to pick
  * partition bounds, and that sampling pass EXECUTES THE CHILD PLAN A
  * SECOND TIME. For a cheap projection that's noise; for a
  * scan-shaped query whose projection is the whole cost — regex
  * lexing, higher-order array folds, the native text kernels — it
  * doubles the query (r9 measured q_text_tokencount at sf20:
  * 25.1 s → 8.3 s, the sampler re-running 1M rows of
  * regexp_extract_all twice plus once for real). With the projection
  * above the sort it runs exactly once, post-exchange, and a Project
  * is order-preserving so the output is bit-identical (every such
  * query stays oracle-checked).
  *
  * The trade, stated honestly: the exchange now moves the CHILD's
  * columns (e.g. the full text payload) instead of the projected
  * output — and that cost is paid even when the projection is
  * expensive AND strongly reducing, the rule's own target case. On one
  * box (local[32]) the exchange is a memory/local-disk copy, so the
  * sampler's re-execution dominates and the swap measured a pure win
  * at every scale point (SCALE.md). On a real cluster the exchange is
  * NETWORK bytes: an ORDER BY over a wide text column at 100 TB can
  * make exchange volume the dominant term, and the swap can regress —
  * there is no logical-plan stat that reliably prices a string column
  * (defaultSize treats all strings alike), so the rule has no width
  * gate; SCALE.md records the caveat.
  *
  * Registered via GraftExtensions.injectOptimizerRule.
  */
object SortBelowExpensiveProject extends Rule[LogicalPlan] {

  /** Expensive = per-row cost comparable to or above a shuffle write:
    * regex evaluation, interpreted higher-order functions, Scala UDFs,
    * any of the engine's native kernels (graft.functions.*), or the
    * VARIANT family (r13: `parse_json` builds the binary variant via a
    * reflective StaticInvoke, `to_json(variant)` re-serializes through
    * an evaluator Invoke, `variant_get` walks the binary — all
    * interpreted, all heavy; q_fn_variant at sf0.1 measured ~3.4 s of
    * its ~4 s in the range-sampler's re-execution of exactly these
    * before this clause). Variant detection is structural, not a class
    * list: any non-leaf expression PRODUCING a variant (parse_json,
    * try_parse_json), anything in the variant expression package
    * (variant_get and friends), or an object-invoke CONSUMING a
    * variant input (the to_json evaluator shape). */
  private def expensive(e: Expression): Boolean = e.exists {
    case _: RegExpExtractAll | _: RegExpExtract | _: RegExpReplace => true
    case _: HigherOrderFunction => true
    case _: ScalaUDF => true
    case x if !x.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Attribute]
        && x.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType] =>
      true
    case x if x.getClass.getName.contains(".expressions.variant.") => true
    case x: org.apache.spark.sql.catalyst.expressions.objects.Invoke
        if x.children.exists(_.dataType.isInstanceOf[
          org.apache.spark.sql.types.VariantType]) => true
    case other => other.getClass.getName.startsWith("graft.functions.")
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case Sort(order, true, Project(exprs, child), hint)
          if exprs.exists(expensive)
            && exprs.forall(_.deterministic)
            && order.forall(_.references.subsetOf(child.outputSet)) =>
        Project(exprs, Sort(order, global = true, child, hint))
    }
}
