package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, EqualTo, EvalMode, Expression, If, Literal,
  NamedExpression, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.types.DecimalType

/** Rewrite `SUM(e: DECIMAL(p ≤ 18, s))` — and `AVG(e)` over the same
  * inputs (round 16) — onto the INT128 unscaled-long accumulator
  * ([[graft.functions.SumUnscaled128]]) — the whole-stage-codegen
  * fast path for decimal aggregation.
  *
  * A decimal value of precision ≤ 18 IS its unscaled long
  * (`UnscaledValue` — the same faithfulness Spark's own
  * `DecimalAggregates` rule uses for p ≤ 8, where a plain long sum
  * can't overflow). This rule removes the precision bound by
  * accumulating in int128 (two long buffer slots): exact for > 10^20
  * rows of max-magnitude values, final overflow checked once per
  * group against the SAME result type and LEGACY-null/ANSI-throw
  * contract as Spark's Sum. Measured at sf100: the q12 pre-aggregate
  * (600M rows → 150M groups) spends ~12 s in per-row BigDecimal
  * buffer churn that this rewrite removes (BENCH_Q12_r15).
  *
  * AVG (round 16): `Average(e: DECIMAL(p ≤ 18, s))` keeps the same
  * DECIMAL(p+10, s) sum buffer and pays the same per-row BigDecimal
  * churn as SUM. Rather than re-deriving Average's precision/rounding
  * semantics, the rewrite SUBSTITUTES inside Average's OWN
  * `evaluateExpression` (public on DeclarativeAggregate): the `sum`
  * buffer attribute becomes `If(count = 0, 0, sum128)` and the
  * `count` buffer attribute becomes `COUNT(e)` — so Spark's exact
  * `Divide(CheckOverflowInSum(sum), count.cast(DECIMAL(20,0))).cast
  * (resultType)` tree evaluates verbatim over the int128-computed
  * sum. Contracts reproduced by construction:
  *   - empty group: count = 0 ⇒ sum substitutes to literal 0 (the
  *     buffer's initial value — sum128 alone would be NULL, which
  *     ANSI's CheckOverflowInSum(nullOnOverflow = false) treats as
  *     overflow and would THROW on an empty group); Divide by count
  *     0 yields NULL in both modes, Average's empty answer;
  *   - sum overflow past DECIMAL(p+10): sum128 converts with
  *     ansi = false (NULL), and the preserved CheckOverflowInSum
  *     turns that NULL into Spark's own LEGACY-null / ANSI-throw —
  *     the exact error Average raises;
  *   - non-empty, in-range: the int128 sum IS the mathematical Σ,
  *     identical to the BigDecimal buffer's value.
  * The physical Partial/Final split needs no special handling in
  * either shape: SumUnscaled128 is a DeclarativeAggregate whose
  * merge expressions are the same branch-free int128 adds, so the
  * planner's partial aggregate keeps (hi, lo, seen) long buffers on
  * both sides of the exchange (spec-pinned across repartitionings).
  *
  * REFUSAL GATES: DISTINCT (rewritten upstream into other shapes —
  * and the unscaled view must not change dedup semantics), FILTER
  * clauses, TRY mode (nulls at engine-chosen prefixes — int128 never
  * overflows where TRY would), non-deterministic children, and any
  * input precision > 18 (the unscaled view stops being a long).
  *
  * Runs AFTER the serve/rewrite rules in the injected order: the
  * recognition rules ([[AggViewRewriteRule]], [[ZoneAggRule]],
  * [[EagerAggregationRule]]) match Spark's `Sum` shapes; this rule
  * changes the function node, so it goes last (EagerAggregationRule
  * additionally accepts an already-rewritten SumUnscaled128 partial,
  * in case the fixpoint revisits). */
case class DecimalSumRule(spark: SparkSession) extends GraftRule {

  override protected def switch: Option[String] = Some("spark.graft.decimalSum128.enabled")

  protected def rewrite: PartialFunction[LogicalPlan, Option[LogicalPlan]] = {
    case agg: Aggregate => Some(sums128(agg))
  }

  private def sums128(agg: Aggregate): Aggregate = {
    // the unscaled values are PROJECTED below the aggregate: the
    // aggregate's update expressions reference each input ~5 times
    // (low add, carry terms, sign word, null flag), and conditional
    // shapes defeat codegen's common-subexpression elimination — a
    // Cast-to-decimal evaluated five times per row measured SLOWER
    // than the BigDecimal buffer it replaced. A bare attribute costs
    // nothing to re-reference.
    val projected = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.spark.sql.catalyst.expressions.Expression, Alias)]
    def unscaledAttr(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : org.apache.spark.sql.catalyst.expressions.Attribute = {
      projected.find(_._1.semanticEquals(e)) match {
        case Some((_, al)) => al.toAttribute
        case None =>
          // CAST(double AS decimal) fuses into the guarded fast-path
          // conversion (functions/DoubleToUnscaledLong) — Spark's cast
          // goes through Double.toString + BigDecimal per row, ~half
          // the decimal aggregate's remaining cost
          val unscaled = e match {
            case org.apache.spark.sql.catalyst.expressions
                .Cast(c, dt: DecimalType, _, mode)
                if c.dataType == org.apache.spark.sql.types.DoubleType &&
                  mode != EvalMode.TRY =>
              graft.functions.DoubleToUnscaledLong(c, dt.precision, dt.scale,
                ansi = mode == EvalMode.ANSI)
            case _ => UnscaledValue(e)
          }
          val al = Alias(unscaled, s"_u128_${projected.size}")()
          projected += ((e, al))
          al.toAttribute
      }
    }
    var changed = false
    val newExprs = agg.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae @ AggregateExpression(s @ Sum(e, ctx), Complete, false, None, _)
            if e.dataType.isInstanceOf[DecimalType] &&
              e.dataType.asInstanceOf[DecimalType].precision <= 18 &&
              e.deterministic && ctx.evalMode != EvalMode.TRY &&
              s.dataType.isInstanceOf[DecimalType] =>
          changed = true
          AggregateExpression(
            graft.functions.SumUnscaled128(
              unscaledAttr(e),
              s.dataType.asInstanceOf[DecimalType],
              ansi = ctx.evalMode == EvalMode.ANSI),
            Complete, isDistinct = false, filter = None,
            resultId = ae.resultId)
        case AggregateExpression(avg: Average, Complete, false, None, _)
            if avg.child.dataType.isInstanceOf[DecimalType] &&
              avg.child.dataType.asInstanceOf[DecimalType].precision <= 18 &&
              avg.child.deterministic && avg.evalMode != EvalMode.TRY &&
              avg.aggBufferAttributes.size == 2 &&
              avg.aggBufferAttributes.head.dataType.isInstanceOf[DecimalType] =>
          changed = true
          avgRewrite(avg, unscaledAttr(avg.child))
      }.asInstanceOf[NamedExpression]
    }
    if (!changed) agg
    else agg.copy(
      aggregateExpressions = newExprs,
      child = Project(
        agg.child.output ++ projected.map(_._2), agg.child))
  }

  /** Average's own evaluate tree with its buffer attributes swapped
    * for int128-backed aggregates — see the header's AVG entry for
    * why each contract (empty group, overflow, exactness) holds. */
  private def avgRewrite(
      avg: Average,
      unscaled: org.apache.spark.sql.catalyst.expressions.Attribute)
      : Expression = {
    val Seq(sumAttr, cntAttr) = avg.aggBufferAttributes
    val sumType = sumAttr.dataType.asInstanceOf[DecimalType]
    // ansi = false: overflow surfaces as NULL here so the PRESERVED
    // CheckOverflowInSum below raises Average's own LEGACY-null /
    // ANSI-throw contract (and can tell overflow from an empty group,
    // which the count guard maps to the buffer's initial 0)
    val sum128 = AggregateExpression(
      graft.functions.SumUnscaled128(unscaled, sumType, ansi = false),
      Complete, isDistinct = false)
    val cnt = AggregateExpression(
      Count(Seq(avg.child)), Complete, isDistinct = false)
    val zero = Literal.default(sumType)
    val sumSub = If(EqualTo(cnt, Literal(0L)), zero, sum128)
    avg.evaluateExpression.transformUp {
      case a: AttributeReference if a.exprId == sumAttr.exprId => sumSub
      case a: AttributeReference if a.exprId == cntAttr.exprId => cnt
    }
  }
}
