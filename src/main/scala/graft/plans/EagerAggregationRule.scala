package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EqualTo,
  EvalMode, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{
  ByteType, DecimalType, DoubleType, IntegerType, LongType, ShortType}

/** EAGER AGGREGATION (Yan & Larson, VLDB '95): push a grouped partial
  * aggregate BELOW a join when every aggregate reads only the join's
  * fact side — the single biggest structural win for the
  * fact-joins-dims shape at 100 TB.
  *
  * `SELECT dims, SUM(f(fact_cols)) FROM fact JOIN ... GROUP BY dims`
  * makes Spark carry every fact row through the join tree and every
  * shuffle above it. When the fact is joined by one equi-key k, the
  * sum distributes: Σ over joined rows of f = Σ_k M(k)·S(k) where
  * S(k) is the fact-local sum per key and M(k) the number of matching
  * rows on the other side. Pre-aggregating the fact by k and summing
  * the partials above the join computes exactly that — the join's
  * left input shrinks from |fact| rows to |distinct k| BEFORE any
  * shuffle above it (q12 at sf100: 600M lineitems → 150M order
  * groups, and the pre-aggregate itself runs with NO exchange on a
  * bucketed layout).
  *
  * SOUNDNESS (why each rewrite is exact):
  *   - SUM(e): every fact row with key k contributes e exactly M(k)
  *     times in the original; the partial row (k, S(k)) joins M(k)
  *     times and the outer SUM adds S(k) each time. NULL e values
  *     vanish inside S(k) the same way; an all-NULL group's partial
  *     is NULL, which the outer SUM skips — both identical to
  *     skipping those rows directly.
  *   - MIN/MAX: multiplicity-insensitive; min of per-key mins over
  *     the same matched key set.
  *   - COUNT(*) / COUNT(cols): the partial COUNT per key times M(k),
  *     i.e. SUM(cnt) above the join; COALESCE(...,0) restores
  *     COUNT's no-rows = 0 (a global SUM over an empty join is NULL).
  *   - AVG(e) over an INTEGRAL e (round 15): decomposes into the
  *     pushed SUM(e)/COUNT(e) partials — Σ and N distribute exactly
  *     as above, and the outer Divide(cast(ΣΣ, double), cast(ΣN,
  *     double)) reproduces Average's integral evaluate (a double sum
  *     of integral values divided by the non-null count). The SUM
  *     partial accumulates in DECIMAL(38,0) in BOTH eval modes
  *     (round 16: a LEGACY long partial wraps mod 2^64 past 2^63
  *     where the original's double accumulation does not). Equal to
  *     the unrewritten plan whenever the true Σ is
  *     double-representable (|Σe| < 2^53 — where the original's
  *     double row-accumulation is itself order-independent and
  *     exact), the closer-to-mathematical answer beyond — the
  *     [[AggViewRewriteRule]] integral-AVG argument verbatim. The
  *     LEGACY Divide restores AVG's empty-group NULL (count 0 ⇒
  *     NULL, never an ANSI error the original would not raise).
  *     Decimal/float AVG refuses (precision-promotion semantics /
  *     order-dependent addition); TRY refuses for symmetry.
  *   - NULL join keys: the fact's NULL-k rows form a pre-agg group
  *     that never equi-matches — exactly the rows the original join
  *     dropped.
  *   - rows the fact side loses or gains do not exist: the rewrite
  *     replaces the fact SUBTREE (its own Filters stay below the
  *     pre-aggregate), and the refusal gates guarantee nothing above
  *     reads fact columns except through the pushed aggregates.
  *
  * REFUSAL GATES (conservative; any miss leaves the plan untouched):
  *   - every aggregate in the top Aggregate is SUM/MIN/MAX/COUNT or
  *     integral AVG, Complete, non-DISTINCT, un-FILTERed,
  *     deterministic, and reads only fact columns (or nothing:
  *     COUNT(*));
  *   - grouping expressions read no fact columns;
  *   - the fact side is [attr-only Project / Filter]* over a scan
  *     whose relation carries a SINGLE-column bucket spec (the
  *     [[BucketLayoutRule]] claim or a catalog bucketed table) and
  *     the join's ONLY fact-referencing conjunct is an EqualTo on
  *     exactly that bucket column — so the inserted pre-aggregate is
  *     guaranteed exchange-free, bounding the cost of a push that
  *     doesn't pay off;
  *   - the parent join is INNER;
  *   - after the rewrite, a whole-plan missing-input audit must come
  *     back clean and the output schema must be byte-identical —
  *     any node above that still wanted a dropped fact column
  *     (a Filter on fact attrs above the join, a non-attr Project)
  *     refuses the rewrite wholesale;
  *   - COST (round 16, not correctness): when the fact root's zone
  *     sidecar bounds the bucket key, the estimated group reduction
  *     must clear `spark.graft.eagerAgg.minGroupReduction` — see
  *     [[pushWorthIt]]. Stats-less roots push unconditionally (the
  *     pre-round-16 behavior).
  *
  * Honest corner (round 15 — HARDENED, because ANSI is Spark 4's
  * DEFAULT): the pre-aggregate also sums fact rows whose key never
  * matches, and under ANSI a LONG partial over those rows THREW
  * where the original never aggregates them (two Long.MaxValue rows
  * on a dead key — spec-pinned, this actually fired). Integral SUM
  * partials therefore accumulate in DECIMAL(38,0) under ANSI: the
  * partial cannot realistically overflow (10^38 needs ~10^19
  * max-long rows on ONE key — the decimal revenue path's own
  * 10^24-class bound), and the final cast back to the original long
  * type throws exactly when the TRUE total is out of range. A
  * completed ANSI sum is the true total, so non-throwing plans agree
  * (Spark's own partial-aggregation order makes "which prefix
  * overflows" nondeterministic anyway — the [[AggViewRewriteRule]]
  * SumV acceptance argument). LEGACY keeps the long partials: wrap
  * is mod-2^64 associative, so dead-key wraps never surface. TRY
  * refuses (it nulls at engine-chosen prefixes). The decimal path's
  * partial accumulates in DECIMAL(28,4) — overflow needs |S(k)| ≥
  * 10^24 — unchanged.
  *
  * Runs in the operator-optimization fixpoint (injected rule):
  * ColumnPruning re-derives minimal Projects around the rewritten
  * shape, so intermediate pruning Projects are simply dropped here
  * and re-grown by the optimizer.
  */
case class EagerAggregationRule(spark: SparkSession) extends GraftRule {

  override protected def switch: Option[String] = Some("spark.graft.eagerAgg.enabled")

  protected def rewrite: PartialFunction[LogicalPlan, Option[LogicalPlan]] = {
    case agg: Aggregate => EagerAggregationRule.tryRewrite(spark, agg)
  }
}

object EagerAggregationRule {

  /** A fact-side site: the join, which side, the side's whole subtree
    * (Projects/Filters + scan), the scan's bucket column name, and the
    * scan's root path (for the cost gate's sidecar stats probe). */
  private final case class Site(join: Join, leftSide: Boolean,
      subtree: LogicalPlan, bucketCol: String, rootPath: Option[String])

  private def attrOnly(p: Project): Boolean =
    p.projectList.forall(_.isInstanceOf[AttributeReference])

  /** The side's (bucket column, scan root path), when the side is
    * [attr-only Project / Filter]* over a single-bucket-column scan. */
  private def bucketScanOf(p: LogicalPlan): Option[(String, Option[String])] =
    p match {
      case pr: Project if attrOnly(pr) => bucketScanOf(pr.child)
      case f: Filter                   => bucketScanOf(f.child)
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.bucketSpec.collect {
          case s if s.bucketColumnNames.size == 1 =>
            (s.bucketColumnNames.head,
              h.location.rootPaths.headOption.map(_.toString))
        }
      case _ => None
    }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def dbg(msg: => String): Unit =
    if (sys.props.contains("graft.eager.debug")) println(s"[eager] $msg")

  private def integralType(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }

  private[graft] def tryRewrite(spark: SparkSession,
      agg: Aggregate): Option[Aggregate] = {
    // 1. every aggregate function in the output must be pushable
    val aggFns = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggFns.isEmpty) { dbg("no agg fns"); return None }
    val pushable = aggFns.forall { ae =>
      ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty &&
        ae.aggregateFunction.deterministic &&
        (ae.aggregateFunction match {
          // TRY sums/avgs null at engine-chosen prefixes — the pushed
          // partial would null on rows the original never aggregates
          case s: Sum => s.evalContext.evalMode != EvalMode.TRY
          // the int128 decimal sum distributes exactly like SUM
          // (DecimalSumRule may have rewritten before a fixpoint
          // revisit reaches this aggregate)
          case _: graft.functions.SumUnscaled128 => true
          case _: Min | _: Max | _: Count => true
          case a: Average =>
            // integral AVG only — see the header's soundness entry
            a.dataType == DoubleType && integralType(a.child.dataType) &&
              a.evalMode != EvalMode.TRY
          case _ => false
        })
    }
    if (!pushable) { dbg(s"not pushable: $aggFns"); return None }
    // grouping must be deterministic: the rewrite changes the top
    // Aggregate's INPUT row set (|fact| joined rows → |distinct k|
    // pre-aggregated rows joined), so a non-deterministic group key
    // (rand(), monotonically_increasing_id()) would evaluate over
    // different rows and group differently — a multiplicity change the
    // missing-input and schema audits cannot see (round 15, mirroring
    // the aggregate-function determinism gate)
    if (!agg.groupingExpressions.forall(_.deterministic)) {
      dbg("non-deterministic grouping"); return None
    }

    // 2. candidate fact sites — reached ONLY through Project / Filter /
    // INNER-Join chains. Everything else STOPS the walk: a Limit,
    // Sample, Window, Deduplicate or outer join between the Aggregate
    // and the site join changes per-row multiplicity in ways the
    // pushed partial cannot see (e.g. `... JOIN ... LIMIT 100` sums
    // 100 joined ROWS, while a pushed partial would sum whole per-key
    // sums over up to 100 collapsed rows), and the missing-input /
    // schema audits cannot catch it because those nodes pass
    // attributes through unchanged. Projects and Filters are 1:1 /
    // row-removing on columns the audits DO police; inner joins
    // multiply by match count, which is exactly the M(k) the algebra
    // accounts for. Round 15: every expression ON the walk (Project
    // lists, Filter conditions, intermediate join conditions) must be
    // DETERMINISTIC — a rand() filter above the site evaluates over
    // |distinct k| pre-aggregated rows instead of |fact| joined rows
    // after the rewrite, the same invisible-multiplicity class as the
    // barrier nodes, so a non-deterministic node STOPS the walk too.
    def collectSites(p: LogicalPlan): Seq[Site] = p match {
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        collectSites(pr.child)
      case f: Filter if f.condition.deterministic => collectSites(f.child)
      case j: Join if j.joinType == Inner &&
          j.condition.forall(_.deterministic) =>
        val here =
          if (j.condition.isDefined)
            Seq(
              bucketScanOf(j.left).map { case (k, r) =>
                Site(j, leftSide = true, j.left, k, r) },
              bucketScanOf(j.right).map { case (k, r) =>
                Site(j, leftSide = false, j.right, k, r) })
              .flatten
          else Nil
        here ++ collectSites(j.left) ++ collectSites(j.right)
      case _ => Nil
    }
    val sites = collectSites(agg.child)

    dbg(s"sites: ${sites.size}")
    sites.view.flatMap(site => tryPushTo(spark, agg, site)).headOption
  }

  /** GROUP-CARDINALITY COST GATE (round 16): the push is near
    * break-even when the pre-aggregate barely shrinks the fact —
    * q12's 600M-row / 150M-group fact spends ~10 s building a
    * 150M-entry hash for a 4× reduction (BENCH_Q12_r15
    * component_profile). When the fact root's `_graft_index` sidecar
    * carries trusted integral bounds for the bucket key, the gate
    * computes a LOWER BOUND on the reduction — rows / (max − min + 1),
    * since distinct keys ≤ the key range — and refuses the push below
    * `spark.graft.eagerAgg.minGroupReduction` (default 8; 0 disables
    * the gate). The bound is conservative in the right direction: a
    * sparse key (TPC-H orderkey uses 1 in 4 values) under-reports the
    * true reduction, so a refusal only ever skips a near-break-even
    * push, while dense dimension-like keys (suppkey: every value used)
    * report exactly and clear the bar at real 100×-class reductions.
    * No sidecar / no trusted bounds / non-integral key → true (the
    * pre-round-16 unconditional push — fixtures and catalog bucketed
    * tables are untouched). Wrong answer costs extra work, never
    * wrong rows: both shapes are exact. */
  private def pushWorthIt(spark: SparkSession, site: Site,
      k: AttributeReference): Boolean = {
    if (!integralType(k.dataType) || site.rootPath.isEmpty) return true
    val minReduction =
      GraftRule.conf(spark, "spark.graft.eagerAgg.minGroupReduction", 8.0)
    if (minReduction <= 0) return true
    try {
      ZoneAggRule.keyRangeStats(spark, site.rootPath.get, k.name) match {
        case Some((rows, mn, mx)) if rows > 0 =>
          val ndvUB = (BigInt(mx) - BigInt(mn) + 1).min(BigInt(rows))
            .max(BigInt(1)).toDouble
          val reductionLB = rows.toDouble / ndvUB
          dbg(f"gate: rows=$rows range=[$mn,$mx] reductionLB=$reductionLB%.2f min=$minReduction")
          reductionLB >= minReduction
        case _ => true
      }
    } catch {
      // a failing stats probe assumes the push pays: both shapes are exact
      case scala.util.control.NonFatal(_) => true
    }
  }

  private def tryPushTo(spark: SparkSession, agg: Aggregate,
      site: Site): Option[Aggregate] = {
    val s = site.subtree
    val sOut = s.outputSet
    // every aggregate reads only fact columns (or nothing: COUNT(*));
    // at least one genuinely reads the fact, so the push has a target
    val aggFns = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (!aggFns.forall(ae => ae.references.subsetOf(sOut))) { dbg("agg refs outside S"); return None }
    if (!aggFns.exists(_.references.nonEmpty)) { dbg("no agg reads S"); return None }
    // grouping reads nothing from the fact
    if (agg.groupingExpressions.exists(_.references.exists(sOut.contains))) {
      dbg("grouping reads S"); return None
    }
    // aggregate OUTPUT expressions may wrap the functions in arbitrary
    // scalar expressions, but nothing outside the functions may read
    // fact columns (e.g. sum(x) + y with y from the fact)
    val outsideRefs = AttributeSet(agg.aggregateExpressions.flatMap { ne =>
      var inside = Set.empty[Expression]
      ne.foreach { case ae: AggregateExpression => inside += ae; case _ => () }
      ne.references.toSeq.filterNot(a =>
        inside.exists(_.references.contains(a)))
    })
    if (outsideRefs.exists(sOut.contains)) { dbg("outside refs read S"); return None }

    // the join's single fact-referencing conjunct: EqualTo on the
    // bucket column
    val conjuncts = splitAnd(site.join.condition.get)
    val factConjuncts = conjuncts.filter(_.references.exists(sOut.contains))
    val kAttr = factConjuncts match {
      case Seq(EqualTo(a: AttributeReference, b: AttributeReference)) =>
        if (sOut.contains(a) && !sOut.contains(b) && a.name == site.bucketCol)
          Some(a)
        else if (sOut.contains(b) && !sOut.contains(a) && b.name == site.bucketCol)
          Some(b)
        else None
      case _ => None
    }
    if (kAttr.isEmpty) { dbg(s"no kAttr: $factConjuncts"); return None }
    val k = kAttr.get
    if (!pushWorthIt(spark, site, k)) { dbg("cost gate: reduction too small"); return None }

    // 3. build the pre-aggregate: one partial per DISTINCT function
    val distinctFns = scala.collection.mutable.ArrayBuffer
      .empty[(AggregateExpression, Alias)]
    def partialFor(ae: AggregateExpression): Alias =
      distinctFns.find(_._1.semanticEquals(ae)) match {
        case Some((_, al)) => al
        case None =>
          val al = Alias(ae, s"_ea_p${distinctFns.size}")()
          distinctFns += ((ae, al))
          al
      }
    // ANSI-mode integral sums push a DECIMAL(38,0) partial — a LONG
    // partial over never-matching keys could throw where the original
    // never aggregates those rows (see the header's honest-corner
    // entry); the final cast restores the original result type and
    // throws exactly when the TRUE total is out of range
    def ansiIntegral(s: Sum): Boolean =
      integralType(s.child.dataType) &&
        s.evalContext.evalMode == EvalMode.ANSI
    def decimalSumPartial(s: Sum): Alias =
      partialFor(AggregateExpression(
        Sum(Cast(s.child, DecimalType(38, 0))), Complete, isDistinct = false))
    // outer combiner per original function
    def outerOf(ae: AggregateExpression): Expression = {
      ae.aggregateFunction match {
        case sum: Sum if ansiIntegral(sum) =>
          val part = decimalSumPartial(sum).toAttribute
          Cast(AggregateExpression(Sum(part), Complete, isDistinct = false),
            ae.dataType)
        case _ => outerOfPlain(ae)
      }
    }
    def outerOfPlain(ae: AggregateExpression): Expression = {
      val part = partialFor(ae).toAttribute
      ae.aggregateFunction match {
        case sum: Sum =>
          val outer = AggregateExpression(sum.copy(child = part), Complete,
            isDistinct = false)
          if (outer.dataType == ae.dataType) outer
          else Cast(outer, ae.dataType)
        case _: graft.functions.SumUnscaled128 =>
          // the partial's output is the DECIMAL result type; the outer
          // combine is an ordinary decimal SUM over the per-key
          // partials (Σ = Σ_k M(k)·S(k) — the SUM algebra verbatim)
          val outer = AggregateExpression(Sum(part), Complete,
            isDistinct = false)
          if (outer.dataType == ae.dataType) outer
          else Cast(outer, ae.dataType)
        case mn: Min =>
          AggregateExpression(mn.copy(child = part), Complete, isDistinct = false)
        case mx: Max =>
          AggregateExpression(mx.copy(child = part), Complete, isDistinct = false)
        case _: Count =>
          // partial COUNT is non-null long; Σ over the join multiplies
          // in M(k); COALESCE restores COUNT's empty-input zero
          Coalesce(Seq(
            AggregateExpression(Sum(part), Complete, isDistinct = false),
            Literal(0L, LongType)))
        case _ => ae // unreachable: gated above
      }
    }
    // AVG decomposes into TWO partials (SUM + COUNT of the same
    // child) — partialFor's semantic dedup shares them with any
    // explicit SUM(e)/COUNT(e) in the same query
    def avgOuterOf(avg: Average): Expression = {
      val sumFn = Sum(avg.child)
      // DECIMAL(38,0) partial in BOTH modes (round-16 ADVICE): a plain
      // LONG partial under LEGACY wraps mod 2^64 once a group's true
      // sum passes 2^63, while the un-rewritten Average accumulates in
      // double (no wrap) — the results would diverge wildly there. The
      // decimal partial is exact to 10^38 and the combine below casts
      // to double anyway, so the only cost is the partial's buffer.
      val sumPart = decimalSumPartial(sumFn).toAttribute
      val cntPart = partialFor(AggregateExpression(
        Count(Seq(avg.child)), Complete, isDistinct = false)).toAttribute
      Divide(
        Cast(AggregateExpression(
          Sum(sumPart), Complete, isDistinct = false), DoubleType),
        Cast(AggregateExpression(
          Sum(cntPart), Complete, isDistinct = false), DoubleType),
        EvalMode.LEGACY)
    }
    // transformUp, not transform: the COUNT combiner wraps a fresh
    // AggregateExpression in Coalesce, and a top-down walk would
    // descend into its own replacement and combine the combiner
    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae @ AggregateExpression(avg: Average, _, _, _, _) =>
          avgOuterOf(avg)
        case ae: AggregateExpression => outerOf(ae)
      }.asInstanceOf[NamedExpression]
    }
    val pre = Aggregate(Seq(k), k +: distinctFns.map(_._2).toSeq, s)

    // 4. splice in TWO passes — the identity match must see the
    // untouched subtree, so the pre-aggregate goes in first, then
    // pruning Projects that referenced now-dropped fact columns are
    // removed (including any under the new pre-aggregate: dropping a
    // pruning Project only widens a scan, and ColumnPruning re-grows
    // minimal ones around the rewritten shape in the same fixpoint)
    val dropped = AttributeSet(sOut.toSeq.filterNot(_.exprId == k.exprId))
    val replaced = agg.child.transformUp { case n if n eq s => pre }
    val spliced = replaced.transformUp {
      case pr: Project if attrOnly(pr) &&
          pr.projectList.exists(a =>
            dropped.contains(a.asInstanceOf[AttributeReference])) =>
        pr.child
    }
    val rewritten = agg.copy(child = spliced, aggregateExpressions = newAggExprs)

    // 5. whole-plan audit: nothing above may still want a dropped fact
    // column, and the output contract must be byte-identical
    val missing = rewritten.collectFirst {
      case n if n.missingInput.nonEmpty => n
    }
    if (missing.nonEmpty) { dbg(s"missing input at: ${missing.get.nodeName} ${missing.get.missingInput}"); return None }
    val sameSchema = rewritten.output.size == agg.output.size &&
      rewritten.output.zip(agg.output).forall { case (a, b) =>
        a.exprId == b.exprId && a.name == b.name && a.dataType == b.dataType
      }
    if (!sameSchema) { dbg(s"schema drift: ${rewritten.output} vs ${agg.output}"); return None }
    Some(rewritten)
  }
}
