package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Coalesce, Divide, EqualNullSafe, EvalMode, Expression, If, IsNull, Literal, Multiply, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Percentile, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, IntegerType, LongType, ShortType}

import graft.sources.{AggView, SidecarManifest}

/** Transparent MATERIALIZED-VIEW REWRITING: an `Aggregate` over a
  * registered parquet table whose shape persisted
  * [[graft.sources.AggView]]s can answer is re-planned onto the
  * VIEW(S) — plain `spark.sql`/DataFrame aggregates get the view-scale
  * serve (sf100: q16's shape 14.3 s scan → 0.47 s,
  * BENCH_MATVIEW.json) with no API change, the same deployment story
  * as [[ZoneMapPruneRule]].
  *
  * Recognized shapes, over a bare table (attr-only Projects allowed;
  * a WHERE is PUSHED THROUGH when every column it references lives in
  * (group cols ∪ value col) of each serving view — those are the
  * columns a view row preserves exactly, so filtering base rows ≡
  * filtering view rows and re-weighting by freq; deterministic,
  * subquery-free predicates only, anything else disqualifies):
  * grouping on a SUBSET of the views' group columns (exact match or
  * roll-up), aggregates drawn from
  *
  *   - `COUNT(DISTINCT v)` → `COUNT(v)` over the view when the
  *     grouping matches the view exactly (view rows are unique per
  *     (group, v); COUNT skips the null-value row), or
  *     `COUNT(DISTINCT v)` over the view for roll-ups — still
  *     view-scale;
  *   - `COUNT(*)`/`COUNT(1)` → `SUM(freq)` (nulls kept: the view's
  *     null-value row carries their count); `COUNT(v)` →
  *     `SUM(IF(v IS NULL, 0, freq))`;
  *   - `MIN(v)` / `MAX(v)` → the same over the view (it holds every
  *     distinct value);
  *   - `PERCENTILE(v, p)` → `PERCENTILE(v, p, freq)` — builds the
  *     identical value→count map a row scan would, bit-for-bit
  *     (mb_matview_pctile's argument);
  *   - `SUM(v)` for INTEGRAL v → `SUM(CAST(v AS BIGINT) * freq)`:
  *     in LEGACY mode bit-exact including silent wraparound, because
  *     two's-complement add/multiply are exact mod 2^64 and
  *     Σ_rows v ≡ Σ_pairs v·freq in that ring; in ANSI mode a
  *     COMPLETED sum is always the true mathematical total (overflow
  *     throws instead of wrapping), so any two non-throwing plans
  *     agree — transient-overflow throw points can differ between
  *     plans, exactly as they already do between Spark's own
  *     partition orders. Refused for TRY mode (`try_sum` NULLs on
  *     overflow — the view plan could null where the base would not)
  *     and for decimal/floating v (decimal precision promotion
  *     differs; float addition is order-dependent).
  *
  * Aggregates may mix SEVERAL value columns (q16's literal two-distinct
  * SQL): each value column resolves to its own fresh view, each view
  * serves a per-column partial aggregate, and the partials join on the
  * group keys with NULL-SAFE equality (a null group is a real group) —
  * view-scale joins, trivially broadcast. Value-less shapes (grouped
  * `COUNT(*)` alone, `SELECT DISTINCT g`) serve from ANY fresh view of
  * the table: every base row lands in exactly one view row, so
  * SUM(freq) is the row count and the view's group set IS the base's.
  *
  * Soundness gate: serving a STALE view would be wrong answers (not
  * merely lost pruning), so the rewrite requires each view's covered
  * file set to EQUAL the relation's current file listing exactly —
  * the [[graft.engine.GraftEngine]] sidecar-reuse guard, applied per
  * query (the view meta is one tiny file, stat-checked and re-read
  * only on mtime change). Anything unrecognized or doubtful leaves
  * the plan untouched.
  *
  * Discovery: explicit [[AggViewRewriteRule.registerView]], or a view
  * marker next to the data ([[graft.sources.AggView.writeMarker]]),
  * read once per (root, session) through the manifest — fresh
  * sessions rewrite with no register call.
  */
case class AggViewRewriteRule(spark: SparkSession) extends GraftRule {

  protected def rewrite: PartialFunction[LogicalPlan, Option[LogicalPlan]] = {
    case agg: Aggregate => AggViewRewriteRule.tryRewrite(spark, agg)
  }
}

object AggViewRewriteRule {

  // norm root -> registered view paths (explicit registrations)
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** Fully qualify then strip to the path part — shared with
    * [[ZoneMapPruneRule]] so the two rules' registration keys can
    * never diverge. */
  private def norm(p: String): String = ZoneMapPruneRule.norm(p)

  /** Opt `tablePath` into transparent rewriting onto the view at
    * `viewPath`. One table may carry several views (one per value
    * column); the rule picks by shape. */
  def registerView(tablePath: String, viewPath: String): Unit =
    registry.merge(norm(tablePath), Set(viewPath), _ ++ _)

  def unregisterViews(tablePath: String): Unit =
    registry.remove(norm(tablePath))

  /** Registered views, then the root's view marker, read once per
    * (root, session) through the manifest. */
  private def viewsFor(rootPath: String, session: SparkSession): Seq[String] =
    (registry.getOrDefault(ZoneMapPruneRule.normFile(rootPath), Set.empty[String]).toSeq ++
      AggView.markerViews(session, rootPath).getOrElse(Nil)).distinct

  // viewPath -> (meta file mtime, parsed meta): stat-checked per use,
  // re-read only when the meta file changed (a refresh rewrote it)
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, AggView.ViewMeta)]()

  private def metaFor(viewPath: String): Option[AggView.ViewMeta] =
    try {
      val p = new Path(viewPath, "_graft_view")
      val mtime = p.getFileSystem(SidecarManifest.sharedConf)
        .getFileStatus(p).getModificationTime
      val hit = metaCache.get(viewPath)
      if (hit != null && hit._1 == mtime) Some(hit._2)
      else {
        val meta = AggView.readMeta(viewPath)
        metaCache.put(viewPath, (mtime, meta))
        Some(meta)
      }
    } catch {
      // this view is skipped; another view of the table may still serve
      case scala.util.control.NonFatal(_) => None
    }

  /** One output column's rewrite recipe. */
  private sealed trait Shape
  private case class PassGroup(attr: AttributeReference) extends Shape
  private case class CountDistinctV(v: String) extends Shape
  private case object CountStar extends Shape
  private case class CountV(v: String) extends Shape
  private case class MinV(v: String) extends Shape
  private case class MaxV(v: String) extends Shape
  private case class PctileV(v: String, pct: Expression) extends Shape
  private case class SumV(v: String) extends Shape
  private case class AvgV(v: String) extends Shape

  private def valueOf(s: Shape): Option[String] = s match {
    case CountDistinctV(v) => Some(v)
    case CountV(v)         => Some(v)
    case MinV(v)           => Some(v)
    case MaxV(v)           => Some(v)
    case PctileV(v, _)     => Some(v)
    case SumV(v)           => Some(v)
    case AvgV(v)           => Some(v)
    case _                 => None
  }

  private def isIntegral(a: AttributeReference): Boolean = a.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  private def classify(e: Expression, groupIds: Set[Long]): Option[Shape] = e match {
    case a: AttributeReference if groupIds.contains(a.exprId.id) =>
      Some(PassGroup(a))
    case AggregateExpression(fn, Complete, isDistinct, None, _) =>
      fn match {
        case Count(Seq(v: AttributeReference)) if isDistinct =>
          Some(CountDistinctV(v.name))
        // COUNT(NULL) counts nothing, not rows — NullPropagation folds
        // it to 0 upstream, but that rule is user-excludable, so guard
        case Count(Seq(l: Literal)) if !isDistinct && l.value != null =>
          Some(CountStar)
        case Count(Seq(v: AttributeReference)) if !isDistinct =>
          Some(CountV(v.name))
        case Min(v: AttributeReference) if !isDistinct => Some(MinV(v.name))
        case Max(v: AttributeReference) if !isDistinct => Some(MaxV(v.name))
        case s @ Sum(v: AttributeReference, ctx)
            if !isDistinct && isIntegral(v) && s.dataType == LongType &&
              (ctx.evalMode == EvalMode.LEGACY ||
                ctx.evalMode == EvalMode.ANSI) =>
          // LEGACY: mod-2^64 exact. ANSI: a completed sum is the true
          // total, so non-throwing plans agree. TRY nulls on overflow
          // at engine-chosen prefixes — refuse it.
          Some(SumV(v.name))
        case a @ Average(v: AttributeReference, evalMode)
            if !isDistinct && isIntegral(v) && a.dataType == DoubleType &&
              evalMode != EvalMode.TRY =>
          // AVG over an integral column: Spark's plan sums the values
          // in DOUBLE over rows and divides by the non-null count; the
          // view plan sums v·freq EXACTLY in Long and divides — equal
          // whenever the true total is double-representable (|Σv| <
          // 2^53, where double row-sums are order-independent and
          // exact too), and the closer-to-mathematical answer beyond.
          // Decimal/float AVG refuses like SUM (precision promotion /
          // order-dependent addition); TRY refuses for symmetry.
          Some(AvgV(v.name))
        case p: Percentile
            if !isDistinct && !p.reverse &&
              p.child.isInstanceOf[AttributeReference] &&
              p.percentageExpression.foldable &&
              p.frequencyExpression == Literal(1L) =>
          Some(PctileV(p.child.asInstanceOf[AttributeReference].name,
            p.percentageExpression))
        case _ => None
      }
    case _ => None
  }

  private[graft] def tryRewrite(
      spark: SparkSession, agg: Aggregate): Option[LogicalPlan] =
    for {
      // every Filter on the way down is COLLECTED: a filter COMMUTES
      // with the view when its references are covered by (group cols ∪
      // value col) — every base row maps to a view row with the
      // identical (group, value) tuple, so filtering base rows ≡
      // filtering view rows and re-weighting by freq
      GraftRule.Scan(conds, hfs, root) <- GraftRule.scanOf(agg.child)
      // the predicate must be a pure row-function of its columns:
      // non-determinism or a subquery would evaluate differently (or
      // at different multiplicity) over the collapsed view rows
      if conds.forall(c => c.deterministic &&
        !c.exists(_.isInstanceOf[PlanExpression[_]]))
      views = viewsFor(root, spark)
      if views.nonEmpty
      groupAttrs <- Some(agg.groupingExpressions).collect {
        case gs if gs.forall(_.isInstanceOf[AttributeReference]) =>
          gs.map(_.asInstanceOf[AttributeReference])
      }
      if groupAttrs.map(_.name).distinct.size == groupAttrs.size
      groupIds = groupAttrs.map(_.exprId.id).toSet
      shapes <- GraftRule.traverse(agg.aggregateExpressions.map {
        case a: AttributeReference => classify(a, groupIds)
        case al: Alias             => classify(al.child, groupIds)
        case _                     => None
      })
      plan <- rewriteOnto(spark, views, agg, hfs, groupAttrs, shapes, conds)
    } yield plan

  /** A fresh, type-agreeing view for this relation, or None. The
    * FILE-SET EQUALITY is the soundness gate: a stale view is wrong
    * answers, not lost pruning. Round 11: when the meta carries
    * per-file (mtime, size) — every view built since — each covered
    * file must also MATCH the live status, so a base file rewritten in
    * place under the same name (compaction, backfill) fails the gate
    * instead of serving stale aggregates (the sidecar serve gates'
    * discipline applied here). */
  private def freshMeta(viewPath: String, hfs: HadoopFsRelation,
      currentFiles: Set[String],
      liveStats: Map[String, (Long, Long)]): Option[AggView.ViewMeta] =
    metaFor(viewPath).filter { meta =>
      meta.files.map(ZoneMapPruneRule.normFile) == currentFiles &&
        meta.stats.forall { case (f, ms) => liveStats.get(f).contains(ms) }
    }

  /** One view's partial: the analyzed view relation plus resolvers for
    * its attributes. */
  private case class ViewSide(plan: LogicalPlan, meta: AggView.ViewMeta) {
    def attr(name: String): Option[AttributeReference] =
      plan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }
  }

  // (viewPath, gen, session-uuid) -> analyzed view relation. A
  // generation directory is immutable (refresh publishes a NEW gen via
  // the atomic pointer flip), so the listing+schema never go stale
  // under a live key; without this every rewritten query would re-list
  // and re-read parquet footers at PLAN time. Sharing one relation
  // across queries is the same as reusing a DataFrame — legal, and a
  // single query never uses the same view twice (sides are keyed by
  // distinct value columns).
  private val viewPlanCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int, String), LogicalPlan](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, String), LogicalPlan]): Boolean =
        size > 64
    })

  private def loadView(spark: SparkSession, viewPath: String,
      meta: AggView.ViewMeta): ViewSide = {
    val key = (viewPath, meta.gen, SidecarManifest.sessionKey(spark))
    var p = viewPlanCache.get(key)
    if (p == null) {
      p = GraftRule.internally(spark.read.parquet(
        new Path(viewPath, s"g${meta.gen}").toString).queryExecution.analyzed)
      viewPlanCache.put(key, p)
    }
    ViewSide(p, meta)
  }

  private def rewriteOnto(spark: SparkSession, views: Seq[String],
      agg: Aggregate, hfs: HadoopFsRelation,
      groupAttrs: Seq[AttributeReference],
      shapes: Seq[Shape], conds: Seq[Expression]): Option[LogicalPlan] = {
    val groupNames = groupAttrs.map(_.name)
    // `freq` and the partials' source key are the view's reserved
    // aliases; a base table using either name is refused outright —
    // AggView.build refuses to create such views, and this guard keeps
    // a hand-crafted view directory from resolving the wrong attribute
    if (hfs.dataSchema.fieldNames.exists(n =>
        n == "freq" || n == AggView.SrcCol)) return None
    // one listing for both gates: the covered-set equality AND the
    // per-file (mtime, size) freshness check
    val liveStats: Map[String, (Long, Long)] =
      hfs.location.listFiles(Nil, Nil).flatMap(_.files.map(f =>
        ZoneMapPruneRule.normFile(f.getPath.toString) ->
          (f.getModificationTime, f.getLen))).toMap
    val currentFiles = liveStats.keySet
    val filterRefs = conds.flatMap(_.references.toSeq.map(_.name)).distinct

    /** Can `meta`'s view evaluate the pushed filter AND the query's
      * grouping? Filter refs must live in (group cols ∪ value col) —
      * the columns a view row preserves exactly. */
    def covers(meta: AggView.ViewMeta): Boolean =
      groupNames.toSet.subsetOf(meta.groupCols.toSet) &&
        filterRefs.toSet.subsetOf(meta.groupCols.toSet + meta.valueCol)

    // every distinct value column resolves to its own fresh view that
    // also covers the grouping and the pushed filter
    val valueCols = shapes.flatMap(valueOf).distinct
    val byValue: Map[String, (String, AggView.ViewMeta)] =
      valueCols.flatMap { c =>
        views.iterator.flatMap { vp =>
          freshMeta(vp, hfs, currentFiles, liveStats)
            .filter(m => m.valueCol == c && covers(m))
            .map(m => c -> (vp, m))
        }.take(1)
      }.toMap
    if (byValue.size != valueCols.size) return None
    // value-less shapes (grouped COUNT(*), SELECT DISTINCT g) serve
    // from ANY fresh covering view of the table
    val anchor: (String, AggView.ViewMeta) =
      if (valueCols.nonEmpty) byValue(valueCols.head)
      else views.iterator
        .flatMap(vp => freshMeta(vp, hfs, currentFiles, liveStats)
          .filter(covers).map(vp -> _))
        .take(1).toSeq.headOption.getOrElse(return None)

    // plan order: the anchor first (serves value-less shapes and the
    // anchor column's shapes), then one partial per remaining value col
    val orderedCols: Seq[Option[String]] =
      if (valueCols.isEmpty) Seq(None) else valueCols.map(Some(_))

    // shape index -> serving partial (position in `orderedCols`)
    def partialOf(s: Shape): Int = valueOf(s) match {
      case Some(c) => orderedCols.indexOf(Some(c))
      case None    => 0
    }

    val sides = orderedCols.map {
      case Some(c) => val (vp, m) = byValue(c); loadView(spark, vp, m)
      case None    => val (vp, m) = anchor; loadView(spark, vp, m)
    }

    // type agreement on every served column, per side
    for (side <- sides) {
      val vGroups = groupNames.map(n => side.attr(n).getOrElse(return None))
      if (vGroups.exists(g =>
          groupAttrs.find(_.name == g.name).exists(_.dataType != g.dataType)))
        return None
    }
    for ((c, (_, m)) <- byValue) {
      val side = sides(orderedCols.indexOf(Some(c)))
      val vVal = side.attr(m.valueCol).getOrElse(return None)
      if (!hfs.dataSchema.fields.find(_.name == c)
          .map(_.dataType).contains(vVal.dataType)) return None
    }
    // pushed-filter columns must agree in type between base and every
    // side (a differently-typed predicate would evaluate differently)
    for (side <- sides; n <- filterRefs) {
      val vAttr = side.attr(n).getOrElse(return None)
      if (!hfs.dataSchema.fields.find(_.name == n)
          .map(_.dataType).contains(vAttr.dataType)) return None
    }

    // one partial Aggregate per side: group cols + its shapes under
    // stable temp names c<i>
    def rewriteShape(side: ViewSide, s: Shape): Option[Expression] = {
      val exactGroups = groupNames.toSet == side.meta.groupCols.toSet
      for {
        freq <- side.attr("freq")
        vVal <- side.attr(side.meta.valueCol)
        guardedFreq = If(IsNull(vVal), Literal(0L), freq)
        e <- s match {
          case PassGroup(_) => None // handled by grouping, not here
          case CountDistinctV(_) =>
            Some(
              if (exactGroups) Count(Seq(vVal)).toAggregateExpression()
              else Count(Seq(vVal)).toAggregateExpression(isDistinct = true))
          case CountStar =>
            Some(Coalesce(Seq(
              Sum(freq).toAggregateExpression(), Literal(0L, LongType))))
          case CountV(_) =>
            Some(Coalesce(Seq(
              Sum(guardedFreq).toAggregateExpression(), Literal(0L, LongType))))
          case MinV(_) => Some(Min(vVal).toAggregateExpression())
          case MaxV(_) => Some(Max(vVal).toAggregateExpression())
          case SumV(_) =>
            Some(Sum(Multiply(Cast(vVal, LongType), freq))
              .toAggregateExpression())
          case AvgV(_) =>
            // Σ v·freq / Σ freq over non-null values. Null values drop
            // from the numerator via null propagation (null·freq =
            // null, Sum skips it) and from the denominator via
            // guardedFreq (0 weight). An all-null group: numerator
            // Sum = null ⇒ null, matching Spark's AVG — the LEGACY
            // divide also nulls (not throws) on the 0 denominator that
            // only occurs in exactly that case, so ANSI sessions keep
            // ANSI behavior everywhere a non-null answer exists.
            // The numerator sums in DECIMAL, not LongType: vanilla AVG
            // never wraps (it sums doubles), so a long Σ v·freq
            // silently sign-flipping past 2^63 (or throwing under
            // ANSI) would diverge from it. decimal(20,0)×decimal(20,0)
            // products are exact in decimal(38,0) for ANY long pair
            // (max 2^126 < 10^38), the decimal Sum stays exact to 38
            // digits, and the final cast-to-double rounds the exact
            // sum once — bit-identical to the old long path wherever
            // that didn't overflow.
            Some(Divide(
              Cast(Sum(Multiply(
                  Cast(vVal, DecimalType(20, 0)),
                  Cast(freq, DecimalType(20, 0))))
                .toAggregateExpression(), DoubleType),
              Cast(Sum(guardedFreq).toAggregateExpression(), DoubleType),
              EvalMode.LEGACY))
          case PctileV(_, pct) =>
            Some(new Percentile(vVal, pct, guardedFreq)
              .toAggregateExpression())
        }
      } yield e
    }

    // build each side's Aggregate node
    val shapeIdx = shapes.zipWithIndex
    val partials: Seq[(LogicalPlan, Map[Int, Attribute], Seq[Attribute])] =
      sides.zipWithIndex.map { case (side, si) =>
        val vGroups = groupNames.map(n => side.attr(n).get)
        val mine = shapeIdx.filter { case (s, _) =>
          !s.isInstanceOf[PassGroup] && partialOf(s) == si
        }
        val aliases = mine.map { case (s, i) =>
          val e = rewriteShape(side, s).getOrElse(return None)
          i -> Alias(e, s"c$i")()
        }
        // the pushed filter, rebound to this side's attributes by name
        val child =
          if (conds.isEmpty) side.plan
          else Filter(
            conds.reduce(And).transformUp {
              case a: AttributeReference =>
                side.attr(a.name).getOrElse(return None)
            }, side.plan)
        val aggNode = Aggregate(
          vGroups.map(g => g: Expression),
          (vGroups ++ aliases.map(_._2)).map(a => a: NamedExpression),
          child)
        (aggNode: LogicalPlan,
          aliases.map { case (i, a) => i -> a.toAttribute }.toMap,
          vGroups.map(g => g: Attribute))
      }

    // join partials on null-safe group equality (a null group is a
    // real group; plain EqualTo would drop it). No groups → 1×1 rows.
    val joined: LogicalPlan = partials.map(_._1).zipWithIndex.drop(1)
      .foldLeft(partials.head._1) { case (left, (right, pi)) =>
        val cond = groupNames.indices.map { gi =>
          EqualNullSafe(partials.head._3(gi), partials(pi)._3(gi)): Expression
        }.reduceOption(And)
        Join(left, right, Inner, cond, JoinHint.NONE)
      }

    // final Project: original names + exprIds so parents resolve
    val colOf: Map[Int, Attribute] = partials.flatMap(_._2).toMap
    val out = agg.aggregateExpressions.zip(shapes).zipWithIndex.map {
      case ((orig, PassGroup(a)), _) =>
        val g = partials.head._3(groupNames.indexOf(a.name))
        Alias(g, orig.name)(exprId = orig.exprId)
      case ((orig, _), i) =>
        Alias(colOf(i), orig.name)(exprId = orig.exprId)
    }
    // output types must be preserved exactly — refuse otherwise
    if (out.zip(agg.aggregateExpressions)
        .exists { case (n, o) => n.dataType != o.dataType }) return None
    Some(Project(out.map(a => a: NamedExpression), joined))
  }
}
