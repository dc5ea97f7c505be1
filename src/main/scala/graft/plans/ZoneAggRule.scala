package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}
import graft.sources.SidecarManifest

/** Transparent ZONE-STATS serving for plain-SQL global
  * `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)` — filtered or
  * not — over a bare parquet table whose `_graft_index` sidecar is
  * provably CURRENT. The 100 TB shape this targets is the most common
  * interactive query there is: `SELECT COUNT(*) FROM t WHERE p` over a
  * p-clustered layout. Zone maps DECIDE p for (most) whole files
  * ([[ZoneSnapshot.triState]], decided on the driver — the filtered
  * dictionary serve's machinery): all-match files answer from footer
  * metadata (row counts, null counts, min/max), all-miss files
  * contribute nothing,
  * and the straddling minority unions in as ONE pruned scan with the
  * original filter re-applied — exact by construction. A fully
  * decided query (every file all-match or all-miss, e.g. the
  * unfiltered `COUNT(*)`) runs NO scan at all.
  *
  * Per-aggregate trust, the part that makes metadata answers EXACT
  * rather than estimates:
  *   - `COUNT(*)`: per-block row counts — always exact in footers.
  *   - `COUNT(col)`: rows − nulls; every block of the file needs a
  *     trusted (≥ 0) null count AND the column's blocks must cover
  *     the whole file (a column absent from a block's footer hides
  *     rows).
  *   - `MIN/MAX(col)`: the sidecar's EXACT integral stats view
  *     (BlockStat.minLong/maxLong — the Double view is lossy for
  *     int64 past 2^53): ints of any width, dates (int32 days) and
  *     MICROS timestamps serve; a MILLIS/NANOS timestamp records no
  *     integral stats at build time and its files fall to the scan
  *     side, as do files indexed by a sidecar predating the fields.
  *     Float/double REFUSE outright — their footer stats EXCLUDE NaN
  *     while Spark's MAX orders NaN above everything (a NaN row would
  *     make the metadata answer wrong). A block with absent min/max
  *     is trusted only when its null count PROVES it all-null
  *     (MIN ignores nulls).
  * Files that fail a trust test are not refused — they fall into the
  * scan side with the straddlers, so partial metadata still serves.
  *
  * SOUNDNESS GATE: serving answers from a stale index is wrong
  * results. The rule serves only from the SAVED `_graft_index`
  * sidecar (its [[ZoneSnapshot]] is keyed by the anchor, so a rebuild
  * is picked up by the next query — never a registered frame), and
  * requires
  * the SERVE-grade currency test ([[graft.sources.SidecarManifest
  * .servable]]): the index's file set EQUALS the relation's live
  * listing exactly (append/delete refuses until
  * [[graft.sources.MicroBlockIndex.refresh]] + save) AND no live
  * file's mtime exceeds the anchor — a file rewritten in place
  * after the sidecar save carries dead stats (the anchor ordering is
  * the freshness bound; a backdated-mtime rewrite escapes it, the
  * same bound the zone layer's per-query prune-grade test accepts).
  * A rewrite BEFORE the save is covered by the index itself: round 15
  * records per-file (mtime, size) and [[graft.sources
  * .MicroBlockIndex.refresh]] drops + re-reads changed files, so a
  * refresh that re-stamps the anchor can never re-bless dead stats.
  *
  * Scan-side bound: past `spark.graft.statsServe.maxScanFraction`
  * (default 0.5) of the live files the serve is just a worse scan and
  * refuses. Ordering: after [[AggViewRewriteRule]] (a fresh view also
  * serves grouped shapes) and [[DictDistinctRule]] (disjoint shapes —
  * it fires on DISTINCT aggregates only), before [[ZoneMapPruneRule]]
  * (which may further block-prune the straddler scan this rule
  * emits).
  */
case class ZoneAggRule(spark: SparkSession) extends GraftRule {

  protected def rewrite: PartialFunction[LogicalPlan, Option[LogicalPlan]] = {
    case agg: Aggregate => ZoneAggRule.tryRewrite(spark, agg)
  }
}

object ZoneAggRule {

  private def norm(p: String): String = ZoneMapPruneRule.normFile(p)

  /** The serve's PLAN SIGNATURE, for callers that must PROVE the
    * rewrite fired on a global-aggregate query (the gate row's
    * require, ZoneAggRuleSpec, ZoneAggScale): a fully-decided query
    * optimizes to a literal Project; a partial serve collapses into an
    * Aggregate whose expressions COMBINE a metadata literal with the
    * straddler scan's aggregate (count(1) + <lit>, least(<lit>, min),
    * greatest(<lit>, max)) — a refused plain aggregate has no such
    * combining node. One definition so a future plan-shape change
    * cannot silently desynchronize the detectors. Only meaningful on
    * plans whose ORIGINAL form is a bare global Aggregate. */
  def servedSignature(plan: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Greatest, Least}
    plan match {
      case _: Project => true
      case a: Aggregate =>
        a.aggregateExpressions.exists(_.exists {
          case Add(_: Literal, _, _) | Add(_, _: Literal, _) => true
          case Least(cs) if cs.exists(_.isInstanceOf[Literal]) => true
          case Greatest(cs) if cs.exists(_.isInstanceOf[Literal]) => true
          case _ => false
        })
      case _ => false
    }
  }

  /** A serve must fold SOME metadata: with no served file and files
    * left to scan, the "serve" is the straddler scan alone — the pruned
    * scan the plain plan already runs, in a new relation whose plan
    * carries no serve signature. With nothing to scan either, every
    * file is all-false and the metadata answer needs no scan. */
  private def servesAny(served: Set[String], scanFiles: Set[String]): Boolean =
    served.nonEmpty || scanFiles.isEmpty

  private sealed trait Kind
  private case object CountStar extends Kind
  private final case class CountCol(c: String) extends Kind
  private final case class MinCol(c: String, t: DataType) extends Kind
  private final case class MaxCol(c: String, t: DataType) extends Kind
  // SUM over an integral column (round 14): served from the EXACT
  // per-file sums MicroBlockIndex.withSums stamped into the sidecar
  // (footers carry no sums — the opt-in build scan does). Result type
  // is always LongType (Spark's SUM over any int width).
  private final case class SumCol(c: String) extends Kind

  /** Integral input types whose SUM serves from the per-file sums. */
  private def sumType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Types whose footer stats land EXACTLY in the sidecar's integral
    * view (BlockStat.minLong/maxLong): plain ints of any width, dates
    * (int32 days), MICROS timestamps (the builder records None for
    * other units). Float/double stay refused — their footer stats
    * EXCLUDE NaN while Spark's MAX orders NaN above everything. */
  private def exactType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def recognize(agg: Aggregate): Option[Seq[(Alias, Kind)]] = {
    val out = agg.aggregateExpressions.map {
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        fn match {
          case Count(Seq(l: Literal)) if l.value != null => Some((al, CountStar))
          case Count(Seq(a: AttributeReference)) => Some((al, CountCol(a.name)))
          case Min(a: AttributeReference) if exactType(a.dataType) =>
            Some((al, MinCol(a.name, a.dataType)))
          case Max(a: AttributeReference) if exactType(a.dataType) =>
            Some((al, MaxCol(a.name, a.dataType)))
          case Sum(a: AttributeReference, _) if sumType(a.dataType) =>
            Some((al, SumCol(a.name)))
          case _ => None
        }
      case _ => None
    }
    if (out.forall(_.isDefined) && out.nonEmpty) Some(out.map(_.get)) else None
  }

  /** The metadata a serve reads off the sidecar's [[ZoneSnapshot]]:
    * file row counts plus, per requested column and file, the folded
    * entries ([[FileAgg]]). */
  private final case class Snap(
      fileRows: Map[String, Long],
      perCol: Map[(String, String), FileAgg])

  /** The snapshot of `rootPath`'s sidecar at `mtime`, with `cols` and
    * `pred`'s columns on the driver — one job when any is new to this
    * sidecar generation, none otherwise. The time spent is the serve's
    * decision cost, fed to the shared per-root cost model. */
  private def snapshotFor(spark: SparkSession, rootPath: String,
      mtime: Long, cols: Seq[String], pred: Option[Pred]): Snap = {
    val decT0 = System.nanoTime()
    try {
      val z = ZoneSnapshot.ofSidecar(rootPath, mtime)
      z.ensure(spark, cols.toSet ++ pred.toSeq.flatMap(IndexPruning.refColumns))
      Snap(z.fileRows(spark), cols.flatMap(c =>
        z.fileAgg(spark, c).map { case (f, a) => (c, f) -> a }).toMap)
    } finally graft.sources.CostRouter.observeDecision(
      rootPath, (System.nanoTime() - decT0) / 1e9)
  }

  /** COST-ESTIMATE view for [[EagerAggregationRule]]'s group-
    * cardinality gate (round 16): (total rows, global integral min,
    * global max) of `column` across every sidecar-indexed file.
    * Defined only when EVERY indexed file carries trusted integral
    * bounds for the column — a partially-covered column yields None
    * and the caller keeps its legacy behavior. Unlike the serve paths
    * this is NOT correctness-gated against the live listing: it feeds
    * a push-vs-don't COST decision whose wrong answer is extra work,
    * never wrong rows, so a slightly stale sidecar is fine. Reads the
    * same sidecar snapshot as the serves. */
  private[plans] def keyRangeStats(spark: SparkSession, rootPath: String,
      column: String): Option[(Long, Long, Long)] =
    for {
      mtime <- SidecarManifest.anchor(rootPath, spark, SidecarManifest.Zone)
      snap = snapshotFor(spark, rootPath, mtime, Seq(column), None)
      bounds <- {
        val perFile = snap.fileRows.keys.map(f => snap.perCol.get((column, f)))
        if (perFile.isEmpty || perFile.exists(e =>
            e.isEmpty || e.get.untrustedLong > 0 || e.get.minLong.isEmpty ||
              e.get.maxLong.isEmpty))
          None
        else Some((
          perFile.map(_.get.minLong.get).min,
          perFile.map(_.get.maxLong.get).max))
      }
    } yield (snap.fileRows.values.sum, bounds._1, bounds._2)

  /** (all-true, all-false) file sets of a COMPLETE predicate as the
    * sidecar at `mtime` records them, decided on the driver over its
    * [[ZoneSnapshot]]; callers intersect with the live listing. Shared
    * with the filtered dictionary serve ([[DictDistinctRule]]). */
  private[plans] def triStateFor(spark: SparkSession, rootPath: String,
      mtime: Long, pred: Pred): (Set[String], Set[String]) =
    ZoneSnapshot.ofSidecar(rootPath, mtime).triState(spark, pred)

  /** Can file `f` be PROVEN to hold exactly ONE group value for data
    * column `c` (round 14 — grouped serving beyond partition columns)?
    * Some(Some(v)) = every row holds the value v — a Long for the
    * exact integral view, a String for the lexical view (trusted zero
    * nulls, complete coverage, every block's view defined, file-wide
    * min == max); Some(None) = every row is NULL (its group is the
    * NULL group); None = unprovable — the file scans.
    *
    * STRINGS and footer truncation (round 15, the r14 refusal): a
    * format-compliant writer may truncate binary footer stats, but
    * truncation is STRICTLY one-sided — a truncated min is a proper
    * prefix of the true min (strictly SMALLER in unsigned byte order:
    * a prefix always precedes its extensions), and a truncated max
    * has its last byte incremented to stay an upper bound (strictly
    * GREATER than the true max: a shorter string can't equal a value
    * it upper-bounds, so inexact ⇒ strict). Therefore
    * `minStr == maxStr` is UNSATISFIABLE when either bound is inexact
    * (it would force min > max through trunc(min) = trunc(max) >
    * max ≥ min > trunc(min)) — equality itself certifies both bounds
    * exact and the file single-valued, no exactness flag needed.
    * Writers that can't produce an upper bound (all-0xFF tail) omit
    * the stat ⇒ None ⇒ the file scans. parquet-mr additionally DROPS
    * oversized binary stats outright — also None ⇒ scan. */
  private def singleGroupValue(snap: Snap, f: String,
      c: String, t: DataType): Option[Option[Any]] =
    snap.perCol.get((c, f)).flatMap { e =>
      val covered = snap.fileRows.get(f).contains(e.rows)
      if (!covered || !e.nullsKnown) None
      else if (t == org.apache.spark.sql.types.StringType) {
        if (e.nulls == 0 && e.untrustedStr == 0 && e.minStr.isDefined &&
          e.minStr == e.maxStr) Some(e.minStr)
        else if (e.nulls == e.rows) Some(None) // all-NULL: one (NULL) group
        else None
      }
      else if (e.nulls == 0 && e.untrustedLong == 0 && e.minLong.isDefined &&
        e.maxLong.isDefined && e.minLong == e.maxLong) Some(e.minLong)
      else if (e.nulls == e.rows) Some(None) // all-NULL: one (NULL) group
      else None
    }

  /** Is `f` answerable from metadata for aggregate `k`? */
  private def trusted(snap: Snap, f: String, k: Kind): Boolean = k match {
    case CountStar => snap.fileRows.contains(f)
    case CountCol(c) => snap.perCol.get((c, f)).exists { e =>
      e.nullsKnown && snap.fileRows.get(f).contains(e.rows)
    }
    case MinCol(c, _) => snap.perCol.get((c, f)).exists { e =>
      e.nullsKnown && e.untrustedLong == 0 && snap.fileRows.get(f).contains(e.rows)
    }
    case MaxCol(c, _) => trusted(snap, f, MinCol(c, IntegerType))
    // the sum was computed from the DATA, not footers — its own
    // presence is the whole trust test (None = not built, single-file
    // overflow, or all-NULL; those files fall to the scan side, which
    // also preserves SUM's all-NULL ⇒ NULL semantics)
    case SumCol(c) => snap.perCol.get((c, f)).exists(_.sumLong.isDefined)
  }

  private[graft] def tryRewrite(
      spark: SparkSession, agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.nonEmpty) return tryGrouped(spark, agg)
    for {
      pairs <- recognize(agg)
      GraftRule.Scan(conds, hfs, root) <- GraftRule.scanOf(agg.child)
      if conds.size <= 1
      condOpt = conds.headOption
      if condOpt.forall(_.deterministic)
      // every referenced column must be a DATA column (partition
      // columns have no footer stats)
      cols = pairs.map(_._2).collect {
        case CountCol(c) => c
        case MinCol(c, _) => c
        case MaxCol(c, _) => c
        case SumCol(c) => c
      }.distinct
      if cols.forall(hfs.dataSchema.fieldNames.contains)
      predOpt <- condOpt match {
        case None => Some(None) // unfiltered: everything all-match
        case Some(c) => PredicateExtractor.convertComplete(c).map(Some(_))
      }
      // measured benefit gate (round 15): on a root with CALIBRATED
      // cost-router constants, pay the (memoized) decision jobs only
      // under the ski-rental policy — immediately when even one query
      // repays them, after enough repeats otherwise; refuse while
      // renting the scan is cheaper (the BENCH_ZONEFRAC_r14
      // admission). Uncalibrated roots keep r14 always-serve behavior.
      if graft.sources.CostRouter.shouldInvest(root,
        "za:" + cols.mkString(",") + "|" +
          predOpt.map(_.toString).getOrElse(""),
        hfs.location.sizeInBytes).getOrElse(true)
      mtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Zone)
      liveRaw = hfs.location.inputFiles.toSeq
      liveFiles = liveRaw.map(norm).toSet
      if liveFiles.nonEmpty
      snap = snapshotFor(spark, root, mtime, cols, predOpt)
      // the answer gates: index file set == live listing EXACTLY, and
      // no live file newer than the index — a file rewritten in place
      // AFTER the sidecar save carries dead stats (the anchor ordering
      // is the bound); a rewrite BEFORE it is caught by refresh's
      // per-file (mtime, size) diff, which re-reads changed files
      // (round 15)
      if SidecarManifest.servable(
        mtime, snap.fileRows.keySet, ZoneMapPruneRule.liveStatsOf(hfs))
      (allTrueRaw, allFalseRaw) = predOpt.fold((liveFiles, Set.empty[String]))(
        triStateFor(spark, root, mtime, _))
      allTrue = allTrueRaw & liveFiles
      allFalse = allFalseRaw & liveFiles
      undecided = liveFiles -- allTrue -- allFalse
      served = allTrue.filter(f => pairs.forall(p => trusted(snap, f, p._2)))
      scanFiles = undecided ++ (allTrue -- served)
      if servesAny(served, scanFiles)
      if scanFiles.size <= liveFiles.size *
        GraftRule.conf(spark, "spark.graft.statsServe.maxScanFraction", 0.5)
      plan <- buildPlan(spark, root, hfs, pairs, condOpt, snap, served,
        scanFiles, liveRaw)
    } yield {
      val out = pairs.zip(plan.output).map { case ((orig, _), a) =>
        Alias(a, orig.name)(exprId = orig.exprId): NamedExpression
      }
      if (out.zip(agg.aggregateExpressions)
          .exists { case (n, o) => n.dataType != o.dataType }) agg
      else Project(out, plan)
    }
  }.filter(_ ne agg)

  /** One output entry of a GROUPED aggregate: a grouping attribute
    * (bare or re-aliased) or a servable aggregate. */
  private sealed trait GOut
  private final case class GGroup(src: AttributeReference,
      name: String, exprId: org.apache.spark.sql.catalyst.expressions.ExprId,
      dataType: DataType) extends GOut
  private final case class GAgg(orig: Alias, kind: Kind, idx: Int) extends GOut

  /** GROUP BY over PARTITION columns (round 13 continuation): the
    * file→partition-value mapping is already exact in the relation's
    * own FileIndex, so `SELECT part_col, COUNT(*)/COUNT/MIN/MAX …
    * GROUP BY part_col [WHERE p]` serves zone-decided files from
    * metadata per group, with one straddler-only scan grouped the
    * same way and the partials combined (sum counts, min of mins).
    * The 100 TB shape: per-day / per-tenant row counts over a
    * date/tenant-partitioned fact, answered without touching data.
    *
    * This deliberately avoids the trap that got Spark's own
    * `metadataOnly` optimization removed: groups come from the files
    * actually present (an empty partition DIRECTORY has no files, no
    * rows, and correctly no group), never from a catalog. Grouping on
    * a DATA column refuses — only partition values are exact per
    * file. All the global arm's gates apply unchanged (sidecar mtime,
    * file-set equality, live-mtime ordering, trust per aggregate,
    * maxScanFraction). */
  private def tryGrouped(spark: SparkSession,
      agg: Aggregate): Option[LogicalPlan] = {
    val groupAttrs = agg.groupingExpressions.collect {
      case a: AttributeReference => a
    }
    if (groupAttrs.size != agg.groupingExpressions.size) return None
    // classify outputs; aggregate entries get stable indices
    var nAggs = 0
    val entriesOpt = agg.aggregateExpressions.map {
      case a: AttributeReference
          if groupAttrs.exists(_.exprId == a.exprId) =>
        Some(GGroup(a, a.name, a.exprId, a.dataType))
      case al @ Alias(a: AttributeReference, _)
          if groupAttrs.exists(_.exprId == a.exprId) =>
        Some(GGroup(a, al.name, al.exprId, a.dataType))
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        val k = fn match {
          case Count(Seq(l: Literal)) if l.value != null => Some(CountStar)
          case Count(Seq(a: AttributeReference)) => Some(CountCol(a.name))
          case Min(a: AttributeReference) if exactType(a.dataType) =>
            Some(MinCol(a.name, a.dataType))
          case Max(a: AttributeReference) if exactType(a.dataType) =>
            Some(MaxCol(a.name, a.dataType))
          case Sum(a: AttributeReference, _) if sumType(a.dataType) =>
            Some(SumCol(a.name))
          case _ => None
        }
        k.map { kk => val e = GAgg(al, kk, nAggs); nAggs += 1; e }
      case _ => None
    }
    if (entriesOpt.exists(_.isEmpty)) return None
    val entries = entriesOpt.map(_.get)
    val kinds = entries.collect { case g: GAgg => g }.sortBy(_.idx)
    if (kinds.isEmpty) return None
    for {
      GraftRule.Scan(conds, hfs, root) <- GraftRule.scanOf(agg.child)
      if conds.size <= 1
      condOpt = conds.headOption
      if condOpt.forall(_.deterministic)
      // measured benefit gate (ski-rental) — see the global arm
      if graft.sources.CostRouter.shouldInvest(root,
        "zag:" + groupAttrs.map(_.name).mkString(","),
        hfs.location.sizeInBytes).getOrElse(true)
      // group columns: PARTITION columns serve from the FileIndex's
      // exact file->value map; DATA columns (round 14) serve per file
      // when the stats PROVE the file holds one group (min == max with
      // zero nulls, or all-NULL) — clustered/sorted layouts mostly do.
      // A data group column needs the exact integral view or (round
      // 15) the lexical string view, whose min == max proof is
      // truncation-safe by strictness (see [[singleGroupValue]]);
      // floats refuse (NaN rules). Unprovable files fall to the
      // grouped scan.
      dataGroupCols = groupAttrs.filterNot(a =>
        hfs.partitionSchema.fieldNames.contains(a.name))
      if dataGroupCols.forall(a =>
        (exactType(a.dataType) ||
          a.dataType == org.apache.spark.sql.types.StringType) &&
          hfs.dataSchema.fieldNames.contains(a.name))
      cols = (kinds.map(_.kind).collect {
        case CountCol(c) => c
        case MinCol(c, _) => c
        case MaxCol(c, _) => c
        case SumCol(c) => c
      } ++ dataGroupCols.map(_.name)).distinct
      if cols.forall(hfs.dataSchema.fieldNames.contains)
      predOpt <- condOpt match {
        case None => Some(None)
        case Some(c) => PredicateExtractor.convertComplete(c).map(Some(_))
      }
      mtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Zone)
      liveRaw = hfs.location.inputFiles.toSeq
      liveFiles = liveRaw.map(norm).toSet
      if liveFiles.nonEmpty
      snap = snapshotFor(spark, root, mtime, cols, predOpt)
      if SidecarManifest.servable(
        mtime, snap.fileRows.keySet, ZoneMapPruneRule.liveStatsOf(hfs))
      (allTrueRaw, allFalseRaw) = predOpt.fold((liveFiles, Set.empty[String]))(
        triStateFor(spark, root, mtime, _))
      allTrue = allTrueRaw & liveFiles
      allFalse = allFalseRaw & liveFiles
      undecided = liveFiles -- allTrue -- allFalse
      served = allTrue.filter(f =>
        kinds.forall(g => trusted(snap, f, g.kind)) &&
          dataGroupCols.forall(a =>
            singleGroupValue(snap, f, a.name, a.dataType).isDefined))
      scanFiles = undecided ++ (allTrue -- served)
      if servesAny(served, scanFiles)
      if scanFiles.size <= liveFiles.size *
        GraftRule.conf(spark, "spark.graft.statsServe.maxScanFraction", 0.5)
      plan <- buildGroupedPlan(spark, root, hfs, groupAttrs,
        kinds, condOpt, snap, served, scanFiles, liveRaw)
    } yield {
      // plan output = group columns (in groupAttrs order) ++ partials
      // (in kinds order); rebind to the original names + exprIds
      val byGroup = groupAttrs.map(_.name).zip(
        plan.output.take(groupAttrs.size)).toMap
      val aggOut = plan.output.drop(groupAttrs.size)
      val out = entries.map {
        case GGroup(src, name, id, _) =>
          Alias(byGroup(src.name), name)(exprId = id): NamedExpression
        case GAgg(orig, _, i) =>
          Alias(aggOut(i), orig.name)(exprId = orig.exprId): NamedExpression
      }
      if (out.zip(agg.aggregateExpressions)
          .exists { case (n, o) => n.dataType != o.dataType }) agg
      else Project(out, plan)
    }
  }.filter(_ ne agg)

  /** The grouped serving plan: served files fold into per-group
    * partials at PLAN time (the file→partition-values map comes from
    * the relation's FileIndex) shipped as a LocalRelation; the
    * straddler scan aggregates the same shapes per group (basePath
    * read — partition columns survive); the union re-aggregates
    * (counts sum, mins min, maxes max). */
  private def buildGroupedPlan(spark: SparkSession, rootPath: String,
      hfs: HadoopFsRelation, groupAttrs: Seq[AttributeReference],
      kinds: Seq[GAgg], condOpt: Option[Expression], snap: Snap,
      served: Set[String], scanFiles: Set[String],
      liveRaw: Seq[String]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.InternalRow
    val partSchema = hfs.partitionSchema
    // file -> its partition values row (for partition group columns)
    val partValues: Map[String, org.apache.spark.sql.catalyst.InternalRow] =
      hfs.location.listFiles(Nil, Nil).flatMap { pd =>
        pd.files.map(f => norm(f.getPath.toString) -> pd.values)
      }.toMap
    // file -> this file's group key (internal values, in group
    // order): partition columns read the FileIndex's exact map; data
    // columns read the PROVEN single-group value from the stats
    // (None components never occur for served files — the serve
    // filter required the proof)
    def keyFor(f: String): Option[Seq[Any]] = {
      val parts = groupAttrs.map { a =>
        if (partSchema.fieldNames.contains(a.name))
          partValues.get(f).map(r =>
            r.get(partSchema.fieldIndex(a.name), a.dataType))
        else singleGroupValue(snap, f, a.name, a.dataType).map {
          case Some(v: Long) => internalOf(v, a.dataType)
          case Some(s: String) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case _ => null
        }
      }
      if (parts.forall(_.isDefined)) Some(parts.map(_.get)) else None
    }
    val fileKey: Map[String, Seq[Any]] =
      served.toSeq.flatMap(f => keyFor(f).map(f -> _)).toMap
    if (!served.forall(fileKey.contains)) return None
    // fold served files per group: Array(count partials per kind)
    val partials = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], Array[Any]]
    served.toSeq.sortBy(identity).foreach { f =>
      val acc = partials.getOrElseUpdate(fileKey(f),
        Array.fill[Any](kinds.size)(null))
      kinds.zipWithIndex.foreach { case (g, i) =>
        g.kind match {
          case CountStar =>
            acc(i) = (if (acc(i) == null) 0L
              else acc(i).asInstanceOf[Long]) + snap.fileRows(f)
          case CountCol(c) =>
            val e = snap.perCol((c, f))
            acc(i) = (if (acc(i) == null) 0L
              else acc(i).asInstanceOf[Long]) + (e.rows - e.nulls)
          case MinCol(c, t) =>
            snap.perCol((c, f)).minLong.foreach { v =>
              val nv = if (acc(i) == null) v
                else math.min(acc(i).asInstanceOf[Long], v)
              acc(i) = nv
            }
          case MaxCol(c, t) =>
            snap.perCol((c, f)).maxLong.foreach { v =>
              val nv = if (acc(i) == null) v
                else math.max(acc(i).asInstanceOf[Long], v)
              acc(i) = nv
            }
          case SumCol(c) =>
            snap.perCol((c, f)).sumLong.foreach { v =>
              // addExact: a per-group overflow aborts the whole
              // rewrite (the frame keeps the node) rather than wrapping
              val nv = if (acc(i) == null) v
                else Math.addExact(acc(i).asInstanceOf[Long], v)
              acc(i) = nv
            }
        }
      }
    }
    // typed internal value for a partial
    def internal(k: Kind, v: Any): Any = (k, v) match {
      case (_, null) => null
      case (CountStar | CountCol(_) | SumCol(_), l) => l
      case (MinCol(_, t), l: Long) => internalOf(l, t)
      case (MaxCol(_, t), l: Long) => internalOf(l, t)
      case _ => null
    }
    val groupOut = groupAttrs.map(a =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        a.name, a.dataType, nullable = true)())
    val partialOut = kinds.map { g =>
      val t = g.kind match {
        case MinCol(_, t) => t
        case MaxCol(_, t) => t
        case _            => LongType
      }
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        s"gp${g.idx}", t, nullable = true)()
    }
    val metaRows = partials.map { case (key, acc) =>
      InternalRow.fromSeq(key ++
        kinds.zipWithIndex.map { case (g, i) => internal(g.kind, acc(i)) })
    }.toSeq
    val metaDf = org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        groupOut ++ partialOut, metaRows))
    val scanRaw = liveRaw.filter(f => scanFiles.contains(norm(f)))
    val df =
      if (scanRaw.isEmpty) metaDf // already one row per group
      else {
        var scan = graft.sources.MicroBlockIndex
          .readFilesAsTable(spark, rootPath, scanRaw, Some(hfs.dataSchema))
        condOpt.foreach { cond =>
          val unresolved = cond.transform {
            case a: AttributeReference =>
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute.quoted(a.name)
          }
          scan = scan.filter(org.apache.spark.sql.graftbridge.ColumnBridge
            .column(unresolved))
        }
        val scanAggs = kinds.map { g =>
          (g.kind match {
            case CountStar    => count(lit(1))
            case CountCol(c)  => count(col(c))
            case MinCol(c, _) => min(col(c))
            case MaxCol(c, _) => max(col(c))
            case SumCol(c)    => sum(col(c))
          }).as(s"gp${g.idx}")
        }
        val scanAgg = scan.groupBy(groupAttrs.map(a => col(a.name)): _*)
          .agg(scanAggs.head, scanAggs.tail: _*)
        val combAggs = kinds.map { g =>
          (g.kind match {
            // SUM partials combine like counts: add, null-skipping
            case CountStar | CountCol(_) | SumCol(_) =>
              sum(col(s"gp${g.idx}"))
            case MinCol(_, _)            => min(col(s"gp${g.idx}"))
            case MaxCol(_, _)            => max(col(s"gp${g.idx}"))
          }).as(s"gf${g.idx}")
        }
        // .agg output = group cols ++ gf$i, already in final order
        metaDf.unionByName(scanAgg)
          .groupBy(groupAttrs.map(a => col(a.name)): _*)
          .agg(combAggs.head, combAggs.tail: _*)
      }
    val p = GraftRule.internally(df.queryExecution.optimizedPlan)
    if (p.output.size == groupAttrs.size + kinds.size) Some(p) else None
  }

  /** Internal (Catalyst) value of the exact integral view for `t`. */
  private def internalOf(v: Long, t: DataType): Any = t match {
    case ByteType    => v.toByte
    case ShortType   => v.toShort
    case IntegerType => v.toInt
    case DateType    => v.toInt
    case _           => v
  }

  /** The serving plan: metadata values folded at PLAN time over the
    * served files, combined with one straddler scan (original filter
    * re-applied) — or a pure one-row projection when nothing scans. */
  private def buildPlan(spark: SparkSession, rootPath: String,
      hfs: HadoopFsRelation, pairs: Seq[(Alias, Kind)], condOpt: Option[Expression], snap: Snap,
      served: Set[String], scanFiles: Set[String],
      liveRaw: Seq[String]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    // a typed Catalyst literal from the exact integral view —
    // internal representations: ints as their width, DateType as
    // int32 days, timestamps as int64 micros
    def typedLit(v: Option[Long], t: DataType)
        : org.apache.spark.sql.Column = {
      val l = v match {
        case None => Literal(null, t)
        case Some(d) => t match {
          case ByteType    => Literal(d.toByte, t)
          case ShortType   => Literal(d.toShort, t)
          case IntegerType => Literal(d.toInt, t)
          case DateType    => Literal(d.toInt, t)
          case _           => Literal(d, t) // long / timestamp micros
        }
      }
      org.apache.spark.sql.graftbridge.ColumnBridge.column(l)
    }
    val metaCols: Seq[org.apache.spark.sql.Column] = pairs.map {
      case (_, CountStar) =>
        lit(served.iterator.map(snap.fileRows).sum)
      case (_, CountCol(c)) =>
        lit(served.iterator.map(f => snap.perCol((c, f)))
          .map(e => e.rows - e.nulls).sum)
      case (_, MinCol(c, t)) =>
        val mns = served.toSeq.flatMap(f => snap.perCol((c, f)).minLong)
        typedLit(mns.minOption, t)
      case (_, MaxCol(c, t)) =>
        val mxs = served.toSeq.flatMap(f => snap.perCol((c, f)).maxLong)
        typedLit(mxs.maxOption, t)
      case (_, SumCol(c)) =>
        // exact BigInt fold; a combined total past long range throws
        // -> the frame refuses the whole serve (Spark's
        // own scan would throw/wrap per its overflow semantics — a
        // silently-wrapped metadata answer must never replace that)
        val sums = served.toSeq.flatMap(f => snap.perCol((c, f)).sumLong)
        if (sums.isEmpty)
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            Literal(null, org.apache.spark.sql.types.LongType))
        else {
          val total = sums.foldLeft(BigInt(0))(_ + _)
          require(total.isValidLong, "served SUM exceeds long range")
          lit(total.toLong)
        }
    }
    val scanRaw = liveRaw.filter(f => scanFiles.contains(norm(f)))
    val df =
      if (scanRaw.isEmpty)
        spark.range(1).select(
          metaCols.zipWithIndex.map { case (c, i) => c.as(s"a$i") }: _*)
      else {
        var scan = graft.sources.MicroBlockIndex
          .readFilesAsTable(spark, rootPath, scanRaw, Some(hfs.dataSchema))
        condOpt.foreach { cond =>
          val unresolved = cond.transform {
            case a: AttributeReference =>
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute.quoted(a.name)
          }
          scan = scan.filter(org.apache.spark.sql.graftbridge.ColumnBridge
            .column(unresolved))
        }
        val scanAggs = pairs.zipWithIndex.map {
          case ((_, CountStar), i)    => count(lit(1)).as(s"s$i")
          case ((_, CountCol(c)), i)  => count(col(c)).as(s"s$i")
          case ((_, MinCol(c, _)), i) => min(col(c)).as(s"s$i")
          case ((_, MaxCol(c, _)), i) => max(col(c)).as(s"s$i")
          case ((_, SumCol(c)), i)    => sum(col(c)).as(s"s$i")
        }
        scan.agg(scanAggs.head, scanAggs.tail: _*).select(
          pairs.zip(metaCols).zipWithIndex.map {
            case (((_, CountStar), m), i)     => (m + col(s"s$i")).as(s"a$i")
            case (((_, CountCol(_)), m), i)   => (m + col(s"s$i")).as(s"a$i")
            case (((_, MinCol(_, _)), m), i)  => least(m, col(s"s$i")).as(s"a$i")
            case (((_, MaxCol(_, _)), m), i)  => greatest(m, col(s"s$i")).as(s"a$i")
            // SUM's null algebra: NULL only when BOTH sides have no
            // non-null input (m + s is null-poisoned, so coalesce
            // through the three live cases)
            case (((_, SumCol(_)), m), i) =>
              coalesce(m + col(s"s$i"), m, col(s"s$i")).as(s"a$i")
          }: _*)
      }
    val p = GraftRule.internally(df.queryExecution.optimizedPlan)
    if (p.output.size == pairs.size) Some(p) else None
  }
}
