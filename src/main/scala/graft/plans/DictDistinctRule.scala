package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.types.LongType
import graft.sources.SidecarManifest

/** Transparent DICTIONARY-PAGE serving for plain SQL: a global
  * (ungrouped, unfiltered) `COUNT(DISTINCT col)[, ...]` over a bare
  * parquet table whose `_graft_dict` sidecar is provably CURRENT
  * re-plans onto the SIDECAR — dictionary-page value sets instead of a
  * data scan, with uncovered files (PLAIN-fallback chunks) unioned in
  * as a pruned scan of just those files. The
  * [[graft.engine.GraftEngine.sql]] dictServe path without the engine:
  * any session with GraftExtensions + a saved sidecar gets
  * metadata-scale COUNT(DISTINCT) from `spark.sql` directly (sf100:
  * 1.17 s scan → 0.69 s serve per BENCH_DICT, and the serve is
  * metadata-bound so the gap widens with data).
  *
  * Recognized shape, deliberately narrow: `Aggregate` with NO grouping
  * and NO filter anywhere below (dictionaries carry file-level value
  * sets — a row predicate would need row scans anyway), every output
  * an `Alias(COUNT(DISTINCT attr))`, over attr-only Projects down to a
  * single-root `LogicalRelation`. Anything else is untouched.
  *
  * SOUNDNESS GATE (stricter than the pruning rule's): serving from a
  * stale sidecar is WRONG ANSWERS, not lost pruning — a sidecar
  * missing a new file undercounts, one holding a deleted file's
  * entries overcounts. The rewrite therefore requires the SERVE-grade
  * currency test ([[SidecarManifest.servable]]: anchor
  * no older than any live file, recorded file set == live listing),
  * checked per query from a coverage snapshot cached per (root,
  * anchor) — a refreshed sidecar is picked up on its next anchor, an
  * appended/removed base file refuses until
  * [[graft.sources.DictionaryIndex.refresh]] + save. Columns the
  * sidecar doesn't index refuse the whole query (no partial serves).
  *
  * Plan shape: per distinct-counted column, the sidecar relation
  * explodes its covered value arrays, unions the uncovered files' scan
  * (only those files, only that column), and counts distinct; the
  * per-column 1×1 partials join and project under the original output
  * names + exprIds. All decisions (coverage, uncovered file lists)
  * come from the cached metadata snapshot — plan time pays no
  * filesystem work beyond the mtime stat.
  *
  * Ordering: runs AFTER [[AggViewRewriteRule]] (a fresh materialized
  * view is strictly better — it also serves grouped shapes) and
  * BEFORE [[ZoneMapPruneRule]] (no interaction: this rule fires only
  * on filter-less plans, where the pruner has nothing to cut).
  */
case class DictDistinctRule(spark: SparkSession) extends GraftRule {

  protected def rewrite: PartialFunction[LogicalPlan, Option[LogicalPlan]] = {
    case agg: Aggregate => DictDistinctRule.tryRewrite(spark, agg)
  }
}

object DictDistinctRule {

  /** The widest scan side, as a share of the live files, at which a
    * filtered serve still beats the plain scan. */
  private val MaxScanFraction = 0.5

  /** Coverage snapshot of one sidecar generation: per column, the
    * covered file set; the sidecar's total file set (the equality
    * gate's left side); mixed-physical-type columns; per column
    * (anyNullPresent, unknown) from footer null counts — `unknown`
    * when any sidecar file lacks an entry for the column or recorded
    * `-1`; per (column, file) the RAW recorded null count (-1 =
    * unknown — the filtered DISTINCT arm decides null handling
    * file-by-file); and per file the (mtime, size) recorded AT INDEX
    * TIME (absent for entries predating the fields); and each file's
    * spelling as the sidecar records it. Metadata-scale (files ×
    * columns). */
  private final case class Coverage(
      files: Set[String],
      raw: Map[String, String],
      coveredByColumn: Map[String, Set[String]],
      mixedTypeColumns: Set[String],
      nullsByColumn: Map[String, (Boolean, Boolean)],
      nullCountByFile: Map[(String, String), Long],
      fileStats: Map[String, (Long, Long)])

  // (norm root, sidecar anchor) -> coverage snapshot
  private val coverageCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long), Coverage](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Coverage]): Boolean =
        size > 64
    })

  private def norm(p: String): String = ZoneMapPruneRule.normFile(p)

  /** The measured benefit gate (round 15): on a root with CALIBRATED
    * [[graft.sources.CostRouter]] constants, pay the (memoized)
    * decision jobs under the ski-rental policy — immediately when one
    * query repays them, after enough repeats otherwise (the
    * BENCH_ZONEFRAC_r14 small-scale loss). Uncalibrated roots keep
    * round-14 behavior (serve when provable), so fixtures and gate
    * rows that never calibrate are untouched. */
  private def costOk(hfs: HadoopFsRelation, root: String): Boolean =
    graft.sources.CostRouter
      .shouldInvest(root, "dict", hfs.location.sizeInBytes)
      .getOrElse(true)

  private def coverageFor(spark: SparkSession, rootPath: String,
      mtime: Long): Coverage = {
    val key = (norm(rootPath), mtime)
    val hit = coverageCache.get(key)
    if (hit != null) hit
    else {
      val decT0 = System.nanoTime()
      val built =
        try GraftRule.internally {
          import org.apache.spark.sql.functions.{col, size => asize}
          val df = graft.sources.DictionaryIndex.sidecarFrame(spark, rootPath, mtime)
          val collected = df.select(col("file"), col("column"), col("covered"),
              (asize(col("valuesLong")) > 0).as("isL"),
              (asize(col("valuesDouble")) > 0).as("isD"),
              (asize(col("valuesStr")) > 0).as("isS"),
              col("nullCount"), col("fileMtime"), col("fileSize"))
            .collect()
          val raw = collected.map(r => norm(r.getString(0)) -> r.getString(0)).toMap
          val rows = collected
            .map(r => (norm(r.getString(0)), r.getString(1), r.getBoolean(2),
              r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getLong(6),
              r.getLong(7), r.getLong(8)))
          val allFiles = rows.map(_._1).toSet
          val mixed = rows.groupBy(_._2).collect { case (c, rs)
              if Seq(rs.exists(r => r._3 && r._4), rs.exists(r => r._3 && r._5),
                rs.exists(r => r._3 && r._6)).count(identity) > 1 => c }.toSet
          val nulls = rows.groupBy(_._2).map { case (c, rs) =>
            c -> ((rs.exists(_._7 > 0),
              rs.exists(_._7 < 0) || rs.map(_._1).toSet != allFiles))
          }
          Coverage(
            allFiles,
            raw,
            rows.groupBy(_._2).map { case (c, rs) =>
              c -> rs.filter(_._3).map(_._1).toSet },
            mixed,
            nulls,
            rows.map(r => (r._2, r._1) -> r._7).toMap,
            rows.collect { case r if r._8 >= 0 => r._1 -> ((r._8, r._9)) }
              .toMap)
        }
        // feed the shared per-root cost model: the coverage job is this
        // serve's decision cost
        finally graft.sources.CostRouter.observeDecision(
          rootPath, (System.nanoTime() - decT0) / 1e9)
      coverageCache.put(key, built)
      built
    }
  }

  // (root, sidecar anchor, plan inputs, session) -> optimized per-column plan
  private val servePlanCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Any, String), LogicalPlan](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Any, String), LogicalPlan]): Boolean =
        size > 128
    })

  /** One per-column serve plan, built with the graft rules standing
    * down ([[GraftRule.internally]]) and memoized per (root, dictionary
    * anchor, `inputs`, session): `inputs` must hold everything else the
    * plan is a function of, so a repeated query shape plans nothing. The OPTIMIZED subtree is spliced: this
    * rule runs in the user-provided batch after Spark's main
    * optimization, so an analyzed splice would carry nodes
    * (Deduplicate from .distinct()) no later rule lowers. */
  private def servePlan(spark: SparkSession, rootPath: String, mtime: Long,
      inputs: Any)(build: => Option[org.apache.spark.sql.DataFrame]): Option[LogicalPlan] = {
    val key = (norm(rootPath), mtime, inputs, SidecarManifest.sessionKey(spark))
    Option(servePlanCache.get(key)).orElse {
      val built = GraftRule.internally(build.map(_.queryExecution.optimizedPlan))
      built.foreach(servePlanCache.put(key, _))
      built
    }
  }

  /** The serve-grade currency test ([[graft.sources.SidecarManifest
    * .servable]]) plus a per-file (mtime, size) match against the live
    * listing — catches a base file REWRITTEN IN PLACE under the same
    * name before the anchor, which name-set equality cannot (serving
    * its stale dictionary value set would be wrong answers). Live
    * statuses come from the relation's own FileIndex through the
    * shared identity-keyed liveStatsOf memo — already materialized at
    * resolution, no extra filesystem work at plan time. Entries from a
    * sidecar predating the fields carry no stats and keep the
    * name-set-only gate (documented on [[graft.sources.FileDict]]). */
  private def servable(anchor: Long, cov: Coverage,
      hfs: HadoopFsRelation): Boolean = {
    val live = ZoneMapPruneRule.liveStatsOf(hfs)
    SidecarManifest.servable(anchor, cov.files, live) &&
      cov.fileStats.forall { case (f, ms) => live.get(f).contains(ms) }
  }

  /** Spark types whose cast from the physical dictionary view (long /
    * double / string) is faithful — the [[graft.engine.GraftEngine]]
    * dictServe gate (casting raw micros to a timestamp would shift
    * the domain). */
  private def faithful(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType => true
      case _ => false
    }
  }

  private[graft] def tryRewrite(
      spark: SparkSession, agg: Aggregate): Option[LogicalPlan] = agg match {
    // `SELECT DISTINCT col`: the main optimizer has already lowered
    // Distinct to Aggregate(col, col, _) before this batch runs
    case Aggregate(Seq(g: AttributeReference),
        Seq(out: AttributeReference), child, _)
        if g.exprId == out.exprId && faithful(g.dataType) =>
      tryDistinctValues(spark, agg, out, child)
        .orElse(tryDistinctValuesFiltered(spark, out, child))
    case _ if agg.groupingExpressions.isEmpty =>
      tryCountDistinct(spark, agg)
        .orElse(tryCountDistinctFiltered(spark, agg))
    case _ => None
  }

  /** The DISTINCT-values serve: dictionary value sets + the NULL row
    * plain SQL would return when footer stats PROVE nulls exist
    * (dictionaries hold none); an UNKNOWN null count on a nullable
    * column refuses — the engine dictServe contract, transparent. */
  private def tryDistinctValues(spark: SparkSession, agg: Aggregate,
      out: AttributeReference, child: LogicalPlan): Option[LogicalPlan] =
    for {
      GraftRule.Scan(Nil, hfs, root) <- GraftRule.scanOf(child)
      if costOk(hfs, root)
      mtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Dict)
      cov = coverageFor(spark, root, mtime)
      // the soundness gate: the serve-grade currency test, AND each
      // recorded (mtime, size) matches its live file
      if servable(mtime, cov, hfs)
      if cov.coveredByColumn.contains(out.name) &&
        !cov.mixedTypeColumns.contains(out.name)
      (anyNull, unknown) = cov.nullsByColumn.getOrElse(out.name, (false, true))
      if !(unknown && out.nullable)
      plan <- distinctPlan(spark, root, mtime, out,
        needNull = anyNull && out.nullable)
    } yield Project(Seq(
      Alias(plan.output.head, out.name)(exprId = out.exprId)), plan)

  private def tryCountDistinct(
      spark: SparkSession, agg: Aggregate): Option[LogicalPlan] = {
    for {
      GraftRule.Scan(Nil, hfs, root) <- GraftRule.scanOf(agg.child)
      if costOk(hfs, root)
      // every output must be Alias(COUNT(DISTINCT attr)) over a
      // FAITHFUL type — the same gate the SELECT DISTINCT arm and the
      // engine's dictServe apply. Without it a partially-covered
      // TIMESTAMP column would union raw micros (dictionary side) with
      // cast-to-long epoch SECONDS (scan side): mismatched domains
      // double-count shared values and collapse sub-second-distinct
      // timestamps. Any other shape refuses the whole query (no
      // partial serves).
      pairs <- GraftRule.traverse(agg.aggregateExpressions.map {
        case al @ Alias(AggregateExpression(
            Count(Seq(a: AttributeReference)), Complete, true, None, _), _)
            if faithful(a.dataType) =>
          Some((al, a.name))
        case _ => None
      })
      if pairs.nonEmpty
      mtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Dict)
      cov = coverageFor(spark, root, mtime)
      // the soundness gate: the serve-grade currency test, AND each
      // recorded (mtime, size) matches its live file
      if servable(mtime, cov, hfs)
      cols = pairs.map(_._2).distinct
      // every counted column must be indexed (a column with no sidecar
      // rows has unknown coverage) and single-physical-typed (a mixed
      // column's union semantics live in DictionaryIndex — refuse here)
      if cols.forall(c => cov.coveredByColumn.contains(c) &&
        !cov.mixedTypeColumns.contains(c))
      plan <- rewriteOnto(spark, root, mtime, cov, agg, pairs)
    } yield plan
  }

  // ---------- the FILTERED serve (round 13, verdict ask #7) ----------

  // Tri-state decisions are SHARED with the zone-stats serve
  // ([[ZoneAggRule.triStateFor]]): decided over the `_graft_index`
  // sidecar's driver snapshot at its current anchor — a rebuilt zone
  // sidecar is picked up by the next query, never a registered frame
  // (a rewritten-in-place file could otherwise be falsely proved
  // all-true even though the DICT gates pass on its refreshed
  // sidecar). Callers intersect with the live listing and
  // apply the PRUNE-grade test to the zone sidecar: a live file it
  // does not know is simply undecided (it scans), but none may be
  // newer than its anchor.

  /** `COUNT(DISTINCT col)[, ...] WHERE p` over a dict-indexed table
    * whose ZONE-MAP stats decide p for (most) whole files: files
    * PROVED all-rows-match serve their dictionary value sets, files
    * proved all-false contribute nothing, and the straddling minority
    * (plus all-true files without dictionary coverage) unions in as
    * one pruned scan with the ORIGINAL row filter applied — exact by
    * construction. Requires a COMPLETE predicate conversion
    * ([[PredicateExtractor.convertComplete]] — an all-rows proof over
    * a weakened predicate would claim rows a dropped conjunct
    * rejects) and refuses when the scan side exceeds
    * [[MaxScanFraction]] of the live files — past that the serve is
    * just a worse scan. */
  private def tryCountDistinctFiltered(
      spark: SparkSession, agg: Aggregate): Option[LogicalPlan] =
    for {
      GraftRule.Scan(Seq(cond), hfs, root) <- GraftRule.scanOf(agg.child)
      if cond.deterministic
      if costOk(hfs, root)
      pairs <- GraftRule.traverse(agg.aggregateExpressions.map {
        case al @ Alias(AggregateExpression(
            Count(Seq(a: AttributeReference)), Complete, true, None, _), _)
            if faithful(a.dataType) =>
          Some((al, a))
        case _ => None
      })
      if pairs.nonEmpty
      pred <- PredicateExtractor.convertComplete(cond)
      mtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Dict)
      cov = coverageFor(spark, root, mtime)
      liveRaw = hfs.location.inputFiles.toSeq
      liveFiles = liveRaw.map(norm).toSet
      if servable(mtime, cov, hfs)
      cols = pairs.map(_._2).map(a => a.name).distinct
      if cols.forall(c => cov.coveredByColumn.contains(c) &&
        !cov.mixedTypeColumns.contains(c))
      zoneMtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Zone)
      // no live file newer than the zone index: its all-true proofs
      // are build-time claims (the dict gates only protect the DICT
      // sidecar's freshness)
      if SidecarManifest.prunable(zoneMtime,
        ZoneMapPruneRule.liveStatsOf(hfs).valuesIterator.map(_._1))
      (allTrueRaw, allFalseRaw) = ZoneAggRule.triStateFor(
        spark, root, zoneMtime, pred)
      allTrue = allTrueRaw & liveFiles
      allFalse = allFalseRaw & liveFiles
      undecided = liveFiles -- allTrue -- allFalse
      // the widest per-column scan side decides the fire gate
      maxScan = cols.map(c => (undecided ++
        (allTrue -- cov.coveredByColumn(c))).size).max
      if liveFiles.nonEmpty && maxScan <= liveFiles.size * MaxScanFraction
      plan <- filteredRewrite(spark, root, hfs.dataSchema, mtime, cov,
        agg, pairs, cond, allTrue, undecided, liveRaw)
    } yield plan

  private def filteredRewrite(spark: SparkSession, rootPath: String,
      dataSchema: org.apache.spark.sql.types.StructType, mtime: Long,
      cov: Coverage, agg: Aggregate,
      pairs: Seq[(Alias, AttributeReference)], cond: Expression,
      allTrue: Set[String], undecided: Set[String],
      liveRaw: Seq[String]): Option[LogicalPlan] = {
    val byName = pairs.map(p => p._2.name -> p._2).toMap
    val cols = byName.keys.toSeq.sorted
    val plans: Map[String, LogicalPlan] = cols.flatMap { c =>
      filteredCountPlan(spark, rootPath, dataSchema, mtime, byName(c), cond,
        cov, allTrue, undecided, liveRaw).map(c -> _)
    }.toMap
    if (plans.size != cols.size) return None
    val outAttr: Map[String, Attribute] = plans.map { case (c, p) =>
      c -> p.output.head }
    if (outAttr.values.exists(_.dataType != LongType)) return None
    val joined = cols.map(plans).reduceLeft[LogicalPlan] { (l, r) =>
      Join(l, r, Inner, None, JoinHint.NONE) // 1×1 rows
    }
    val out = pairs.map { case (orig, a) =>
      Alias(outAttr(a.name), orig.name)(exprId = orig.exprId): NamedExpression
    }
    if (out.zip(agg.aggregateExpressions)
        .exists { case (n, o) => n.dataType != o.dataType }) return None
    Some(Project(out, joined))
  }

  /** One column's filtered COUNT(DISTINCT) plan: dictionary arrays of
    * the (all-true ∩ covered) files ∪ one pruned scan of the
    * undecided / uncovered-all-true files with the ORIGINAL filter
    * re-applied (attributes re-resolved by name against the fresh
    * scan). Built over the anchor's one sidecar frame and the
    * coverage's recorded file spellings, memoized per file split and
    * condition — driver-side planning only, no job. */
  private def filteredCountPlan(spark: SparkSession, rootPath: String,
      dataSchema: org.apache.spark.sql.types.StructType, mtime: Long,
      attr: AttributeReference, cond: Expression, cov: Coverage,
      allTrue: Set[String], undecided: Set[String],
      liveRaw: Seq[String]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col, count, explode}
    import org.apache.spark.sql.types._
    val covered = cov.coveredByColumn(attr.name)
    val dictNorm = allTrue & covered
    val scanNorm = undecided ++ (allTrue -- covered)
    servePlan(spark, rootPath, mtime,
        ("count", attr.name, attr.dataType, byName(cond), dictNorm, scanNorm)) {
      val arrAndDomain = attr.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(("valuesLong", "long"))
        case FloatType | DoubleType => Some(("valuesDouble", "double"))
        case StringType             => Some(("valuesStr", "string"))
        case _                      => None
      }
      arrAndDomain.map { case (arr, domain) =>
        val scanRaw = liveRaw.filter(f => scanNorm.contains(norm(f)))
        // the files as the sidecar spells them (they may differ from
        // the listing's)
        val dictSide = graft.sources.DictionaryIndex.sidecarFrame(spark, rootPath, mtime)
          .filter(col("column") === attr.name && col("covered") &&
            col("file").isin(dictNorm.toSeq.flatMap(cov.raw.get): _*))
          .select(explode(col(arr)).as("v"))
        val both =
          if (scanRaw.isEmpty) dictSide
          else dictSide.unionAll(scanOf(spark, rootPath, dataSchema, scanRaw, cond)
            .select(col(attr.name).cast(domain).as("v"))
            .filter(col("v").isNotNull))
        both.distinct().agg(count(col("v")).as("n"))
      }
    }
  }

  /** The ORIGINAL filter with its attributes unresolved by name: it
    * re-resolves against a fresh scan, and (free of the query's
    * expression ids) it keys the plan memo. */
  private def byName(cond: Expression): Expression = cond.transform {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
  }

  /** `scanRaw` read as the table, with the filter re-applied. */
  private def scanOf(spark: SparkSession, rootPath: String,
      dataSchema: org.apache.spark.sql.types.StructType, scanRaw: Seq[String],
      cond: Expression): org.apache.spark.sql.DataFrame =
    graft.sources.MicroBlockIndex
      .readFilesAsTable(spark, rootPath, scanRaw, Some(dataSchema))
      .filter(org.apache.spark.sql.graftbridge.ColumnBridge.column(byName(cond)))

  /** `SELECT DISTINCT col WHERE p` — the filtered serve's DISTINCT
    * twin (round 13 carried item), reusing the same tri-state
    * machinery as [[tryCountDistinctFiltered]]. Files PROVED
    * all-rows-match serve their dictionary value sets; all-false
    * files contribute nothing; the straddling minority unions in as
    * one pruned scan with the ORIGINAL filter. Null handling is the
    * one divergence from the count arm: an all-true file's NULLs PASS
    * the filter and belong in the DISTINCT output, so a dict-served
    * file must carry a KNOWN null count when the column is nullable —
    * files with unknown counts fall back to the scan side (which sees
    * their nulls natively) instead of refusing the serve, and any
    * dict-side positive count adds the one NULL row plain SQL would
    * return. Exact by construction; same COMPLETE-conversion and
    * [[MaxScanFraction]] gates. */
  private def tryDistinctValuesFiltered(spark: SparkSession,
      out: AttributeReference, child: LogicalPlan): Option[LogicalPlan] =
    for {
      GraftRule.Scan(Seq(cond), hfs, root) <- GraftRule.scanOf(child)
      if cond.deterministic
      if costOk(hfs, root)
      pred <- PredicateExtractor.convertComplete(cond)
      mtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Dict)
      cov = coverageFor(spark, root, mtime)
      liveRaw = hfs.location.inputFiles.toSeq
      liveFiles = liveRaw.map(norm).toSet
      if servable(mtime, cov, hfs)
      if cov.coveredByColumn.contains(out.name) &&
        !cov.mixedTypeColumns.contains(out.name)
      zoneMtime <- SidecarManifest.anchor(root, spark, SidecarManifest.Zone)
      if SidecarManifest.prunable(zoneMtime,
        ZoneMapPruneRule.liveStatsOf(hfs).valuesIterator.map(_._1))
      (allTrueRaw, allFalseRaw) = ZoneAggRule.triStateFor(
        spark, root, zoneMtime, pred)
      allTrue = allTrueRaw & liveFiles
      allFalse = allFalseRaw & liveFiles
      undecided = liveFiles -- allTrue -- allFalse
      covered = cov.coveredByColumn(out.name)
      dictFiles = (allTrue & covered).filter(f => !out.nullable ||
        cov.nullCountByFile.get((out.name, f)).exists(_ >= 0))
      scanFiles = undecided ++ (allTrue -- dictFiles)
      if liveFiles.nonEmpty && scanFiles.size <= liveFiles.size * MaxScanFraction
      needNull = out.nullable && dictFiles.exists(f =>
        cov.nullCountByFile.getOrElse((out.name, f), 0L) > 0)
      plan <- filteredDistinctPlan(spark, root, hfs.dataSchema, mtime,
        cov, out, cond, dictFiles, scanFiles, liveRaw, needNull)
    } yield Project(Seq(
      Alias(plan.output.head, out.name)(exprId = out.exprId)), plan)

  /** The filtered DISTINCT plan: dictionary arrays of the provably
    * all-match files ∪ one pruned scan (original filter re-applied,
    * NULLs KEPT — a surviving row's NULL is a distinct value here) ∪
    * the metadata NULL row when a dict-served file proves nulls,
    * deduplicated. Memoized like [[filteredCountPlan]]. */
  private def filteredDistinctPlan(spark: SparkSession, rootPath: String,
      dataSchema: org.apache.spark.sql.types.StructType, mtime: Long,
      cov: Coverage, out: AttributeReference, cond: Expression,
      dictFiles: Set[String], scanFiles: Set[String], liveRaw: Seq[String],
      needNull: Boolean): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col, explode}
    import org.apache.spark.sql.types._
    servePlan(spark, rootPath, mtime, ("distinct", out.name, out.dataType,
        byName(cond), dictFiles, scanFiles, needNull)) {
      val arrOpt = out.dataType match {
        case ByteType | ShortType | IntegerType | LongType => Some("valuesLong")
        case FloatType | DoubleType                        => Some("valuesDouble")
        case StringType                                    => Some("valuesStr")
        case _                                             => None
      }
      arrOpt.map { arr =>
        val scanRaw = liveRaw.filter(f => scanFiles.contains(norm(f)))
        val dictSide = graft.sources.DictionaryIndex.sidecarFrame(spark, rootPath, mtime)
          .filter(col("column") === out.name && col("covered") &&
            col("file").isin(dictFiles.toSeq.flatMap(cov.raw.get): _*))
          .select(explode(col(arr)).as("v0"))
          .select(col("v0").cast(out.dataType).as("v"))
        val withScan =
          if (scanRaw.isEmpty) dictSide
          else dictSide.unionAll(scanOf(spark, rootPath, dataSchema, scanRaw, cond)
            .select(col(out.name).cast(out.dataType).as("v")))
        withNull(spark, withScan, "v", out.dataType, needNull).distinct()
      }
    }.filter(p => p.output.size == 1 && p.output.head.dataType == out.dataType)
  }

  /** `df` plus, when `needNull`, the one NULL row plain SQL returns for
    * a column whose footer stats prove nulls (dictionaries hold none). */
  private def withNull(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      name: String, t: org.apache.spark.sql.types.DataType,
      needNull: Boolean): org.apache.spark.sql.DataFrame =
    if (!needNull) df
    else df.unionAll(spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name, t, nullable = true)))))

  /** The DISTINCT-values plan for one column: dictionary union + the
    * uncovered-file scan, cast to the query's type, plus a one-row
    * NULL relation when footer stats prove the table holds nulls. */
  private def distinctPlan(spark: SparkSession, rootPath: String, mtime: Long,
      out: AttributeReference, needNull: Boolean): Option[LogicalPlan] =
    servePlan(spark, rootPath, mtime, ("values", out.name, out.dataType, needNull)) {
      import org.apache.spark.sql.functions.col
      val values = graft.sources.DictionaryIndex.distinctValues(
        spark, dictAt(spark, rootPath, mtime), rootPath, out.name)
      Some(withNull(spark, values.select(col("v").cast(out.dataType).as(out.name)),
        out.name, out.dataType, needNull))
    }.filter(p => p.output.size == 1 && p.output.head.dataType == out.dataType)

  /** One column's COUNT(DISTINCT) plan over sidecar + uncovered scan. */
  private def countPlan(spark: SparkSession, rootPath: String, mtime: Long,
      column: String): Option[LogicalPlan] =
    servePlan(spark, rootPath, mtime, ("countAll", column)) {
      import org.apache.spark.sql.functions.{col, count}
      Some(graft.sources.DictionaryIndex.distinctValues(
        spark, dictAt(spark, rootPath, mtime), rootPath, column)
        .agg(count(col("v")).as("n")))
    }

  private def dictAt(spark: SparkSession, rootPath: String,
      mtime: Long): org.apache.spark.sql.Dataset[graft.sources.FileDict] = {
    import spark.implicits._
    graft.sources.DictionaryIndex.sidecarFrame(spark, rootPath, mtime).as[graft.sources.FileDict]
  }

  private def rewriteOnto(spark: SparkSession, rootPath: String, mtime: Long,
      cov: Coverage, agg: Aggregate,
      pairs: Seq[(Alias, String)]): Option[LogicalPlan] = {
    val cols = pairs.map(_._2).distinct
    val plans: Map[String, LogicalPlan] = cols.flatMap { c =>
      countPlan(spark, rootPath, mtime, c).map(c -> _)
    }.toMap
    if (plans.size != cols.size) return None
    // every per-column plan yields one row, one LongType column
    val outAttr: Map[String, Attribute] = plans.map { case (c, p) =>
      c -> p.output.head }
    if (outAttr.values.exists(_.dataType != LongType)) return None
    val joined = cols.map(plans).reduceLeft[LogicalPlan] { (l, r) =>
      Join(l, r, Inner, None, JoinHint.NONE) // 1×1 rows
    }
    val out = pairs.map { case (orig, c) =>
      Alias(outAttr(c), orig.name)(exprId = orig.exprId): NamedExpression
    }
    if (out.zip(agg.aggregateExpressions)
        .exists { case (n, o) => n.dataType != o.dataType }) return None
    Some(Project(out, joined))
  }
}
