package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  And => CAnd, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

/** JOIN-DRIVEN file pruning — dynamic partition pruning at the FILE
  * level, for the layouts real fact tables have (key-clustered files,
  * no hive partitioning on the join key).
  *
  * The q11/q12 shape at 100 TB: a selective dim filter
  * (`s_nationkey = 3`) joins the fact on a key the fact is CLUSTERED
  * by. Spark's own DPP only cuts hive PARTITIONS; zone maps only cut
  * single-table predicates; so the fact scan reads every file even
  * though the dim's few surviving keys could refute most of them
  * file-by-file through the `_graft_dict` value sets. This arm closes
  * that: for an INNER / LEFT SEMI equi-join where the fact side's
  * root carries a dictionary index on the join key, the dim side is
  * EVALUATED AT PLAN TIME (the DPP trade — one bounded subquery job
  * buys a scan cut), its distinct surviving keys semi-join the
  * dictionary value sets ([[graft.sources.DictionaryIndex
  * .skippedFilesForKeys]] — one distributed decision, never a
  * per-key expression), and numeric key ranges add the zone-map
  * Between cut on top. The fact relation's file list shrinks; the
  * join stays, so a conservative cut only saves I/O, never rows.
  *
  * Round 13 widened the walk: EVERY equality conjunct contributes an
  * independent cut (composite-key joins union their cuts), both
  * sides of an INNER join are attempted, and the fact scan is found
  * THROUGH intermediate joins — so in the star shape
  * `fact ⋈ dim1 ⋈ dim2 ⋈ …`, every selective dim cuts fact files and
  * the cuts intersect (each outer join prunes the already-pruned
  * relation further as the rule visits its node). Soundness of the
  * through-join walk is argued at [[relationFor]].
  *
  * SOUNDNESS. A pruned file is one whose dictionary PROVES it holds
  * none of the dim's join-key values; its rows cannot produce INNER /
  * LEFT SEMI output (NULL keys never equi-match, and all-null covered
  * chunks have empty value sets ⇒ refuted ⇒ correct). Uncovered
  * files, unindexed columns, unsupported key domains all keep.
  *
  * REFUSAL GATES (plan-time work must be bounded):
  *   - dim side must carry a Filter/Aggregate or be a LocalRelation —
  *     an unfiltered dim is unselective, its key set refutes nothing;
  *   - every dim-side file relation must total ≤
  *     `spark.graft.joinPrune.maxDimBytes` (default 256 MB — the
  *     broadcastable class; bigger dims make the plan-time job a
  *     second fact scan);
  *   - the dim's distinct key count must be ≤
  *     `spark.graft.joinPrune.maxKeys` (default 10000) — checked with
  *     a LIMIT n+1 collect, so an oversized key set costs one bounded
  *     job and refuses, it never ships unbounded rows to the driver;
  *   - key domain must be integral / fractional / string (the
  *     faithful dictionary domains).
  *
  * Decisions are memoized per (fact root, column, canonicalized dim
  * plan) in a bounded LRU — the optimizer runs rules to fixpoint and
  * repeated query shapes must not re-run the dim job.
  */
object JoinFilePruning {

  private val MaxKeysDefault = 10000
  private val MaxDimBytesDefault = 256L * 1024 * 1024

  // (fact root, column, CANONICALIZED dim plan, dim key name) ->
  // (raw dict cut with each file's RECORDED (mtime, size), zone cut).
  // None = refused. The canonicalized plan itself is the key —
  // structural equality, never a collidable hash (a hash collision
  // here would reuse another dim's skip set: wrong rows, not slow
  // ones). Freshness is NOT cached — callers verify the recorded
  // stats against the live listing per query, so a file rewritten in
  // place between queries is never pruned from the memo. Bounded LRU.
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String, LogicalPlan, String),
        Option[(Map[String, (Long, Long)], Set[String])]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, LogicalPlan, String),
            Option[(Map[String, (Long, Long)], Set[String])]]): Boolean =
        size > 256
    })

  private[graft] def clearCache(): Unit = cache.clear()

  /** Decision jobs actually RUN (memo misses) — the observable the
    * round-14 cost-bound spec pins: a star whose first cut already
    * collapsed the kept set must not pay one job per remaining dim. */
  val decisionJobs = new java.util.concurrent.atomic.AtomicLong(0L)

  def tryPrune(spark: SparkSession, j: Join): Option[Join] = {
    if (j.condition.isEmpty) return None
    val eqs = splitAnd(j.condition.get).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
    }
    if (eqs.isEmpty) return None
    // LEFT SEMI preserves only matching LEFT rows -> only the left
    // side is prunable; INNER prunes either side — and round 13
    // prunes BOTH when both carry an indexed fact, instead of
    // stopping at the first cut.
    val (tryLeft, tryRight) = j.joinType match {
      case Inner    => (true, true)
      case LeftSemi => (true, false)
      case _        => return None
    }
    val newLeft =
      if (tryLeft) pruneSubtree(spark, j.left, j.right, eqs) else None
    val newRight =
      if (tryRight) pruneSubtree(spark, j.right, j.left, eqs) else None
    if (newLeft.isEmpty && newRight.isEmpty) None
    else Some(j.copy(left = newLeft.getOrElse(j.left),
      right = newRight.getOrElse(j.right)))
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => splitAnd(l) ++ splitAnd(r)
    case other      => Seq(other)
  }

  /** The file relation that OUTPUTS `attr`, reached through attr-only
    * Projects, Filters, and — round 13 — intermediate JOINS (the
    * multi-dim shape: `fact ⋈ dim1 ⋈ dim2` puts `Join(fact, dim1)`
    * between the outer join and the fact scan, so a top-level-only
    * walk never lets dim2's keys cut fact files). At a Join the walk
    * descends into whichever child outputs the attr.
    *
    * SOUNDNESS of pruning through an intermediate join, any join
    * type: the walk's path preserves `attr` unchanged (attr-only
    * Projects; Filters and Joins never transform attributes), so
    * every subtree output row DERIVED from a pruned fact row carries
    * a key value the dictionary proved absent from the dim's key set
    * — the outer equi-conjunct refutes it. Rows the pruning ADDS to
    * the subtree's output (an intermediate outer join null-padding a
    * now-unmatched preserved row; an anti join passing a left row
    * whose only matches were pruned) carry NULL in `attr` — or, for
    * semi/anti intermediates, could only surface rows from the side
    * that does NOT output `attr`, which resolution rules out here
    * because the outer condition references it. NULL never satisfies
    * the EqualTo conjunct, so added rows are refuted too. Either way
    * the outer INNER / LEFT SEMI output is unchanged. */
  private def relationFor(p: LogicalPlan,
      attr: AttributeReference): Option[LogicalRelation] = p match {
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      relationFor(pr.child, attr)
    case f: Filter => relationFor(f.child, attr)
    case jn: Join =>
      if (jn.left.outputSet.exists(_.exprId == attr.exprId))
        relationFor(jn.left, attr)
      else if (jn.right.outputSet.exists(_.exprId == attr.exprId))
        relationFor(jn.right, attr)
      else None
    case rel @ LogicalRelation(_: HadoopFsRelation, _, _, _, _)
        if rel.output.exists(_.exprId == attr.exprId) => Some(rel)
    case _ => None
  }

  private def rebuild(p: LogicalPlan,
      repl: Seq[(LogicalRelation, LogicalRelation)]): LogicalPlan = p match {
    case pr: Project => pr.copy(child = rebuild(pr.child, repl))
    case f: Filter   => f.copy(child = rebuild(f.child, repl))
    case jn: Join    => jn.copy(left = rebuild(jn.left, repl),
      right = rebuild(jn.right, repl))
    case r: LogicalRelation =>
      repl.find(_._1 eq r).map(_._2).getOrElse(r)
    case other => other
  }

  private def dimEligible(dim: LogicalPlan, maxBytes: Long): Boolean = {
    var selective = false
    var bytes = 0L
    var eligible = true
    dim.foreach {
      // DETERMINISM is load-bearing, not a nicety: the dim is
      // evaluated ONCE at plan time, and the join re-evaluates it at
      // runtime — a nondeterministic dim (rand() filter, TABLESAMPLE)
      // or an order-unstable row cut (LIMIT without a total order,
      // which Spark does not guarantee stable) could survive DIFFERENT
      // keys at runtime than the ones that decided the file cut:
      // silently missing join rows. Refuse all of them.
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit |
           _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit |
           _: org.apache.spark.sql.catalyst.plans.logical.Sample =>
        eligible = false
      case f: Filter        => selective = true
      case _: Aggregate     => selective = true
      case _: LocalRelation => selective = true
      case LogicalRelation(hfs: HadoopFsRelation, _, _, _, _) =>
        bytes += hfs.location.sizeInBytes
      case _: LogicalRelation => eligible = false // non-fs source: unknown size
      case _ => ()
    }
    if (dim.exists(_.expressions.exists(e => !e.deterministic)))
      eligible = false
    eligible && selective && bytes <= maxBytes
  }

  /** The physical dictionary domain for a join-key type: the cast that
    * lands scan-side keys in the same domain the value arrays hold —
    * the [[graft.sources.DictionaryIndex]] alignment contract. */
  private def keyDomain(t: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType => Some("long")
      case FloatType | DoubleType                        => Some("double")
      case StringType                                    => Some("string")
      case _                                             => None
    }
  }

  /** Prune one side of the join against the other: every equality
    * conjunct contributes an INDEPENDENT cut (each alone proves its
    * skipped files can produce no inner/semi output), cuts targeting
    * the same scan union, and distinct scans under the subtree prune
    * separately — the multi-eq and multi-dim shapes the round-12
    * first-pair-only walk left on the table. */
  private def pruneSubtree(spark: SparkSession, fact: LogicalPlan,
      dim: LogicalPlan, eqs: Seq[(AttributeReference, AttributeReference)])
      : Option[LogicalPlan] = {
    val maxDimBytes = conf(spark, "spark.graft.joinPrune.maxDimBytes",
      MaxDimBytesDefault)
    if (!dimEligible(dim, maxDimBytes)) return None
    // orient each equality so the probe attr lives on the fact side
    val oriented = eqs.flatMap { case (a, b) =>
      if (fact.outputSet.exists(_.exprId == a.exprId) &&
          dim.outputSet.exists(_.exprId == b.exprId)) Some((a, b))
      else if (fact.outputSet.exists(_.exprId == b.exprId) &&
          dim.outputSet.exists(_.exprId == a.exprId)) Some((b, a))
      else None
    }
    // COST BOUND (round 14): each conjunct's cut is a plan-time dim
    // job; a many-dim star must not pay them serially after the kept
    // set has already collapsed. Four brakes, all CONSERVATIVE (a
    // skipped cut only keeps more files):
    //   - BENEFIT GATE (round 15 — the measured cost router): when
    //     [[graft.sources.CostRouter]] holds calibrated constants for
    //     the fact's root, refuse the whole cut unless the decision
    //     job's estimated seconds undercut what a PERFECT cut could
    //     save (table_bytes / marginal_bw) — the r14 bench showed DPP
    //     LOSING at sf0.1 (0.35 s vs 0.27 s scan: the decision jobs
    //     cost more than a 17 MB table's scan). Uncalibrated roots
    //     keep r14 behavior, so gate fixtures stay served; every
    //     decision job observed here feeds the same per-root EWMAs
    //     the point router and the stats serves read.
    //   - short-circuit a relation whose remaining kept set is ≤ 1
    //     file — there is nothing left worth a decision job;
    //   - stop cutting a relation after two consecutive cuts added
    //     NOTHING new (the kept set stopped shrinking);
    //   - a hard wall-clock budget on this prune's NEW decision work
    //     (`spark.graft.joinPrune.maxDecisionMillis`, default 10 s;
    //     memoized cuts don't count — they're free).
    val deadline = System.nanoTime() +
      conf(spark, "spark.graft.joinPrune.maxDecisionMillis", 10000L) * 1000000L
    val grouped = scala.collection.mutable.ArrayBuffer
      .empty[(LogicalRelation, Set[String])]
    // relation identity -> consecutive cuts that added NOTHING —
    // including cuts that came back EMPTY (cutFor None): an
    // unprunable fact must dry out after two fruitless decision
    // jobs, not pay one per remaining conjunct
    val dryStreak = new java.util.IdentityHashMap[LogicalRelation, Integer]()
    oriented.foreach { case (factAttr, dimAttr) =>
      val relOpt = relationFor(fact, factAttr)
      val gIdx = relOpt.map(r => grouped.indexWhere(_._1 eq r)).getOrElse(-1)
      val remaining = relOpt.map { r =>
        r.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length -
          (if (gIdx >= 0) grouped(gIdx)._2.size else 0)
      }.getOrElse(Int.MaxValue)
      val dried = relOpt.exists(r =>
        Option(dryStreak.get(r)).exists(_.intValue >= 2))
      // the measured benefit gate (ski-rental): only active for
      // calibrated roots; a memoized cut's repeats invest eventually
      val worthIt = relOpt.forall { r =>
        val h = r.relation.asInstanceOf[HadoopFsRelation]
        ZoneMapPruneRule.tableRootOf(h).forall { root =>
          graft.sources.CostRouter
            .shouldInvest(root, "jdpp:" + factAttr.name,
              h.location.sizeInBytes)
            .getOrElse(true)
        }
      }
      if (relOpt.isDefined && remaining > 1 && !dried && worthIt &&
          System.nanoTime() < deadline) {
        val rel = relOpt.get
        var grew = false
        cutFor(spark, fact, dim, factAttr, dimAttr).foreach { case (r, s) =>
          grouped.indexWhere(_._1 eq r) match {
            case -1 =>
              grouped += ((r, s)); grew = s.nonEmpty
            case i =>
              val before = grouped(i)._2.size
              grouped(i) = (r, grouped(i)._2 ++ s)
              grew = grouped(i)._2.size > before
          }
        }
        dryStreak.put(rel,
          if (grew) Integer.valueOf(0)
          else Integer.valueOf(
            Option(dryStreak.get(rel)).map(_.intValue).getOrElse(0) + 1))
      }
    }
    if (grouped.isEmpty) return None
    val repl = grouped.toSeq.flatMap { case (rel, skip) =>
      val hfs = rel.relation.asInstanceOf[HadoopFsRelation]
      val current = hfs.location.inputFiles.toSeq
      val kept = current.filterNot(p =>
        skip.contains(ZoneMapPruneRule.normFile(p)))
      if (kept.size == current.size) None
      else ZoneMapPruneRule.prunedRelation(spark, rel, hfs, kept)
        .map(rel -> _)
    }
    if (repl.isEmpty) None else Some(rebuild(fact, repl))
  }

  /** One equality's cut: locate the scan that outputs `factAttr`,
    * evaluate the dim keys, return the (relation, sound skip set)
    * pair — None on any refusal gate. */
  private def cutFor(spark: SparkSession, fact: LogicalPlan,
      dim: LogicalPlan, factAttr: AttributeReference,
      dimAttr: AttributeReference): Option[(LogicalRelation, Set[String])] =
    for {
      rel <- relationFor(fact, factAttr)
      hfs = rel.relation.asInstanceOf[HadoopFsRelation]
      // resolves THROUGH a prior prune's leaf-file index to the table
      // root — consecutive cuts (the multi-dim star) compose
      root <- ZoneMapPruneRule.tableRootOf(hfs)
      domain <- keyDomain(factAttr.dataType)
      // the join key must be a DATA column (a hive-partition key has
      // no dictionary rows; the empty cut below would no-op anyway,
      // but refusing here skips the dim job)
      if hfs.dataSchema.fieldNames.contains(factAttr.name)
      dicts <- ZoneMapPruneRule.dictIndexFor(root, spark)
      // live per-file statuses from the relation's own FileIndex — no
      // extra filesystem work; the dictionary cut may only skip files
      // whose RECORDED (mtime, size) still matches (a file rewritten
      // in place under its name carries a DEAD value set — pruning on
      // it silently drops join rows). Verified per QUERY, outside the
      // decision memo.
      liveStats = ZoneMapPruneRule.liveStatsOf(hfs)
      cuts <- skipSetFor(spark, root, factAttr, dimAttr, dim,
        dicts, domain)
      // the ZONE-RANGE cut gets the same per-query freshness gate as
      // the dictionary cut (round 14): a fact file rewritten in place
      // under its name carries stats the zone frame never saw — only
      // files whose live mtime is ≤ the frame's anchor (registration
      // wall-clock / sidecar anchor) may be range-cut; no
      // anchor, no zone cut. The dictionary cut keeps its stricter
      // per-file (mtime, size) match.
      zoneAnchor = ZoneMapPruneRule.zoneAnchorFor(root, spark)
      zoneCut = zoneAnchor match {
        case None    => Set.empty[String]
        case Some(a) => cuts._2.filter(f => liveStats.get(f).exists(_._1 <= a))
      }
      skip = cuts._1.collect { case (f, (m, sz))
        if m >= 0 && liveStats.get(f).contains((m, sz)) => f }.toSet ++ zoneCut
      if skip.nonEmpty
    } yield (rel, skip)

  private def conf(spark: SparkSession, key: String, dflt: Long): Long =
    try spark.conf.get(key, dflt.toString).toLong
    catch { case scala.util.control.NonFatal(_) => dflt }

  /** (raw dictionary cut with recorded per-file stats, zone cut) for
    * one (fact root, key, dim) — memoized; the CALLER verifies
    * freshness against the live listing per query. */
  private def skipSetFor(spark: SparkSession, root: String,
      factAttr: AttributeReference, dimAttr: AttributeReference,
      dim: LogicalPlan, dict: DataFrame, domain: String)
      : Option[(Map[String, (Long, Long)], Set[String])] = {
    val key = (ZoneMapPruneRule.normFile(root), factAttr.name,
      dim.canonicalized, dimAttr.name)
    val hit = cache.get(key)
    if (hit != null) return hit
    decisionJobs.incrementAndGet()
    val decT0 = System.nanoTime()
    ZoneMapPruneRule.inRule.set(java.lang.Boolean.TRUE)
    val computed: Option[(Map[String, (Long, Long)], Set[String])] =
      try {
        import org.apache.spark.sql.functions.col
        val maxKeys = conf(spark, "spark.graft.joinPrune.maxKeys",
          MaxKeysDefault).toInt
        // the dim side, evaluated: distinct surviving join keys,
        // LIMIT-bounded so an unselective dim costs one bounded job
        // select by the ATTRIBUTE, not its name — dim outputs may
        // carry duplicate names after self-joins
        val keys = org.apache.spark.sql.graftbridge.PlanBridge
          .ofRows(spark, dim)
          .select(org.apache.spark.sql.graftbridge.ColumnBridge
            .column(dimAttr).cast(domain).as("v"))
          .filter(col("v").isNotNull)
          .distinct()
          .limit(maxKeys + 1)
          .collect()
        if (keys.length > maxKeys) None // unselective: refuse, memoized
        else {
          val spark2 = spark
          import spark2.implicits._
          val keysDf = domain match {
            case "long"   => keys.map(_.getLong(0)).toSeq.toDF("v")
            case "double" => keys.map(_.getDouble(0)).toSeq.toDF("v")
            case _        => keys.map(_.getString(0)).toSeq.toDF("v")
          }
          // the RAW cut plus each cut file's recorded (mtime, size) —
          // the caller applies the per-query freshness gate; frames
          // without the fields record (-1,-1), which never passes it
          val rawCut = graft.sources.DictionaryIndex
            .skippedFilesForKeys(dict, factAttr.name, keysDf)
            .map(ZoneMapPruneRule.normFile).toSet
          val dictCut: Map[String, (Long, Long)] =
            if (rawCut.isEmpty) Map.empty
            else if (!dict.columns.contains("fileMtime"))
              rawCut.map(f => f -> ((-1L, -1L))).toMap
            else dict
              .filter(col("column") === factAttr.name && col("covered"))
              .select(col("file"), col("fileMtime"), col("fileSize"))
              .collect()
              .map(r => ZoneMapPruneRule.normFile(r.getString(0)) ->
                ((r.getLong(1), r.getLong(2)))).toMap
              .filter { case (f, _) => rawCut(f) }
          // numeric keys add the zone-map range cut: a file whose
          // [min, max] misses [min(keys), max(keys)] entirely cannot
          // hold any of them — catches key-SORTED layouts whose files
          // fell back to PLAIN (no dictionaries)
          val zoneCut =
            if (keys.isEmpty || domain == "string") Set.empty[String]
            else {
              val nums = keys.map(r =>
                if (domain == "long") r.getLong(0).toDouble else r.getDouble(0))
              ZoneMapPruneRule.indexFor(root, spark).map { zi =>
                ZoneMapPruneRule.skipSet(Seq(root), Seq(zi),
                  Between(factAttr.name,
                    PredValue(nums.min), PredValue(nums.max)))
              }.getOrElse(Set.empty)
            }
          Some((dictCut, zoneCut))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      finally ZoneMapPruneRule.inRule.set(java.lang.Boolean.FALSE)
    // feed the shared per-root cost model: this decision's wall time
    // is exactly what the benefit gate prices on the next query
    graft.sources.CostRouter.observeDecision(
      root, (System.nanoTime() - decT0) / 1e9)
    cache.put(key, computed)
    computed
  }
}
