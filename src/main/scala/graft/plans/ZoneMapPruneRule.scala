package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, AttributeReference, IntegerLiteral, NullsFirst}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import graft.sources.{BlockStat, SidecarManifest}

/** Catalyst optimizer rule: transparent zone-map file pruning.
  *
  * The reference prunes inside its own engine entry point
  * (query_enginev5.py `query()`), so only SQL routed through the engine
  * benefits. Injected as an optimizer rule (via [[graft.GraftExtensions]]),
  * the same pruning applies to *any* Spark SQL/DataFrame query touching
  * a registered micro-blocked table: a Filter over a parquet relation
  * whose root path has a registered stats index is rewritten to scan
  * only the files whose min/max may satisfy the predicate. Spark's
  * native row-group pushdown then re-prunes inside the survivors.
  *
  * The registry holds the index as a DATAFRAME, not collected rows:
  * skip/keep is computed by [[IndexPruning]] as a distributed query
  * over the index table, and only the per-file SKIP list (bounded by
  * file count; empty when pruning can't help) ever reaches the driver
  * — at millions of files × dozens of columns the per-column stats
  * never leave the executors. Decisions are memoized per
  * (roots, predicate) in a bounded LRU so repeated optimizer passes
  * and repeated query shapes don't re-run the decision job.
  *
  * The rewrite only ever *shrinks the file list* — semantics are
  * preserved because the Filter stays in place and pruning is
  * conservative (may-match).
  */
case class ZoneMapPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ZoneMapPruneRule.inRule.get()) plan
    else plan.transform {
      // Multi-root relations prune against the UNION of the roots'
      // registered indices. This is safe with partially-indexed roots:
      // skipping is per-FILE and only ever drops a file every one of
      // whose indexed row groups fails may-match — a file no index knows
      // (unindexed root, stale index) never enters the skip set.
      case f @ Filter(cond, rel @ LogicalRelation(hfs: HadoopFsRelation, _, _, _, _)) =>
        val roots = hfs.location.rootPaths.toSeq.map(_.toString)
        val indices = roots.flatMap(p => ZoneMapPruneRule.indexFor(p, spark))
        val dicts = roots.flatMap(p => ZoneMapPruneRule.dictIndexFor(p, spark))
        val bloomRoots = roots.flatMap(p =>
          ZoneMapPruneRule.bloomColumnsFor(p, spark).map(cols => p -> cols))
        if (indices.isEmpty && dicts.isEmpty && bloomRoots.isEmpty) f
        else PredicateExtractor.convert(cond) match {
          case None => f
          case Some(pred) =>
            // Prune against the relation's CURRENT file listing:
            // a file the (possibly stale) index doesn't know is kept
            // conservatively; a known file is skipped only when EVERY
            // indexed row group in it is a may-match=false (a file
            // with one matching row group must stay). The zone-map,
            // dictionary and bloom cuts UNION: a file any of them can
            // refute cannot match (equality/IN conjuncts refute
            // through value sets / bloom membership where min/max see
            // nothing — hash-bucketed layouts, point lookups on
            // unclustered columns).
            val skip =
              (if (indices.isEmpty) Set.empty[String]
               else ZoneMapPruneRule.skipSet(roots, indices, pred)) ++
              (if (dicts.isEmpty) Set.empty[String]
               else ZoneMapPruneRule.dictSkipSet(roots, dicts, pred,
                 ZoneMapPruneRule.liveStatsOf(hfs))) ++
              (if (bloomRoots.isEmpty) Set.empty[String]
               else ZoneMapPruneRule.bloomSkipSet(spark, bloomRoots, pred))
            val current = hfs.location.inputFiles.toSeq
            val kept = current.filterNot(p => skip.contains(ZoneMapPruneRule.normFile(p)))
            if (kept.size >= current.size) f
            else ZoneMapPruneRule.prunedRelation(spark, rel, hfs, kept)
              .map(pruned => Filter(cond, pruned): LogicalPlan)
              .getOrElse(f)
        }

      // The q9 shape: ORDER BY col [ASC|DESC] LIMIT k over a bare
      // registered table — the zone-map TOP-K cut (the engine's
      // topKBlockIds contract, IndexPruning.topKSkippedFiles) applied
      // transparently, so the plain SQL surface gets the O(k)-blocks
      // serve the engine path already measured (BENCH_TOPK_SF100:
      // 1 file vs 256). The Sort+Limit stay in place over the shrunk
      // file list, so a conservative cut only costs extra scan, never
      // rows. Only attribute-preserving Projects may sit on the path
      // (a Filter below the Sort would change WHICH rows compete for
      // the top k, so any other node disqualifies the rewrite).
      case gl @ GlobalLimit(IntegerLiteral(k), ll @ LocalLimit(_, inner))
          if k >= 1 =>
        ZoneMapPruneRule.topKRewrite(spark, k, inner)
          .map(pruned => gl.copy(child = ll.copy(child = pruned)))
          .getOrElse(gl)

      // JOIN-DRIVEN file pruning (file-level DPP): a selective dim's
      // surviving join keys refute dictionary-indexed fact files —
      // the q11/q12 shape where single-table pruning sees nothing.
      // Recognition, soundness and refusal gates live in
      // [[JoinFilePruning]]; any failure leaves the join untouched.
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        try JoinFilePruning.tryPrune(spark, j).getOrElse(j)
        catch { case scala.util.control.NonFatal(_) => j }
    }
}

object ZoneMapPruneRule {

  /** Shrink a relation's listing to `kept`, PRESERVING hive-partition
    * discovery (round 13): an InMemoryFileIndex built from bare leaf
    * files infers an EMPTY partition spec while the copied relation
    * keeps its non-empty partitionSchema — the scan then fails
    * resolving partition values from empty rows (FAILED_READ_FILE /
    * AssertionError; reproduced before this fix). With `basePath` the
    * pruned index re-infers the same partition columns from the kept
    * files' paths; any mismatch with the relation's schema (exotic
    * typing, multi-root partitioned relations) REFUSES the prune —
    * correctness over the cut. Flat layouts take the old fast path.
    *
    * A pruned index's rootPaths are the kept LEAF FILES, which would
    * make the relation unrecognizable to any LATER cut (the
    * single-root gate refuses) — so each pruned index records its
    * ORIGINAL table root in [[prunedRoots]], and [[tableRootOf]]
    * resolves through it. That is what lets the join arm's multi-dim
    * cuts COMPOSE: the outer join prunes, the inner join's visit
    * prunes the already-pruned relation further. */
  private[graft] def prunedRelation(spark: SparkSession,
      rel: LogicalRelation, hfs: HadoopFsRelation,
      kept: Seq[String]): Option[LogicalRelation] = {
    val rootOpt = tableRootOf(hfs)
    val opts =
      if (hfs.partitionSchema.isEmpty) Map.empty[String, String]
      else rootOpt match {
        case Some(r) => Map("basePath" -> r)
        case None    => return None
      }
    val idx = new InMemoryFileIndex(
      spark, kept.map(new Path(_)), opts, Some(hfs.dataSchema))
    if (idx.partitionSchema.fields.map(f => (f.name, f.dataType)).toSeq ==
        hfs.partitionSchema.fields.map(f => (f.name, f.dataType)).toSeq) {
      rootOpt.foreach(r => prunedRoots.put(idx, r))
      Some(rel.copy(relation = hfs.copy(location = idx)(hfs.sparkSession)))
    } else None
  }

  /** pruned FileIndex -> the table root it was cut from. Weakly held;
    * keyed by InMemoryFileIndex EQUALITY (root paths) — safe here,
    * unlike the verdict memos, because the value is a pure function
    * of the key's root paths: an equals-hit from a different index
    * instance over the same leaf files returns the same table root. */
  private val prunedRoots = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.execution.datasources.FileIndex, String]())

  /** The TABLE root of a relation: its single rootPath, or — when the
    * relation is the output of a previous [[prunedRelation]] cut and
    * its rootPaths are leaf files — the recorded original root. None
    * for genuine multi-root relations. */
  private[graft] def tableRootOf(hfs: HadoopFsRelation): Option[String] =
    Option(prunedRoots.get(hfs.location)).orElse {
      val roots = hfs.location.rootPaths
      if (roots.size == 1) Some(roots.head.toString) else None
    }
  // root path -> stats index DATAFRAME (distributed; registered explicitly)
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  // root path -> wall-clock time of the LAST register() call: the
  // freshness anchor for zone cuts off registered (non-sidecar)
  // frames. Registration is the caller's assertion that the frame
  // matches the on-disk state AT THAT MOMENT — a file whose live
  // mtime exceeds it may carry stats the frame never saw.
  private val regTimes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The newest moment up to which a zone frame for `rootPath` is
    * known good: the register() wall-clock for an in-session
    * registered frame, else the `_graft_index` sidecar's anchor.
    * None = no anchor — value-grade consumers (the join arm's
    * zone-range cut) must then refuse rather than trust an unanchored
    * frame against files that may have been rewritten in place. */
  private[plans] def zoneAnchorFor(rootPath: String,
      session: SparkSession): Option[Long] = {
    val registered = indexFor(rootPath).filter(_.sparkSession eq session)
    val regTime =
      if (registered.isEmpty) None
      else {
        val cheap = normFile(rootPath)
        Option(regTimes.get(cheap)).orElse(
          if (cheap.startsWith("/")) None
          else Option(regTimes.get(norm(rootPath)))).map(_.longValue)
      }
    regTime.orElse(SidecarManifest.anchor(rootPath, session, SidecarManifest.Zone))
  }

  // root path -> DICTIONARY index DataFrame (graft.sources.DictionaryIndex
  // rows: per-(file, column) exact value sets) — the equality/IN cut
  private val dictRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Re-entrancy guard: the skip-set computation is itself a Spark
    * query that passes through this optimizer rule on the same thread;
    * it must plan as-is (its Filters are over the index, whose root is
    * not meaningfully prunable) rather than trigger nested decision
    * jobs. */
  private[plans] val inRule: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Bounded memo of skip lists per (sorted roots, predicate): the
    * decision job runs once per distinct query shape, not once per
    * Filter per optimizer pass. Cleared on (re/un)registration so a
    * refreshed index takes effect immediately. */
  private val decisionCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Pred), Set[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Pred), Set[String]]): Boolean = size > 512
    })

  /** Rewrite `inner` (the plan under LocalLimit) when it is
    * [attr-only Projects]* → Sort(global) → [attr-only Projects]* →
    * a registered parquet relation, and the sort's FIRST key is a bare
    * column of that relation: shrink the relation's file list to the
    * stats-proven top-k candidates. None = shape doesn't match, or the
    * index can't prove a cut. */
  private[plans] def topKRewrite(
      spark: SparkSession, k: Int, inner: LogicalPlan): Option[LogicalPlan] = {
    def attrOnly(p: Project): Boolean =
      p.projectList.forall(_.isInstanceOf[AttributeReference])
    def belowSort(sortKey: AttributeReference, ascending: Boolean,
        nullsFirst: Boolean, q: LogicalPlan): Option[LogicalPlan] = q match {
      case p: Project if attrOnly(p) =>
        belowSort(sortKey, ascending, nullsFirst, p.child).map(c => p.copy(child = c))
      case rel @ LogicalRelation(hfs: HadoopFsRelation, _, _, _, _)
          if rel.output.exists(_.exprId == sortKey.exprId) =>
        val roots = hfs.location.rootPaths.toSeq.map(_.toString)
        val indices = roots.flatMap(p => indexFor(p, spark))
        if (indices.isEmpty) None
        else {
          val skip = topKSkipSet(roots, indices, sortKey.name, k, ascending, nullsFirst)
          if (skip.isEmpty) None
          else {
            val current = hfs.location.inputFiles.toSeq
            val kept = current.filterNot(p => skip.contains(normFile(p)))
            if (kept.size >= current.size) None
            else prunedRelation(spark, rel, hfs, kept)
          }
        }
      case _ => None
    }
    inner match {
      case p: Project if attrOnly(p) =>
        topKRewrite(spark, k, p.child).map(c => p.copy(child = c))
      case s @ Sort(order, true, child, _) if order.nonEmpty =>
        order.head.child match {
          case a: AttributeReference =>
            belowSort(a, order.head.direction == Ascending,
                order.head.nullOrdering == NullsFirst, child)
              .map(c => s.copy(child = c))
          case _ => None
        }
      case _ => None
    }
  }

  /** Memoized top-k skip sets, same cache discipline as [[skipSet]]. */
  private val topkCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String, Int, Boolean, Boolean), Set[String]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Int, Boolean, Boolean), Set[String]])
          : Boolean = size > 512
    })

  private def topKSkipSet(roots: Seq[String], indices: Seq[DataFrame],
      colName: String, k: Int, ascending: Boolean, nullsFirst: Boolean): Set[String] = {
    val key = (roots.map(normFile).sorted.mkString("\u0000"),
      colName, k, ascending, nullsFirst)
    val hit = topkCache.get(key)
    if (hit != null) hit
    else {
      inRule.set(java.lang.Boolean.TRUE)
      val skip =
        try {
          val index = indices.reduce(_ unionAll _)
          IndexPruning.topKSkippedFiles(index, colName, k, ascending, nullsFirst)
            .map(normFile).toSet
        } finally inRule.set(java.lang.Boolean.FALSE)
      topkCache.put(key, skip)
      skip
    }
  }

  private[graft] def skipSet(
      roots: Seq[String], indices: Seq[DataFrame], pred: Pred): Set[String] = {
    val key = (roots.map(normFile).sorted.mkString("\u0000"), pred)
    val hit = decisionCache.get(key)
    if (hit != null) hit
    else {
      inRule.set(java.lang.Boolean.TRUE)
      val skip =
        try {
          val index = indices.reduce(_ unionAll _)
          IndexPruning.skippedFiles(index, pred).map(normFile).toSet
        } finally inRule.set(java.lang.Boolean.FALSE)
      decisionCache.put(key, skip)
      skip
    }
  }

  /** The equality/IN conjuncts a dictionary can refute files by. Sound
    * because [[PredicateExtractor.convert]] yields a WEAKENING of the
    * original condition (dropped conjuncts only keep more) and every
    * top-level AND-conjunct is implied by the whole condition — a file
    * refuted by any one conjunct cannot match. An OR conjunct whose
    * every branch is an equality/IN on ONE shared column is the same
    * as an IN over the combined values (`k = 3 OR k = 5` ≡
    * `k IN (3, 5)` — users write both spellings, and Spark does not
    * normalize the two-branch case), so it refutes too; mixed-column
    * ORs are not walked (refuting them needs a per-file intersection
    * across columns — the rare case is not worth the decision job). */
  private[plans] def eqLeaves(p: Pred): Seq[(String, Seq[PredValue])] = p match {
    case And(l, r)                => eqLeaves(l) ++ eqLeaves(r)
    case Cmp("=", c, v)           => Seq(c -> Seq(v))
    case In(c, vs) if vs.nonEmpty => Seq(c -> vs)
    case o: Or                    => orEq(o).toSeq
    case _                        => Nil
  }

  /** An OR tree as one same-column IN, when that's what it is. */
  private def orEq(p: Pred): Option[(String, Seq[PredValue])] = p match {
    case Or(l, r) =>
      for { (cl, vl) <- orEq(l); (cr, vr) <- orEq(r); if cl == cr }
        yield (cl, vl ++ vr)
    case Cmp("=", c, v)           => Some(c -> Seq(v))
    case In(c, vs) if vs.nonEmpty => Some(c -> vs)
    case _                        => None
  }

  /** Memoized RAW dictionary cuts with each cut file's RECORDED
    * (mtime, size) — freshness is verified per CALL against the live
    * listing, never cached: a file rewritten in place between queries
    * would otherwise be pruned on its dead value set from the memo
    * (round-13 regression test pins exactly this). */
  private val dictDecisionCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Pred), Map[String, (Long, Long)]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Pred), Map[String, (Long, Long)]])
          : Boolean = size > 512
    })

  /** The dictionary cut, verified against the caller's live per-file
    * statuses: only files whose recorded (mtime, size) still matches
    * may be skipped; entries predating the fields — or index frames
    * without them — skip nothing. */
  private[graft] def dictSkipSet(roots: Seq[String], dicts: Seq[DataFrame],
      pred: Pred, liveStats: Map[String, (Long, Long)]): Set[String] = {
    val leaves = eqLeaves(pred)
    if (leaves.isEmpty) return Set.empty
    val key = (roots.map(normFile).sorted.mkString("\u0000"), pred)
    val hit = dictDecisionCache.get(key)
    val raw =
      if (hit != null) hit
      else {
        inRule.set(java.lang.Boolean.TRUE)
        val cut =
          try {
            val index = dicts.reduce(_ unionAll _)
            val cutFiles = leaves.flatMap { case (column, values) =>
              graft.sources.DictionaryIndex.skippedFilesEq(index, column, values)
            }.toSet
            if (cutFiles.isEmpty) Map.empty[String, (Long, Long)]
            else if (!index.columns.contains("fileMtime"))
              cutFiles.map(f => normFile(f) -> ((-1L, -1L))).toMap
            else {
              import org.apache.spark.sql.functions.col
              index.filter(col("file").isin(cutFiles.toSeq: _*))
                .select(col("file"), col("fileMtime"), col("fileSize"))
                .collect()
                .map(r => normFile(r.getString(0)) ->
                  ((r.getLong(1), r.getLong(2)))).toMap
            }
          } finally inRule.set(java.lang.Boolean.FALSE)
        dictDecisionCache.put(key, cut)
        cut
      }
    raw.collect { case (f, (m, sz))
      if m >= 0 && liveStats.get(f).contains((m, sz)) => f }.toSet
  }

  // Roots OPTED IN to bloom probing, mapped to the columns worth
  // probing (empty set = any equality leaf). Unlike the index
  // registries this holds no DataFrame — BloomPruning is stateless
  // (the blooms live in the files) — but probing costs real metadata
  // I/O per new query shape, so it must never fire for arbitrary
  // relations: only explicitly registered roots and roots carrying a
  // `_graft_bloom` marker pay it, and decisions are memoized like the
  // rest.
  private val bloomRoots =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** Opt `rootPath` into transparent bloom-filter pruning for
    * equality/IN predicates (tables written with
    * `parquet.bloom.filter.enabled#<col>` — see
    * [[graft.sources.BloomPruning]]). `columns` restricts the probe to
    * the bloom'd columns (cheaper: other equality leaves skip the
    * metadata job); empty = probe every equality leaf. Roots without
    * blooms are safe (nothing refutes) but pay the probe job once per
    * query shape. Tables written with a
    * [[graft.sources.BloomPruning.writeMarker]] `_graft_bloom` marker
    * need no call at all — any session discovers them lazily. */
  def registerBloom(rootPath: String, columns: Seq[String] = Nil): Unit = {
    bloomRoots.put(norm(rootPath), columns.toSet)
    bloomDecisionCache.clear()
    bloomMarkerCache.clear()
  }

  def unregisterBloom(rootPath: String): Unit = {
    bloomRoots.remove(norm(rootPath))
    bloomDecisionCache.clear()
    bloomMarkerCache.clear()
  }

  /** The bloom-probe column set for `rootPath` (None = do not probe).
    * An explicit [[registerBloom]] wins; otherwise the root's
    * `_graft_bloom` marker is probed ONCE per (root, session) — the
    * same lazy-discovery contract as the index sidecars, minus any
    * staleness guard (blooms live in the data files themselves; an
    * appended file without blooms keeps conservatively). */
  private[graft] def bloomColumnsFor(rootPath: String,
      session: SparkSession): Option[Set[String]] = {
    val explicit =
      if (bloomRoots.isEmpty) None
      else {
        val cheap = normFile(rootPath)
        Option(bloomRoots.get(cheap)).orElse(
          if (cheap.startsWith("/")) None
          else Option(bloomRoots.get(norm(rootPath))))
      }
    explicit.orElse(discoverBloomMarker(rootPath, session))
  }

  // (root, session) → marker columns (None = probed, no marker there).
  // Memoized positive AND negative, so an unmarked table costs one
  // filesystem round-trip per session ever — this sits on the
  // planning hot path for every Filter over any parquet relation.
  private val bloomMarkerCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), Option[Set[String]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Option[Set[String]]]): Boolean =
        size > 256
    })

  private def discoverBloomMarker(rootPath: String,
      session: SparkSession): Option[Set[String]] = {
    val key = (normFile(rootPath), SidecarManifest.sessionKey(session))
    val hit = bloomMarkerCache.get(key)
    if (hit != null) hit
    else {
      // presence from the shared one-probe-per-table manifest; only a
      // PRESENT marker pays its own read
      val found =
        if (!SidecarManifest.has(rootPath, session, "_graft_bloom"))
          None
        else
          try graft.sources.BloomPruning.markerColumns(rootPath).map(_.toSet)
          catch { case scala.util.control.NonFatal(_) => None }
      bloomMarkerCache.put(key, found)
      found
    }
  }

  private val bloomDecisionCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Pred), Set[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Pred), Set[String]]): Boolean = size > 512
    })

  private[graft] def bloomSkipSet(spark: SparkSession,
      roots: Seq[(String, Set[String])], pred: Pred): Set[String] = {
    val leaves = eqLeaves(pred)
    if (leaves.isEmpty) return Set.empty
    val key = (roots.map { case (r, cols) =>
      normFile(r) + "#" + cols.toSeq.sorted.mkString(",")
    }.sorted.mkString("\u0000"), pred)
    val hit = bloomDecisionCache.get(key)
    if (hit != null) hit
    else {
      inRule.set(java.lang.Boolean.TRUE)
      val skip =
        try roots.flatMap { case (root, cols) =>
          leaves
            .filter { case (column, _) => cols.isEmpty || cols.contains(column) }
            .flatMap { case (column, values) =>
              graft.sources.BloomPruning.skippedFilesEq(spark, root, column, values)
            }
        }.map(normFile).toSet
        finally inRule.set(java.lang.Boolean.FALSE)
      bloomDecisionCache.put(key, skip)
      skip
    }
  }

  /** IDENTITY key wrapper for FileIndex-keyed memos. CRITICAL:
    * InMemoryFileIndex.equals compares ROOT PATHS only — a fresh index
    * over the same root (built after files changed on disk) would
    * equals-hit a stale entry in any hash map keyed by the index
    * itself, serving yesterday's statuses for today's files (caught
    * by the rewrite-in-place spec). Referential identity is the only
    * sound key for "statuses are immutable per instance" memos. */
  private[graft] final class IdKey(val ref: AnyRef) {
    override def hashCode(): Int = System.identityHashCode(ref)
    override def equals(o: Any): Boolean = o match {
      case k: IdKey => k.ref eq ref
      case _        => false
    }
  }

  // live per-file (norm path -> (mtime, size)) from a relation's own
  // FileIndex — statuses are immutable per index INSTANCE, memoized by
  // identity (bounded LRU) so the map is built once per query, not per
  // optimizer pass per arm
  private val liveStatsMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[IdKey, Map[String, (Long, Long)]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[IdKey, Map[String, (Long, Long)]]): Boolean =
        size > 32
    })

  private[graft] def liveStatsOf(hfs: HadoopFsRelation): Map[String, (Long, Long)] = {
    val key = new IdKey(hfs.location)
    val hit = liveStatsMemo.get(key)
    if (hit != null) hit
    else {
      val m = hfs.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => normFile(f.getPath.toString) ->
          ((f.getModificationTime, f.getLen))).toMap
      liveStatsMemo.put(key, m)
      m
    }
  }

  /** Fully qualify (scheme + absolute) then strip to the path part so
    * "target/x", "/root/repo/target/x" and "file:/root/repo/target/x"
    * all name the same index entry. */
  private[graft] def norm(p: String): String =
    try {
      val hp = new Path(p)
      val fs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.makeQualified(hp).toUri.getPath
    } catch { case _: Exception => p }

  /** Register a table's stats index (as built by
    * [[graft.sources.MicroBlockIndex.build]] or loaded from a persisted
    * index table); queries over `rootPath` will be file-pruned from
    * here on. */
  def register(rootPath: String, index: DataFrame): Unit = {
    regTimes.put(norm(rootPath), java.lang.Long.valueOf(System.currentTimeMillis()))
    val old = registry.put(norm(rootPath), index)
    // Lifecycle: the replaced entry's cached blocks are freed (it is
    // unreachable from the registry now), and entries whose owning
    // session has stopped are dropped — the session guard already
    // hides them from lookups, but hiding never freed them.
    if ((old ne null) && (old ne index)) unpersistQuietly(old)
    val it = registry.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.sparkSession.sparkContext.isStopped) it.remove()
    }
    decisionCache.clear()
    topkCache.clear()
    discoveryCache.clear()
    JoinFilePruning.clearCache()
  }

  private def unpersistQuietly(df: DataFrame): Unit =
    try if (!df.sparkSession.sparkContext.isStopped)
      df.unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Convenience overload for an already-collected (test-scale) index. */
  def register(rootPath: String, stats: Seq[BlockStat]): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    register(rootPath, spark.createDataset(stats).toDF())
  }

  def unregister(rootPath: String): Unit = {
    // NOT unpersisted: a live GraftEngine registers a toDF() view of
    // the index it still serves from — unregistering only removes the
    // transparent-rule binding, never the owner's cache
    registry.remove(norm(rootPath))
    decisionCache.clear()
    topkCache.clear()
    discoveryCache.clear()
  }

  /** Registry lookup on the PLANNING hot path: every Filter over any
    * file relation probes each root. The cheap scheme-strip covers
    * absolute paths (qualified registration keys are absolute path
    * parts); the filesystem-qualifying fallback runs only for
    * relative paths — an unregistered multi-thousand-file relation
    * must not pay a filesystem round-trip per root per optimizer
    * pass. */
  def indexFor(rootPath: String): Option[DataFrame] =
    if (registry.isEmpty) None
    else {
      val cheap = normFile(rootPath)
      Option(registry.get(cheap)).orElse(
        if (cheap.startsWith("/")) None
        else Option(registry.get(norm(rootPath))))
    }

  /** [[indexFor]] guarded to the PLANNING session: an index DataFrame
    * is bound to the SparkSession that built it, and engines
    * auto-register on construction ([[graft.engine.GraftEngine]]) —
    * a new session in the same JVM must see "unregistered", never a
    * stopped session's frame (running a query over it would throw
    * inside the optimizer rule and break unrelated queries).
    *
    * When no live registration exists, the path's SIDECAR
    * (`<root>/_graft_index`, [[graft.sources.MicroBlockIndex.saveSidecar]])
    * is probed ONCE per (root, session) — a fresh session reading a
    * previously indexed table gets transparent pruning with no engine
    * constructed and no register call. Guarded by the PRUNE-grade
    * currency test ([[SidecarManifest.prunable]]): the
    * sidecar counts only if its anchor is no older than the newest
    * data file under the root (a stale index could skip files
    * rewritten in place since it was built — unknown files are safe,
    * rewritten ones are not). Probe results (positive and negative)
    * are memoized, so an unindexed table costs one filesystem
    * round-trip per session ever. */
  def indexFor(rootPath: String,
      session: SparkSession): Option[DataFrame] =
    indexFor(rootPath).filter(_.sparkSession eq session)
      .orElse(discoverSidecar(rootPath, session))

  /** Convenience: load a table's persisted sidecar index and register
    * it for transparent pruning — the explicit form of the discovery
    * [[indexFor]] does lazily (use after [[graft.sources
    * .MicroBlockIndex.saveSidecar]] in the SAME session, where a
    * memoized earlier negative probe would otherwise hide the new
    * sidecar). Throws if the sidecar doesn't exist. */
  def registerSaved(tablePath: String,
      session: SparkSession = SparkSession.active): Unit =
    register(tablePath, session.read.parquet(
      graft.sources.MicroBlockIndex.sidecarPath(tablePath)).persist())

  /** Register a table's DICTIONARY index (as built by
    * [[graft.sources.DictionaryIndex.build]] or loaded from its
    * sidecar): equality/IN predicates over `rootPath` are file-pruned
    * by exact value sets from here on — alongside (and unioned with)
    * any zone-map cut. */
  def registerDict(rootPath: String, index: DataFrame): Unit = {
    val old = dictRegistry.put(norm(rootPath), index)
    if ((old ne null) && (old ne index)) unpersistQuietly(old)
    val it = dictRegistry.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.sparkSession.sparkContext.isStopped) it.remove()
    }
    dictDecisionCache.clear()
    discoveryCache.clear()
    JoinFilePruning.clearCache()
  }

  def unregisterDict(rootPath: String): Unit = {
    dictRegistry.remove(norm(rootPath))
    dictDecisionCache.clear()
    discoveryCache.clear()
    JoinFilePruning.clearCache()
  }

  /** [[registerSaved]]'s dictionary twin: load `<table>/_graft_dict`
    * ([[graft.sources.DictionaryIndex.saveSidecar]]) and register it. */
  def registerSavedDict(tablePath: String,
      session: SparkSession = SparkSession.active): Unit =
    registerDict(tablePath, session.read.parquet(
      graft.sources.DictionaryIndex.sidecarPath(tablePath)).persist())

  /** [[indexFor]]'s dictionary twin, same session guard and lazy
    * `_graft_dict` sidecar discovery with the same staleness rule. */
  def dictIndexFor(rootPath: String,
      session: SparkSession): Option[DataFrame] = {
    val registered =
      if (dictRegistry.isEmpty) None
      else {
        val cheap = normFile(rootPath)
        Option(dictRegistry.get(cheap)).orElse(
          if (cheap.startsWith("/")) None
          else Option(dictRegistry.get(norm(rootPath))))
      }
    registered.filter(_.sparkSession eq session)
      .orElse(discoverSidecar(rootPath, session, SidecarManifest.Dict))
  }

  /** Sidecar probe memo: (root, session-uuid, sidecar dir) → discovered
    * index (None = probed, nothing fresh there). Bounded LRU like the
    * decision caches; cleared on register/unregister so explicit
    * registration always wins. */
  private val discoveryCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String, String), Option[DataFrame]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, String), Option[DataFrame]]): Boolean =
        size > 256
    })

  // the PRUNE-grade currency test ([[graft.sources.SidecarManifest
  // .prunable]]) over a RECURSIVE listing (round 13: a top-level-only
  // listing reads nothing for hive-partitioned layouts, which would
  // trust a stale sidecar over rewritten NESTED files)
  private def discoverSidecar(rootPath: String,
      session: SparkSession, dirName: String = SidecarManifest.Zone): Option[DataFrame] = {
    val key = (normFile(rootPath), SidecarManifest.sessionKey(session), dirName)
    val hit = discoveryCache.get(key)
    if (hit != null) hit
    else {
      val found =
        try SidecarManifest.anchor(rootPath, session, dirName)
          .filter(a => SidecarManifest.prunable(a,
            graft.sources.MicroBlockIndex.listParquetFilesWithStatus(rootPath)
              .iterator.map(_._2)))
          .map(_ => session.read.parquet(
            SidecarManifest.location(rootPath, dirName)).persist())
        catch { case scala.util.control.NonFatal(_) => None }
      discoveryCache.put(key, found)
      found
    }
  }

  /** Cheap per-path normalization (no fs round-trip): strip any
    * scheme, collapse `.`/`..`/doubled slashes, drop trailing slashes
    * — so a non-canonical absolute spelling still matches a registered
    * key without the filesystem-qualifying fallback. */
  def normFile(p: String): String =
    try {
      val u = new java.net.URI(p).normalize()
      val path = if (u.getPath != null && u.getPath.nonEmpty) u.getPath else p
      if (path.length > 1 && path.endsWith("/")) path.stripSuffix("/") else path
    } catch { case _: Exception => p }
}
