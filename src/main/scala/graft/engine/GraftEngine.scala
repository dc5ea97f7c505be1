package graft.engine

import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD}
import org.apache.spark.sql.execution.columnar.DefaultCachedBatchSerializer
import org.apache.spark.sql.execution.datasources.{FileScanRDD, LogicalRelation}
import org.apache.spark.sql.graftbridge.PlanBridge
import graft.plans.{ColStats, GraftRule, IndexPruning, Pred, ZoneMapPruner}
import graft.sources.{BlockMeta, BlockStat, MicroBlockIndex}

/** The cache-aware micro-block engine — graft's counterpart of the
  * reference's `StorageEngineV5` (query_enginev5.py:17-304).
  *
  * Orchestration per query, same as the reference:
  *   1. zone-map pruning from the stats index → candidate blocks
  *   2. access logged (log + rolling history + scheduler signal)
  *   3. candidate blocks served from the LRU cache, misses loaded
  *   4. execution — here Catalyst/Tungsten instead of DuckDB
  *
  * Two serve paths:
  *   - `query` — reference-parity: the candidate blocks, resident or
  *     read on a miss, served as one plan leaf ([[serve]]). Right when
  *     a hot working set should stay pinned in executor memory across
  *     queries (the reference's whole point).
  *   - `queryDirect` — one pruned multi-file scan, no cache. Right for
  *     cold one-offs: parquet pushdown skips inside the files.
  */
final class GraftEngine(
    val spark: SparkSession,
    val tablePath: String,
    val table: String,
    cacheCapacity: Int = 64,
    markovOrder: Int = 1,
    logPath: Option[String] = None,
    missUnionMax: Int = 64) {

  /** The zone-map index, DISTRIBUTED: one row per (block × column),
    * persisted so pruning queries don't re-read footers. Only the
    * columns a predicate references collect to the driver, once each
    * ([[decisions]]); the rest stay in this Dataset. A `_graft_index`
    * sidecar that passes the SERVE-grade currency test
    * ([[graft.sources.SidecarManifest.current]]) is REUSED instead of
    * rebuilt — at millions of files that turns engine construction
    * from a full footer sweep into one metadata read. Serve-grade
    * because the engine SERVES blocks from index rows: a dead entry
    * would read a deleted file, an unknown live file would fall out
    * of every serve. Anything doubtful rebuilds. */
  val index: Dataset[BlockStat] = {
    import spark.implicits._
    import graft.sources.SidecarManifest
    val name = table // the closure must not capture the engine
    (if (SidecarManifest.current(spark, tablePath, SidecarManifest.Zone))
      MicroBlockIndex.load(spark, MicroBlockIndex.sidecarPath(tablePath))
        .map(_.copy(table = name))
    else MicroBlockIndex.build(spark, tablePath, table)).persist()
  }

  /** Persist this engine's index at the table's sidecar location, so
    * the NEXT engine over this table starts from the metadata read and
    * fresh sessions get transparent pruning with no engine at all
    * ([[graft.sources.MicroBlockIndex.saveSidecar]]). */
  def saveIndexSidecar(): Unit =
    MicroBlockIndex.saveSidecar(index, tablePath)

  /** Serve-layer advisories recorded for THIS table (round 16): what
    * one-time index/view investments the session's degraded serves
    * suggest — e.g. the high-cardinality COUNT(DISTINCT) fallback's
    * "build an AggView on this column" ([[graft.sources.Advisor]]). */
  def advisories: Seq[graft.sources.Advisor.Advisory] =
    graft.sources.Advisor.advisories(Some(tablePath))

  // Building an engine REGISTERS its index with the transparent
  // optimizer rule: when the session has GraftExtensions installed,
  // plain spark.sql / DataFrame queries over this table path get
  // file-level zone-map pruning and the Sort+Limit top-k cut with no
  // engine call in the query path (the rule is session-guarded, so a
  // later session's engine simply re-registers). Results never change
  // — the rule only shrinks file lists conservatively. The engine
  // decides over the same driver snapshot of its index
  // ([[graft.plans.ZoneSnapshot]]): a column is collected once, the
  // first time a predicate references it (one metadata-scale job per
  // first-seen column set); every later decision over it launches none.
  private val zone = graft.plans.ZoneMapPruneRule.register(tablePath, index.toDF())

  /** Per-block serving metadata (id, file, row range) — ONE small row
    * per block, column-count-independent, the driver-side footprint the
    * LRU cache / access log / prefetcher orchestration needs. Bounded
    * by file-listing scale (which any driver pays anyway). */
  val blocks: Seq[BlockMeta] = {
    import org.apache.spark.sql.functions._
    index.groupBy("blockId", "file")
      .agg(first("rows").as("rows"),
        first("rowStart").as("rowStart"), first("rowEnd").as("rowEnd"))
      .collect()
      .map(r => BlockMeta(r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(_.blockId)
  }

  private val fileOf: Map[Int, String] =
    blocks.map(b => b.blockId -> b.file).toMap

  val cache = new BlockCacheManager[CachedBatch](cacheCapacity)
  val accessLog = new AccessLog(logPath)
  /** The serving model — swappable at runtime (shell `\model`, or a
    * [[PrefetchModels.load]] at startup); the service re-reads it
    * every cycle. Markov is the reference-parity default. */
  @volatile var prefetcher: Prefetcher = new MarkovPrefetcher(markovOrder)

  /** Cache entries are keyed by FILE, not block id: with the
    * micro-block layout one block == one file, and for generic
    * multi-row-group files all of a file's blocks share one entry —
    * per-block keys would read and cache a multi-row-group file once
    * PER block id (duplicate rows in the union, duplicate storage). */
  private[engine] def keyOf(id: Int): String = fileKey(fileOf(id))
  private def fileKey(file: String): String = s"file-$file"

  // the service's defaults: ungated (threshold 0.0) and retrained on
  // demand only (no tick cadence); a harness that measures the
  // reference's prefetch_threshold=0.6 gate builds its own service
  // (PrefetchLoopBench's markov_t60 arm)
  val service = new PrefetchService(accessLog, () => prefetcher, cache,
    loadBlock _, keyOf _, retrain = () => retrain())

  def blockIds: Seq[Int] = blocks.map(_.blockId)

  /** Block `id`'s file as a block RDD, not yet persisted. */
  def loadBlock(id: Int): RDD[CachedBatch] = slice(fileOf(id))

  /** Lazily-built DICTIONARY indices for the [[sql]] surface's
    * COUNT(DISTINCT)/DISTINCT serve, memoized per column for the
    * engine's lifetime (the workload-replay assumption every memo here
    * shares). One metadata-scale build job per first-seen column
    * batch; driver state is columns-scale (the datasets stay
    * distributed). */
  private val dictIdxMemo = scala.collection.concurrent.TrieMap
    .empty[String, Dataset[graft.sources.FileDict]]

  // column -> (anyNullPresent, unknown) from footer stats — one
  // metadata collect per column per engine (workload-replay memo)
  private val nullPresenceMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Boolean, Boolean)]

  private[engine] def dictIndexFor(columns: Seq[String])
      : Dataset[graft.sources.FileDict] = {
    val missing = columns.filterNot(dictIdxMemo.contains)
    if (missing.nonEmpty) {
      val built = graft.sources.DictionaryIndex
        .build(spark, tablePath, table, missing).persist()
      missing.foreach(c => dictIdxMemo.getOrElseUpdate(c,
        built.filter(org.apache.spark.sql.functions.col("column") === c)))
    }
    columns.map(dictIdxMemo).reduce(_ unionAll _)
  }

  /** Per-column zone stats keyed by block id. Blocks-scale — one small
    * row per block per referenced column, the scale [[blocks]] already
    * holds. A block with no row for a column is absent from its map. */
  private def statsOf(columns: Set[String]): Map[String, Map[Int, ColStats]] = {
    zone.ensure(spark, columns)
    columns.iterator.map(c => c -> zone.byBlockId(spark, c)).toMap
  }

  /** Per-block keep/skip decisions for a predicate: (block id, file,
    * rows, keep), in block order. [[ZoneMapPruner.mayMatch]] runs over
    * the memoized column stats on the driver — the same spec
    * [[IndexPruning.decide]] is property-tested against — so a new
    * literal over known columns costs no Spark job. A block with no
    * stats row for a referenced column keeps. */
  def decisions(pred: Pred): Seq[(Int, String, Long, Boolean)] = {
    val stats = statsOf(IndexPruning.refColumns(pred))
    blocks.map { b =>
      val m = stats.flatMap { case (c, byBlock) => byBlock.get(b.blockId).map(c -> _) }
      (b.blockId, b.file, b.rows, ZoneMapPruner.mayMatch(pred, m))
    }
  }

  /** Candidate blocks for a predicate (the kept block ids). */
  def candidates(pred: Pred): Seq[Int] =
    decisions(pred).collect { case (id, _, _, true) => id }

  /** [[candidates]] for a predicate set, collecting every column the set
    * references in one job up front. */
  def candidatesMany(preds: Seq[Pred]): Seq[Seq[Int]] = {
    statsOf(preds.flatMap(IndexPruning.refColumns).toSet)
    preds.map(candidates)
  }

  /** One resolved scan of the full table (file listing + schema paid
    * once per engine, not per read). */
  private lazy val rawTable: DataFrame = spark.read.parquet(tablePath)

  /** The engine's direct file reads, pinned to the table's schema: no
    * schema-inference job per read. */
  private def read(files: Seq[String]): DataFrame =
    spark.read.schema(rawTable.schema).parquet(files: _*)

  /** The relation [[rawTable]] reads. [[sql]] binds it as `table`, so
    * a node reading THIS relation, and only its columns (no metadata
    * column the serve leaf lacks), is this engine's table; any other
    * relation, even over the same files, is left alone. */
  private lazy val rawRelation = rawTable.queryExecution.analyzed
    .collectFirst { case l: LogicalRelation => l.relation }.get
  private def isOurRelation(l: LogicalRelation): Boolean =
    (l.relation eq rawRelation) && l.output.size == rawRelation.schema.size

  private def session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private val batches = new DefaultCachedBatchSerializer
  /** A file's path, the form the index and Spark's scan agree on. */
  private def pathOf(file: String): String = new org.apache.hadoop.fs.Path(file).toUri.getPath
  private val rowsOfFile: Map[String, Long] = blocks.groupMapReduce(_.file)(_.rows)(_ + _)

  /** The engine's block storage, planned ONCE: the rows of one scan of
    * the whole table pinned to [[rawTable]]'s schema, its output, and
    * each file's (partitions, bytes) in it. The scan is planned in a
    * child session whose file-open cost is the split size, so no
    * partition packs two files; a file Spark splits keeps all of its
    * pieces. A block is its file's slice of these rows ([[slice]]), so
    * warming or serving a block plans no query. */
  private lazy val blockScan
      : (RDD[InternalRow], Seq[Attribute], Map[String, (Set[Int], Long)]) =
    GraftRule.internally {
      val child = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) =>
        if (spark.conf.isModifiable(k)) child.conf.set(k, v) }
      child.conf.set("spark.sql.files.openCostInBytes",
        session.sessionState.conf.filesMaxPartitionBytes.toString)
      val qe = child.read.schema(rawTable.schema).parquet(tablePath).queryExecution
      val parts = qe.executedPlan.collectFirst { case s: FileSourceScanExec => s.inputRDD }
        .get.asInstanceOf[FileScanRDD].filePartitions
      require(parts.forall(_.files.map(_.filePath).distinct.length == 1),
        s"a partition of the block scan of $tablePath reads more than one file")
      val byFile = parts.groupBy(_.files.head.toPath.toUri.getPath).map { case (f, ps) =>
        f -> (ps.map(_.index).toSet, ps.flatMap(_.files).map(_.length).sum) }
      (qe.toRdd, qe.analyzed.output, byFile)
    }

  /** `file`'s slice of [[blockScan]] as cached batches — the compressed
    * columnar format of Spark's own cache, so a resident block costs
    * what a `Dataset.persist` of it would. Not persisted; runs nothing. */
  private def slice(file: String): RDD[CachedBatch] = {
    val (rows, output, files) = blockScan
    val parts = files.getOrElse(pathOf(file), throw new IllegalStateException(
      s"block file $file is not in the table scan of $tablePath"))._1
    batches.convertInternalRowToCachedBatch(PartitionPruningRDD.create(rows, parts),
      output, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK, session.sessionState.conf)
  }

  /** The serve leaf for a candidate block set: given the output a plan
    * expects, ONE leaf over the served files' rows, however many files.
    * Hits read their resident block. Misses read their unpersisted
    * slice and enter the LRU: all of them when at most `missUnionMax`
    * (reference behavior — materialized by this query's action), else
    * only the LRU's free space, since filling it to capacity would
    * evict the hot working set, this query's own hits included, for
    * entries nothing has read yet. Served bytes that fit one task
    * (`spark.sql.files.maxPartitionBytes`) run as one partition
    * reported as `SinglePartition`, so an aggregate over them needs no
    * exchange. The leaf's statistics are the served bytes and rows. */
  private def serve(ids: Seq[Int]): Seq[Attribute] => LogicalPlan = {
    val files = ids.map(fileOf).distinct // file-granular: see keyOf
    if (files.isEmpty) return out => LocalRelation(out)
    val (_, output, scanned) = blockScan
    val fetched = files.map(f => f -> cache.get(fileKey(f)))
    val misses = fetched.collect { case (f, None) => f }
    val admitted = (if (misses.size <= missUnionMax) misses
      else misses.takeRight(math.max(0, cacheCapacity - cache.size))).toSet
    val served = fetched.map {
      case (_, Some(hit)) => hit
      case (f, None) if admitted(f) => cache.put(fileKey(f), slice(f))
      case (f, None) => slice(f)
    }
    val conf = session.sessionState.conf
    val bytes = files.map(f => scanned(pathOf(f))._2).sum
    val one = bytes <= conf.filesMaxPartitionBytes
    val rows = batches.convertCachedBatchToInternalRow(
      spark.sparkContext.union(served), output, output, conf)
    val stats = Statistics(sizeInBytes = bytes, rowCount = Some(files.map(rowsOfFile).sum))
    out => LogicalRDD(out, if (one) rows.coalesce(1) else rows,
      if (one) SinglePartition else UnknownPartitioning(0))(session, Some(stats))
  }

  /** [[serve]] as a frame over the table's columns. */
  private def served(ids: Seq[Int]): DataFrame =
    PlanBridge.ofRows(spark, serve(ids)(blockScan._2.map(_.newInstance())))

  /** Reference-parity query path (prune → log → cache → execute). */
  def query(pred: Pred): DataFrame = {
    val ids = candidates(pred)
    accessLog.log(table, ids,
      graft.plans.IndexPruning.refColumns(pred).toSeq.sorted)
    served(ids).filter(pred.toColumn)
  }

  /** Reference `microblock_reader.scan_range`: block-aligned scan of
    * the global row-offset range [rowStart, rowEnd] (inclusive,
    * 0-based; blocks ordered by blockId = write order, so offsets are
    * deterministic for a given layout). Serves every block whose row
    * interval overlaps the range — like the reference, whole row
    * groups, no trimming (microblock_reader.py:8-20) — through the
    * same log + cache path as predicate queries. */
  def scanRange(rowStart: Long, rowEnd: Long): DataFrame = {
    val ids = blocks
      .filter(b => b.rowStart <= rowEnd && rowStart <= b.rowEnd)
      .map(_.blockId)
    accessLog.log(table, ids)
    served(ids)
  }

  /** The block set provably containing the k extreme non-null values
    * of `colName` (largest when descending, smallest when ascending),
    * chosen from STATS ALONE by [[ZoneMapPruner.topKKept]] — the same
    * NaN-safe cut the transparent rule applies per file. On a table
    * clustered by `colName` this is O(k/rows-per-block) blocks; on an
    * unclustered column every block straddles theta and it degrades
    * gracefully to the full scan. Earlier rounds refined the set by
    * actually scanning prefix blocks for the observed k-th value —
    * strictly tighter, but it cost 1-2 extra data passes per query,
    * which at sf10 made the engine LOSE the wall-time A/B to a raw
    * full scan.
    *
    * Blocks with no index entry for the column at all (schema-evolved
    * files) are always scanned; a column with no stated block falls
    * back to the full block set (never a silently empty result).
    * `includeNullBlocks` keeps every block holding NULLs of the column
    * — needed when the caller's ordering puts NULLS FIRST, so null rows
    * themselves are in the top k. */
  private def topKBlockIds(colName: String, k: Int,
      ascending: Boolean, includeNullBlocks: Boolean): Seq[Int] = {
    val stats = statsOf(Set(colName))(colName)
    ZoneMapPruner.topKKept(stats.toSeq, k, ascending, includeNullBlocks) match {
      case Some(kept) => blockIds.filter(id => kept(id) || !stats.contains(id))
      case None => blockIds
    }
  }

  /** Zone-map-assisted TOP-K on `colName` — largest values by default,
    * smallest with `ascending=true`. NULLs are excluded (matching
    * DuckDB's default NULLS LAST in both directions, past any real
    * top-k). `tieBreak` columns make the returned k rows deterministic.
    * See [[topKBlockIds]] for the scan-set contract. */
  def topK(colName: String, k: Int, tieBreak: Seq[String] = Nil,
      ascending: Boolean = false): DataFrame =
    topKOver(colName, k, tieBreak, ascending)(served)

  /** The top-k block set, logged, read by `frame` and cut to k rows. */
  private def topKOver(colName: String, k: Int, tieBreak: Seq[String],
      ascending: Boolean)(frame: Seq[Int] => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k >= 1, "k must be >= 1")
    val ids = topKBlockIds(colName, k, ascending, includeNullBlocks = false)
    accessLog.log(table, ids, Seq(colName))
    val primary = if (ascending) col(colName).asc else col(colName).desc
    frame(ids)
      .filter(col(colName).isNotNull)
      .orderBy(primary +: tieBreak.map(col(_).asc): _*)
      .limit(k)
  }

  /** [[topK]] served as ONE direct pruned scan, bypassing the
    * per-block LRU — the cold-one-off serve path ([[queryDirect]]'s
    * counterpart): materializing row-cache entries costs ~2x the scan
    * itself, which only pays off when the working set is re-read. */
  def topKDirect(colName: String, k: Int, tieBreak: Seq[String] = Nil,
      ascending: Boolean = false): DataFrame =
    topKOver(colName, k, tieBreak, ascending) { ids =>
      val files = ids.map(fileOf).distinct
      if (files.isEmpty) rawTable.limit(0) else read(files)
    }

  /** Single pruned scan (no per-block caching) — see class doc. */
  def queryDirect(pred: Pred): DataFrame = {
    val d = decisions(pred)
    accessLog.log(table, d.filter(_._4).map(_._1),
      graft.plans.IndexPruning.refColumns(pred).toSeq.sorted)
    val kept = d.filter(_._4).map(_._2).distinct
    val files = if (kept.isEmpty) d.map(_._2).distinct else kept
    read(files).filter(pred.toColumn)
  }

  /** Reference-parity SQL entry point (query_enginev5.py:236-304):
    * the user submits SQL against `table`; the engine extracts the
    * WHERE predicates from the analyzed plan, prunes + logs + caches
    * candidate blocks, then executes the SQL over the served blocks.
    * The SQL is analyzed ONCE, against the full table bound as the temp
    * view `table` (which stays bound afterwards); the result is that
    * analyzed plan with each of this engine's relations replaced by the
    * serve leaf, keeping the relation's own output. Subqueries keep
    * reading the full table. Serves all blocks when no predicate is
    * extractable (scan-all, like the reference's unparseable-SQL path).
    */
  def sql(query: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression}
    import org.apache.spark.sql.catalyst.plans.{
      Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical._
    rawTable.createOrReplaceTempView(table)
    val analyzedPlan = spark.sql(query).queryExecution.analyzed
    def isDirectScan(p: LogicalPlan): Boolean = p match {
      case SubqueryAlias(_, c) => isDirectScan(c)
      case v: View => isDirectScan(v.child)
      case Project(exprs, c) if exprs.forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.AttributeReference]) => isDirectScan(c)
      case _: LogicalRelation => true
      case _ => false
    }
    val scanCount = analyzedPlan.collect { case l: LogicalRelation => l }.size
    val allFilters = analyzedPlan.collect { case f: Filter => f }.size
    // Prune from every conjunct that provably bounds THIS table's raw
    // rows — including conjuncts of a WHERE above a join (a real user's
    // first join through the engine must not silently lose pruning).
    // Requirements, each load-bearing:
    //  - the table is scanned exactly ONCE (on a self-join the serving
    //    view is shared, so pruning for one side would starve the other;
    //    a filter in one union branch must not prune the other branch's
    //    scan — with a single occurrence, every Filter above the scan
    //    lies on its one root path, so AND-ing their conjuncts is sound)
    //  - only conjuncts whose attributes ALL come from this table's scan
    //    (checked against the scan's outputSet by exprId, so a derived
    //    alias shadowing a column name never qualifies)
    //  - the path from each Filter down to the scan crosses only
    //    row-preserving-or-sound nodes: Project/Filter/aliases freely;
    //    Aggregate/Distinct (a conjunct over pass-through grouping
    //    attributes commutes with grouping — pruned rows form only
    //    dropped groups); joins where this table's side is never
    //    null-extended BELOW the filter (inner/cross always; left
    //    outer/semi/anti only with the scan on the left, right outer
    //    only on the right — a filter like `x IS NULL` above an outer
    //    join WOULD pass on rows null-extended in place of pruned ones).
    //    Window/Limit/Sort below a filter disqualify: pruning would
    //    change frames or which rows the limit admits.
    val ourScans = analyzedPlan.collect {
      case l: LogicalRelation if isOurRelation(l) => l
    }
    val pred: Option[Pred] = ourScans match {
      case Seq(only) =>
        val ourOut = only.outputSet
        def containsOur(p: LogicalPlan): Boolean =
          p.collectFirst { case l: LogicalRelation if l eq only => l }.nonEmpty
        def safeBelow(p: LogicalPlan): Boolean = p match {
          case l: LogicalRelation => l eq only
          case SubqueryAlias(_, c) => safeBelow(c)
          case v: View => safeBelow(v.child)
          case Project(_, c) => safeBelow(c)
          case f: Filter => safeBelow(f.child)
          case a: Aggregate => safeBelow(a.child)
          case d: Distinct => safeBelow(d.child)
          case Join(l, r, jt, _, _) =>
            val ourLeft = containsOur(l)
            val sideOk = jt match {
              case Inner | Cross => true
              case LeftOuter | LeftSemi | LeftAnti => ourLeft
              case RightOuter => !ourLeft
              case _ => false
            }
            sideOk && safeBelow(if (ourLeft) l else r)
          case _ => false
        }
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        analyzedPlan.collect {
          case f: Filter if containsOur(f.child) && safeBelow(f.child) =>
            conjuncts(f.condition)
              .filter(_.references.subsetOf(ourOut))
              .flatMap(graft.plans.PredicateExtractor.convert)
        }.flatten.reduceOption(graft.plans.And(_, _))
      case _ => None
    }
    // ORDER BY col [ASC|DESC] LIMIT k over the bare table (q9 shape):
    // serve only the zone-map top-k block set — on a clustered column
    // that's O(k) blocks instead of a full scan. The SQL's own
    // Sort+Limit still runs over the served superset, so a block set
    // that proves conservative only costs extra scan, never rows.
    // NULLS FIRST orderings additionally pin every null-holding block
    // (those null rows ARE the top of the result).
    def topkIds: Option[Seq[Int]] = {
      import org.apache.spark.sql.catalyst.expressions.{
        Ascending, AttributeReference, IntegerLiteral, NullsFirst}
      // the analyzer wraps the Sort in an attribute-only Project when
      // the sort column isn't in the SELECT list — same scan underneath
      def stripProj(p: LogicalPlan): LogicalPlan = p match {
        case Project(es, c) if es.forall(
          _.isInstanceOf[AttributeReference]) => stripProj(c)
        case other => other
      }
      analyzedPlan match {
        case GlobalLimit(IntegerLiteral(k), LocalLimit(_, below))
            if k >= 1 && allFilters == 0 && scanCount == 1 =>
          stripProj(below) match {
            case Sort(order, true, child, _) if isDirectScan(child) =>
              order.head.child match {
                case a: AttributeReference =>
                  Some(topKBlockIds(a.name, k,
                    ascending = order.head.direction == Ascending,
                    includeNullBlocks = order.head.nullOrdering == NullsFirst))
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
    }
    // COUNT(DISTINCT col)[, COUNT(DISTINCT col2), …] and SELECT
    // DISTINCT col over the bare unfiltered table: served from
    // DICTIONARY PAGES ([[graft.sources.DictionaryIndex]]) —
    // metadata-scale reads instead of a data scan for
    // fully-dictionary-encoded columns, one pruned scan of just the
    // PLAIN-fallback files otherwise; always exact (the oracle gate
    // hash-checks the same machinery). The per-column index builds
    // lazily on first use. No blocks are touched, so nothing is
    // logged or cached — the serve IS the answer. The DISTINCT-values
    // arm is limited to Spark types whose cast from the physical
    // dictionary view is faithful (integral/fractional/string —
    // casting raw micros to a timestamp would shift the domain).
    def dictServe: Option[DataFrame] = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{
        AggregateExpression, Count}
      import org.apache.spark.sql.types._
      def faithful(t: DataType): Boolean = t match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | StringType => true
        case _ => false
      }
      def countDistinctOf(e: Expression): Option[(String, String)] = e match {
        case Alias(AggregateExpression(
            Count(Seq(a: AttributeReference)), _, true, None, _), nm) =>
          Some(nm -> a.name)
        case _ => None
      }
      if (allFilters != 0 || scanCount != 1) None
      else analyzedPlan match {
        case Aggregate(Nil, exprs, child, _)
            if isDirectScan(child) && exprs.nonEmpty &&
              exprs.forall(countDistinctOf(_).nonEmpty) =>
          val pairs = exprs.flatMap(countDistinctOf)
          val cols = pairs.map(_._2).distinct
          val counts = graft.sources.DictionaryIndex.countDistinctMany(
            spark, dictIndexFor(cols), tablePath, cols)
          val schema = StructType(pairs.map { case (nm, _) =>
            StructField(nm, LongType, nullable = false) })
          val row = org.apache.spark.sql.Row.fromSeq(
            pairs.map { case (_, c) => counts(c)._1 })
          Some(spark.createDataFrame(
            java.util.Collections.singletonList(row), schema))
        case Distinct(Project(Seq(a: AttributeReference), child))
            if isDirectScan(child) && faithful(a.dataType) =>
          // dictionaries hold NO nulls and the uncovered-file scan
          // filters them, so a table holding NULLs would lose the NULL
          // row plain SQL returns. Footer null counts decide it: serve
          // non-null values (+ a NULL row when any file proves nulls);
          // any UNKNOWN count on a nullable column falls through to
          // the normal SQL path instead of guessing.
          val idx = dictIndexFor(Seq(a.name))
          val (anyNull, unknown) = nullPresenceMemo.getOrElseUpdate(a.name,
            graft.sources.DictionaryIndex.nullPresence(idx, tablePath, a.name))
          if (unknown && a.nullable) None
          else {
            val vals = graft.sources.DictionaryIndex.distinctValues(
              spark, idx, tablePath, a.name)
            val nonNull = vals.select(org.apache.spark.sql.functions.col("v")
              .cast(a.dataType).as(a.name))
            if (!anyNull) Some(nonNull)
            else Some(nonNull.unionAll(spark.createDataFrame(
              java.util.Collections.singletonList(
                org.apache.spark.sql.Row(null)),
              StructType(Seq(StructField(a.name, a.dataType, nullable = true))))))
          }
        case _ => None
      }
    }
    dictServe match {
      case Some(served) => served
      case None =>
        val ids = pred.map(candidates)
          .orElse(if (allFilters == 0) topkIds else None)
          .getOrElse(blockIds)
        accessLog.log(table, ids,
          pred.map(p => graft.plans.IndexPruning.refColumns(p).toSeq.sorted)
            .getOrElse(Nil))
        // Serve the candidate superset WITHOUT re-applying the extracted
        // predicate — the SQL's own WHERE does the row-level filtering, so
        // a lossy extraction can never change results, only pruning.
        val leaf = serve(ids)
        PlanBridge.ofRows(spark, analyzedPlan.transform {
          case l: LogicalRelation if isOurRelation(l) => leaf(l.output)
        })
    }
  }

  /** Re-fit the CURRENT prefetch model class from everything logged so
    * far — model-agnostic (each class refits from the same access
    * sequence; the reference's retrain_model.py contract). */
  def retrain(): Unit = {
    val flat = accessLog.all.flatMap(_.blocks)
    if (flat.nonEmpty) prefetcher.fitSeq(spark, flat)
  }
}
