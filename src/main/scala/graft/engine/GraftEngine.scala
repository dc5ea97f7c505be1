package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.plans.{ColStats, IndexPruning, Pred, ZoneMapPruner}
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
  *   - `query` — reference-parity: per-block cached DataFrames unioned.
  *     Right when a hot working set should stay pinned in executor
  *     memory across queries (the reference's whole point).
  *   - `queryDirect` — one pruned multi-file scan, no cache. Right for
  *     cold one-offs and very large candidate sets (a union of
  *     thousands of cached scans would bloat the plan).
  */
final class GraftEngine(
    val spark: SparkSession,
    val tablePath: String,
    val table: String,
    cacheCapacity: Int = 64,
    markovOrder: Int = 1,
    logPath: Option[String] = None,
    missUnionMax: Int = 64,
    planUnionMax: Int = 128) {

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
  // — the rule only shrinks file lists conservatively.
  graft.plans.ZoneMapPruneRule.register(tablePath, index.toDF())

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

  val cache = new BlockCacheManager(cacheCapacity)
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
  private[engine] def keyOf(id: Int): String = s"file-${fileOf(id)}"

  // confidence gate + scheduled retrain from session conf (reference
  // parity: prefetch_scheduler.py's prefetch_threshold=0.6 and
  // retrain_model.py's periodic refit). Defaults preserve the
  // ungated/on-demand behavior.
  val service = new PrefetchService(accessLog, () => prefetcher, cache,
    loadBlock _, keyOf _,
    threshold = confDouble("spark.graft.prefetch.threshold", 0.0),
    retrainEveryTicks =
      confDouble("spark.graft.prefetch.retrainTicks", 0.0).toInt,
    retrain = () => retrain())

  private def confDouble(key: String, dflt: Double): Double =
    try spark.conf.get(key, dflt.toString).toDouble
    catch { case scala.util.control.NonFatal(_) => dflt }

  def blockIds: Seq[Int] = blocks.map(_.blockId)

  def loadBlock(id: Int): DataFrame = read(Seq(fileOf(id)))

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

  /** Per-column zone-map stats on the DRIVER, keyed by block id and
    * collected once per referenced column for the engine's lifetime
    * (one metadata-scale job per first-seen column set; every later
    * decision over that column launches none). Blocks-scale — one small
    * row per block per referenced column, the scale [[blocks]] already
    * holds. A block with no row for a column is absent from its map. */
  private val colStatsMemo = scala.collection.concurrent.TrieMap
    .empty[String, Map[Int, ColStats]]

  private def statsOf(columns: Set[String]): Map[String, Map[Int, ColStats]] = {
    val missing = columns.filterNot(colStatsMemo.contains).toSeq
    if (missing.nonEmpty) {
      val byCol = index.filter(org.apache.spark.sql.functions.col("column")
        .isin(missing: _*)).collect().groupBy(_.column)
      missing.foreach(c => colStatsMemo.putIfAbsent(c,
        byCol.getOrElse(c, Array.empty[BlockStat])
          .map(s => s.blockId -> ZoneMapPruner.colStats(s)).toMap))
    }
    columns.iterator.map(c => c -> colStatsMemo(c)).toMap
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
    * once at construction, not per sql() call). */
  private lazy val rawTable: DataFrame = spark.read.parquet(tablePath)

  /** Every block/file read of the engine, pinned to the table's schema:
    * no schema-inference job per read, and every frame a serve unions
    * has the same columns even when later files add one. */
  private def read(files: Seq[String]): DataFrame =
    spark.read.schema(rawTable.schema).parquet(files: _*)

  /** `tablePath` in the fully-qualified form file-source relations
    * report their root paths in, so plan nodes can be matched back to
    * THIS engine's table inside multi-table queries. */
  private lazy val qualifiedTablePath: String = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Does this relation scan (only) files under this engine's table? */
  private def isOurRelation(
      l: org.apache.spark.sql.execution.datasources.LogicalRelation): Boolean =
    l.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        val roots = h.location.rootPaths
        roots.nonEmpty && roots.forall { rp =>
          val s = rp.toString
          s == qualifiedTablePath || s.startsWith(qualifiedTablePath + "/")
        }
      case _ => false
    }

  /** Empty frame with the table's schema (all-pruned / empty table). */
  private def emptyFrame: DataFrame = rawTable.limit(0)

  /** Serving frame for a candidate block set. Cache hits union their
    * per-block persisted scans (that is the cache paying off). Misses:
    * up to `missUnionMax` load + cache individually (reference
    * behavior — materialized by this query's action); beyond that,
    * ONE multi-file scan serves them all and the per-block entries
    * enter the LRU lazily for later queries. A union of thousands of
    * cold single-file relations is O(blocks) PLAN size — at real block
    * counts analysis time dwarfs the scan, which is why the mass-cold
    * path must collapse to a single relation. */
  private def serve(ids: Seq[Int]): DataFrame = {
    val files = ids.map(fileOf).distinct // file-granular: see keyOf
    // Plan-size ceiling: a union of N per-file relations costs O(N)
    // ANALYSIS work per query. Beyond `planUnionMax` candidate files,
    // one multi-file scan wins even if every block were cached —
    // Catalyst would spend longer on the plan than the executors on
    // the scan — so mega-candidate queries bypass the per-block cache
    // entirely (entries stay warm for the selective queries the cache
    // exists for).
    if (files.size > planUnionMax) return read(files)
    val fetched = files.map(f => f -> cache.get(s"file-$f"))
    val hitDfs = fetched.collect { case (_, Some(df)) => df }
    val missFiles = fetched.collect { case (f, None) => f }
    val missDfs =
      if (missFiles.isEmpty) Nil
      else if (missFiles.size <= missUnionMax)
        missFiles.map(f => cache.put(s"file-$f", read(Seq(f))))
      else {
        // warm only the LRU's FREE space — filling to capacity would
        // evict the hot working set, including this query's own hit
        // frames, in favor of entries nothing has materialized yet
        missFiles.takeRight(math.max(0, cacheCapacity - cache.size))
          .foreach(f => cache.put(s"file-$f", read(Seq(f))))
        Seq(read(missFiles))
      }
    (hitDfs ++ missDfs).reduceOption(_ unionAll _).getOrElse(emptyFrame)
  }

  /** Reference-parity query path (prune → log → cache → execute). */
  def query(pred: Pred): DataFrame = {
    val ids = candidates(pred)
    accessLog.log(table, ids,
      graft.plans.IndexPruning.refColumns(pred).toSeq.sorted)
    serve(ids).filter(pred.toColumn)
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
    serve(ids)
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
      ascending: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k >= 1, "k must be >= 1")
    val ids = topKBlockIds(colName, k, ascending, includeNullBlocks = false)
    accessLog.log(table, ids, Seq(colName))
    val primary = if (ascending) col(colName).asc else col(colName).desc
    serve(ids)
      .filter(col(colName).isNotNull)
      .orderBy(primary +: tieBreak.map(col(_).asc): _*)
      .limit(k)
  }

  /** [[topK]] served as ONE direct pruned scan, bypassing the
    * per-block LRU — the cold-one-off serve path ([[queryDirect]]'s
    * counterpart): materializing row-cache entries costs ~2x the scan
    * itself, which only pays off when the working set is re-read. */
  def topKDirect(colName: String, k: Int, tieBreak: Seq[String] = Nil,
      ascending: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k >= 1, "k must be >= 1")
    val ids = topKBlockIds(colName, k, ascending, includeNullBlocks = false)
    accessLog.log(table, ids, Seq(colName))
    val files = ids.map(fileOf).distinct
    val primary = if (ascending) col(colName).asc else col(colName).desc
    (if (files.isEmpty) emptyFrame else read(files))
      .filter(col(colName).isNotNull)
      .orderBy(primary +: tieBreak.map(col(_).asc): _*)
      .limit(k)
  }

  /** Per-column per-file histograms ([[graft.sources.BlockHistograms]]),
    * built lazily on first estimate request and memoized — ONE data
    * scan per column ever, the same pay-once contract as the zone-map
    * index. None when the column has no numeric zone-map bounds. */
  private val histMemo = scala.collection.concurrent.TrieMap
    .empty[String, Option[Map[String, graft.sources.FileHistogram]]]

  private def histogramsFor(colName: String)
      : Option[Map[String, graft.sources.FileHistogram]] =
    histMemo.getOrElseUpdate(colName,
      try Some(graft.sources.BlockHistograms
        .buildFromIndex(spark, tablePath, table, colName, index)
        .collect()
        .map(h => graft.plans.ZoneMapPruneRule.normFile(h.file) -> h).toMap)
      catch {
        // ANY failure of the lazy histogram build (non-numeric column,
        // Spark job failure, IO/schema error) degrades serving to the
        // reference-parity cache path instead of failing the query;
        // memoized so the broken build is attempted once, not per call
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"histogram build for '$colName' failed; serve-path " +
              s"estimation disabled for this column: $e")
          None
      })

  /** Histogram row estimate for `pred` over `files` (normalized paths).
    * Range predicates estimate by equi-width interpolation; AND takes
    * the min of its sides (a safe upper bound — never the independence
    * product, which can undershoot and flip a serve decision on
    * correlated columns), OR the capped sum. None = not estimable
    * (non-range shape, or no histogram for the column). */
  private def estimateRows(pred: Pred, files: Seq[String]): Option[Double] = {
    def forRange(c: String, lo: Double, hi: Double): Option[Double] =
      histogramsFor(c).map(m =>
        files.flatMap(m.get).map(
          graft.sources.BlockHistograms.estimateRange(_, lo, hi)).sum)
    pred match {
      case graft.plans.Between(c, lo, hi) =>
        for { l <- lo.num; h <- hi.num; e <- forRange(c, l, h) } yield e
      case graft.plans.Cmp(op, c, v) =>
        v.num.flatMap { x =>
          op match {
            case ">" | ">=" => forRange(c, x, Double.MaxValue)
            case "<" | "<=" => forRange(c, -Double.MaxValue, x)
            // "=" through a zero-width range would always read 0;
            // estimatePoint reads the containing bucket's density
            case "=" => histogramsFor(c).map(m =>
              files.flatMap(m.get).map(
                graft.sources.BlockHistograms.estimatePoint(_, x)).sum)
            case _ => None // != : min/max histograms can't bound it
          }
        }
      case graft.plans.And(l, r) =>
        (estimateRows(l, files), estimateRows(r, files)) match {
          case (Some(a), Some(b)) => Some(math.min(a, b))
          case (a, b) => a.orElse(b)
        }
      case graft.plans.Or(l, r) =>
        for { a <- estimateRows(l, files); b <- estimateRows(r, files) }
          yield a + b
      case _ => None
    }
  }

  /** Estimated fraction of the CANDIDATE blocks' rows `pred` keeps —
    * the number the serve-path choice runs on. None when the
    * histograms can't estimate this shape. */
  def estimateSelectivity(pred: Pred): Option[Double] = {
    val kept = decisions(pred).filter(_._4)
    val candRows = kept.map(_._3).sum
    if (candRows == 0L) return None
    estimateRows(pred, kept.map(t =>
        graft.plans.ZoneMapPruneRule.normFile(t._2)).distinct)
      .map(est => math.min(1.0, est / candRows))
  }

  /** Histogram-driven serve-path choice — the consumer the selectivity
    * estimator exists for. Zone maps decide WHICH blocks can match;
    * the histogram decides HOW to serve them: a DENSE read (the query
    * consumes most of the rows caching would pin) takes the LRU
    * [[query]] path — materializing the blocks pays off because the
    * working set is what gets re-read; a SPARSE read (few matching
    * rows inside candidate blocks — e.g. a narrow range on an
    * UNCLUSTERED column, where every zone straddles and pruning keeps
    * everything) serves as ONE direct pruned scan ([[queryDirect]]):
    * parquet row-group pushdown skips inside the files, and nothing
    * data-sized is persisted to serve a trickle of rows. Falls back to
    * the reference-parity cache path when the shape isn't estimable —
    * including every predicate over a STRING (or otherwise
    * non-numeric) column: histograms cover numeric/timestamp/date
    * columns only, so `estimateSelectivity` is None there and the
    * route is always the cache path (pinned in SelectivitySpec). */
  def queryAuto(pred: Pred, denseThreshold: Double = 0.25): DataFrame =
    servePath(pred, denseThreshold) match {
      case "direct" => queryDirect(pred)
      case _ => query(pred)
    }

  /** The route [[queryAuto]] takes for `pred` — exposed so harnesses
    * and logs report the decision the serve actually made, never a
    * re-derived copy of the threshold logic. */
  def servePath(pred: Pred, denseThreshold: Double = 0.25): String =
    estimateSelectivity(pred) match {
      case Some(sel) if sel < denseThreshold => "direct"
      case _ => "cache"
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
    * candidate blocks, then executes the SQL over the merged cached
    * blocks by re-binding the temp view. Falls back to a plain pruned
    * view when no predicate is extractable (scan-all, like the
    * reference's unparseable-SQL path).
    *
    * Thread safety: the method re-binds the session-global temp view
    * `table` to the pruned frame for the duration of the (eager)
    * analysis, so two concurrent sql() calls could otherwise race the
    * binding. Serialized through a JVM-global lock keyed by the
    * session-qualified view name, so even two ENGINES sharing one
    * SparkSession and table name coordinate.
    */
  def sql(query: String): DataFrame = sqlLock.synchronized {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression}
    import org.apache.spark.sql.catalyst.plans.{
      Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // bind the raw table so analysis can resolve columns
    val raw = rawTable
    raw.createOrReplaceTempView(table)
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
        serve(ids).createOrReplaceTempView(table)
        // spark.sql analyzes eagerly, so `out`'s plan is pinned to the
        // pruned binding; restore the full-table binding for later plain
        // spark.sql over `table` outside this engine call.
        val out = spark.sql(query)
        raw.createOrReplaceTempView(table)
        out
    }
  }

  private val sqlLock: Object =
    GraftEngine.viewLocks.computeIfAbsent(
      graft.sources.SidecarManifest.sessionKey(spark) + " " + table,
      _ => new Object)

  /** Re-fit the CURRENT prefetch model class from everything logged so
    * far — model-agnostic (each class refits from the same access
    * sequence; the reference's retrain_model.py contract). */
  def retrain(): Unit = {
    val flat = accessLog.all.flatMap(_.blocks)
    if (flat.nonEmpty) prefetcher.fitSeq(spark, flat)
  }
}

object GraftEngine {
  /** One lock per (SparkSession, view name): see [[GraftEngine.sql]].
    * Keyed by the per-session UUID ([[graft.sources.SidecarManifest
    * .sessionKey]]: identity hashes can collide across sessions and
    * would over-serialize unrelated engines). viewLocks grows by one
    * bare Object per live session×table — fine for this harness, a
    * long-lived multi-tenant service would want weak values here. */
  private val viewLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
