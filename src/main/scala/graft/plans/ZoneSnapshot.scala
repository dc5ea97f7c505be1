package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** One (block, column) zone-index entry on the driver: the pruner's
  * view plus the exact integral bounds and the per-file sum the
  * metadata serve trusts ([[graft.sources.BlockStat]] minLong, maxLong,
  * sumLong). */
final case class ZoneEntry(stats: ColStats, minLong: Option[Long],
    maxLong: Option[Long], sumLong: Option[Long])

/** One file's entries for one column, folded the way [[ZoneAggRule]]
  * serves them: rows covered, whether every null count is known and
  * their sum, the blocks whose exact (or lexical) bounds are missing
  * while the block is not all-null, the file-wide bounds and the
  * per-file sum. */
final case class FileAgg(rows: Long, nullsKnown: Boolean, nulls: Long,
    untrustedLong: Long, minLong: Option[Long], maxLong: Option[Long],
    sumLong: Option[Long], untrustedStr: Long,
    minStr: Option[String], maxStr: Option[String])

/** A zone index held on the DRIVER: every block of the index, and per
  * referenced column one [[ZoneEntry]] per block. Every zone decision
  * — file skips, top-k cuts, tri-states, metadata answers, the
  * engine's block pruning — runs here, over [[ZoneMapPruner]], so a
  * new literal launches no Spark job.
  *
  * A column is collected lazily, the first time a decision references
  * it; the first collect also brings the block list. Each collect is
  * ONE map-only job over the index (the block list rides it as one
  * row per block per partition). The footprint is blocks × referenced
  * columns — metadata-sized, the scale the file listing already is.
  *
  * The snapshot never refreshes: it describes one index generation.
  * The owners key it by that generation — a sidecar by its anchor
  * ([[ZoneSnapshot.ofSidecar]]), a registered frame by its
  * registration ([[ZoneMapPruneRule.register]]), an engine by its own
  * index — and drop it when the generation changes.
  */
final class ZoneSnapshot(load: SparkSession => DataFrame) {
  import ZoneSnapshot._

  /** (raw file, block id, rows, normalized file), one per block. */
  @volatile private var blocks: IndexedSeq[(String, Int, Long, String)] = null
  /** column -> entries aligned with [[blocks]]; null = no row. */
  @volatile private var columns = Map.empty[String, Array[ZoneEntry]]
  private val fileAggs = scala.collection.concurrent.TrieMap
    .empty[String, Map[String, FileAgg]]
  private val blockIdMaps = scala.collection.concurrent.TrieMap
    .empty[String, Map[Int, ColStats]]

  /** The failure of this generation's collect, rethrown by every
    * later [[ensure]]: an index that cannot be read at one generation
    * stays unreadable, so later queries fall back to the plain scan
    * without launching the failing job again. */
  @volatile private var failed: Throwable = null

  /** Collect every column of `cols` not yet on the driver (and the
    * block list on first use) in one job. */
  def ensure(spark: SparkSession, cols: Set[String]): Unit =
    if (blocks == null || !cols.forall(columns.contains)) synchronized {
      if (failed != null) throw failed
      val missing = cols.filterNot(columns.contains)
      val needBlocks = blocks == null
      if (needBlocks || missing.nonEmpty) {
        val rows =
          try GraftRule.internally(collectRows(conform(load(spark)), missing, needBlocks))
          catch {
            // a stopped session's failure says nothing of the index
            case scala.util.control.NonFatal(t) if !spark.sparkContext.isStopped =>
              failed = t
              throw t
          }
        if (needBlocks) {
          val seen = new java.util.LinkedHashMap[(String, Int), Long]()
          rows.foreach(r => seen.putIfAbsent((r.getString(0), r.getInt(1)), r.getLong(2)))
          val bs = IndexedSeq.newBuilder[(String, Int, Long, String)]
          seen.forEach((k, n) => bs += ((k._1, k._2, n, ZoneMapPruneRule.normFile(k._1))))
          blocks = bs.result()
        }
        val ord = ordinals
        val fresh = missing.iterator.map(c => c -> new Array[ZoneEntry](blocks.size)).toMap
        rows.foreach { r =>
          fresh.get(r.getString(3)).foreach { arr =>
            val i = ord.getOrElse((r.getString(0), r.getInt(1)), -1)
            if (i >= 0) arr(i) = entryOf(r)
          }
        }
        columns = columns ++ fresh
      }
    }

  private lazy val ordinals: Map[(String, Int), Int] =
    blocks.iterator.zipWithIndex.map { case (b, i) => (b._1, b._2) -> i }.toMap

  /** Normalized file -> the rows of its blocks. */
  def fileRows(spark: SparkSession): Map[String, Long] = {
    ensure(spark, Set.empty)
    blocks.groupMapReduce(_._4)(_._3)(_ + _)
  }

  /** Block ordinal -> the block's stats for `cols` (absent columns
    * left out, as [[ZoneMapPruner.mayMatch]] expects). */
  private def statsAt(cols: Seq[String], i: Int): Map[String, ColStats] =
    cols.iterator.flatMap(c => Option(columns(c)(i)).map(c -> _.stats)).toMap

  /** Per normalized file: (every block may match?, every block proved
    * all-true?) over the blocks of this index. */
  private def perFile(spark: SparkSession, pred: Pred,
      withAllMatch: Boolean): Map[String, (Boolean, Boolean)] = {
    val refs = IndexPruning.refColumns(pred).toSeq
    ensure(spark, refs.toSet)
    val out = scala.collection.mutable.HashMap.empty[String, (Boolean, Boolean)]
    blocks.indices.foreach { i =>
      val st = statsAt(refs, i)
      val keep = ZoneMapPruner.mayMatch(pred, st)
      val t = withAllMatch && ZoneMapPruner.allMatch(pred, st)
      val f = blocks(i)._4
      out.get(f) match {
        case None => out(f) = (keep, t)
        case Some((k, a)) => out(f) = (k || keep, a && t)
      }
    }
    out.toMap
  }

  /** (files, files with a block that may match `pred`). */
  def keptFiles(spark: SparkSession, pred: Pred): (Set[String], Set[String]) = {
    val v = perFile(spark, pred, withAllMatch = false)
    (v.keySet, v.collect { case (f, (true, _)) => f }.toSet)
  }

  /** Per-file tri-state of a COMPLETE predicate ([[PredicateExtractor
    * .convertComplete]]): (files whose every block proves all rows
    * match, files whose every block is refuted). */
  def triState(spark: SparkSession, pred: Pred): (Set[String], Set[String]) = {
    val v = perFile(spark, pred, withAllMatch = true)
    (v.collect { case (f, (_, true)) => f }.toSet,
      v.collect { case (f, (false, _)) => f }.toSet)
  }

  /** `column`'s entries as (normalized file, stats), one per block
    * that has a row for it. */
  def entries(spark: SparkSession, column: String): Seq[(String, ZoneEntry)] = {
    ensure(spark, Set(column))
    val arr = columns(column)
    blocks.indices.collect { case i if arr(i) != null => blocks(i)._4 -> arr(i) }
  }

  /** `column`'s stats keyed by block id — the engine's view (its block
    * ids are unique). */
  def byBlockId(spark: SparkSession, column: String): Map[Int, ColStats] = {
    ensure(spark, Set(column))
    blockIdMaps.getOrElseUpdate(column, {
      val arr = columns(column)
      blocks.indices.collect { case i if arr(i) != null => blocks(i)._2 -> arr(i).stats }.toMap
    })
  }

  /** Per normalized file, `column`'s entries folded for the metadata
    * serve. Files with no row for the column are absent. */
  def fileAgg(spark: SparkSession, column: String): Map[String, FileAgg] = {
    ensure(spark, Set(column))
    fileAggs.getOrElseUpdate(column, {
      val arr = columns(column)
      blocks.indices.filter(arr(_) != null).groupBy(blocks(_)._4).map { case (f, is) =>
        val es = is.map(arr(_))
        // a block with missing bounds is trusted only when all-null
        def untrusted(missing: ZoneEntry => Boolean): Long = es.count(e =>
          missing(e) && !e.stats.nullCount.exists(n => e.stats.rows.contains(n))).toLong
        f -> FileAgg(
          rows = es.map(_.stats.rows.get).sum,
          nullsKnown = es.forall(_.stats.nullCount.isDefined),
          nulls = es.flatMap(_.stats.nullCount).sum,
          untrustedLong = untrusted(e => e.minLong.isEmpty || e.maxLong.isEmpty),
          minLong = es.flatMap(_.minLong).minOption,
          maxLong = es.flatMap(_.maxLong).maxOption,
          // per-file sums are stamped identically on every block entry
          sumLong = es.flatMap(_.sumLong).maxOption,
          untrustedStr = untrusted(e => e.stats.minStr.isEmpty || e.stats.maxStr.isEmpty),
          minStr = es.flatMap(_.stats.minStr).reduceOption((a, b) =>
            if (ZoneMapPruner.u8cmp(a, b) <= 0) a else b),
          maxStr = es.flatMap(_.stats.maxStr).reduceOption((a, b) =>
            if (ZoneMapPruner.u8cmp(a, b) >= 0) a else b))
      }
    })
  }
}

object ZoneSnapshot {

  /** Back-fill the columns an index frame may predate (legacy
    * sidecars, hand-built frames) and fix the layout [[collectRows]]
    * reads by position. */
  private def conform(frame: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType,
      IntegerType, LongType, StringType}
    val have = frame.columns.toSet
    def opt(c: String, t: DataType) =
      (if (have(c)) col(c) else lit(null)).cast(t).as(c)
    frame.select(col("file"), col("blockId").cast(IntegerType).as("blockId"),
      col("rows").cast(LongType).as("rows"), col("column"),
      opt("minNum", DoubleType), opt("maxNum", DoubleType),
      opt("minStr", StringType), opt("maxStr", StringType),
      opt("nullCount", LongType), opt("nanRisk", BooleanType),
      opt("minLong", LongType), opt("maxLong", LongType), opt("sumLong", LongType))
  }

  /** One map-only job: the rows of `want`'s columns, plus (when
    * `blocks`) the first row each partition sees of every block. */
  private def collectRows(frame: DataFrame, want: Set[String],
      blocks: Boolean): Array[Row] =
    frame.rdd.mapPartitions { it =>
      val seen = new java.util.HashSet[(String, Int)]()
      it.filter(r => want.contains(r.getString(3)) ||
        (blocks && seen.add((r.getString(0), r.getInt(1)))))
    }.collect()

  private def entryOf(r: Row): ZoneEntry = {
    def o[T](i: Int)(get: Int => T): Option[T] = if (r.isNullAt(i)) None else Some(get(i))
    ZoneEntry(
      ColStats(o(4)(r.getDouble), o(5)(r.getDouble), o(6)(r.getString), o(7)(r.getString),
        o(8)(r.getLong).filter(_ >= 0), Some(r.getLong(2)), o(9)(r.getBoolean)),
      o(10)(r.getLong), o(11)(r.getLong), o(12)(r.getLong))
  }

  /** The files every one of whose blocks, across `snaps`, is refuted —
    * the zone cut the transparent rules apply. A file no snapshot
    * knows is never in it. */
  def skippedFiles(spark: SparkSession, snaps: Seq[ZoneSnapshot],
      pred: Pred): Set[String] = {
    val decided = snaps.map(_.keptFiles(spark, pred))
    decided.flatMap(_._1).toSet -- decided.flatMap(_._2)
  }

  /** The files a stats-only top-k cut ([[ZoneMapPruner.topKKept]]) can
    * prove irrelevant for `ORDER BY column LIMIT k` over the union of
    * `snaps`' blocks; a file with no entry for the column is never
    * cut. */
  def topKSkippedFiles(spark: SparkSession, snaps: Seq[ZoneSnapshot],
      column: String, k: Int, ascending: Boolean, nullsFirst: Boolean): Set[String] = {
    val blocks = snaps.flatMap(_.entries(spark, column)).map { case (f, e) =>
      f -> e.stats.copy(minStr = None, maxStr = None) }
    ZoneMapPruner.topKKept(blocks, k, ascending, nullsFirst) match {
      case Some(kept) => blocks.map(_._1).toSet -- kept
      case None => Set.empty
    }
  }

  // (root key, sidecar anchor) -> snapshot of that sidecar build
  private val sidecars = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long), ZoneSnapshot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), ZoneSnapshot]): Boolean = size > 64
    })

  /** The snapshot of `rootPath`'s `_graft_index` as saved at `anchor`
    * ([[graft.sources.SidecarManifest.anchor]]). Shared across
    * sessions: its content is the sidecar's, and each collect runs in
    * the asking session. */
  def ofSidecar(rootPath: String, anchor: Long): ZoneSnapshot =
    sidecars.computeIfAbsent((ZoneMapPruneRule.rootKey(rootPath), anchor), _ =>
      new ZoneSnapshot(s => graft.sources.MicroBlockIndex.loadFrame(s,
        graft.sources.MicroBlockIndex.sidecarPath(rootPath))))

  /** Drop every sidecar snapshot of `rootPath`. */
  def drop(rootPath: String): Unit = {
    val r = ZoneMapPruneRule.rootKey(rootPath)
    sidecars.synchronized(sidecars.keySet().removeIf(_._1 == r))
  }

  def dropAll(): Unit = sidecars.clear()
}
