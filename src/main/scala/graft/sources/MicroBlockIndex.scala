package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import scala.jdk.CollectionConverters._

/** One (block, column) stats entry — the unit of the zone-map index.
  *
  * Mirrors the reference's `BlockMetadata` (microblock_index.py:60-93:
  * table/column/row-group ids, row range, byte offset/length, min/max/
  * null_count, compression). `minNum`/`maxNum` carry the numeric view
  * (ints, doubles, timestamp epochs) used for range pruning; `minStr`/
  * `maxStr` the lexical view for string columns; `minLong`/`maxLong`
  * (round 13) the EXACT integral view — the Double view is lossy for
  * int64 past 2^53, which pruning tolerates (a widened range only
  * keeps more) but VALUE SERVING ([[graft.plans.ZoneAggRule]] MIN/MAX)
  * cannot. Only populated where the physical long is the value's
  * faithful representation: plain ints, dates (days), MICROS
  * timestamps — a MILLIS/NANOS timestamp or time-of-day column records
  * None so the serve falls back to scanning it. Sidecars written
  * before these fields existed back-fill None on [[load]].
  *
  * Round 14 — the numeric view is nulled at build for every column
  * whose PHYSICAL footer value is not the Spark-visible value in the
  * same unit ([[MicroBlockIndex.readFooterStats]]): decimals (footer
  * min/max are UNSCALED while predicate literals arrive scaled),
  * non-MICROS timestamps (wrong epoch unit), time-of-day, unsigned
  * ints (the signed accessor sign-extends). Pruning on those columns
  * is forfeited; wrong-domain comparisons — which could falsely PROVE
  * files all-match/all-miss and serve wrong metadata answers — cannot
  * happen. `nanRisk` marks float/double entries whose footer stats may
  * HIDE NaN (parquet-format-compliant writers like arrow skip NaN in
  * min/max, while Spark orders NaN above every value): Some(true) =
  * stats may be NaN-blind, Some(false) = trustworthy (non-float
  * column, or a parquet-mr writer — parquet-mr propagates NaN into
  * max, measured on 1.16), None (legacy sidecar back-fill) = unknown,
  * treated as risky. The proof layers ([[graft.plans.IndexPruning]])
  * refuse exactly the leaves NaN can break unless nanRisk is a
  * recorded false. `sumLong` (round 14) carries the PER-FILE exact
  * integral sum for opt-in columns ([[MicroBlockIndex.withSums]]),
  * repeated on each of the file's block entries; None = not built /
  * overflowed long / untrusted. `fileMtime`/`fileSize` (round 15) are
  * the base file's status AT FOOTER-READ TIME — the same per-file
  * discipline [[FileDict]] carries. [[MicroBlockIndex.refresh]] diffs
  * the live listing against them, so a file REWRITTEN IN PLACE under
  * its name (same path, new mtime/size) is detected as CHANGED and its
  * entries dropped + re-read instead of silently surviving a refresh;
  * before round 15 a streaming commit's sidecar refresh re-stamped the
  * freshness anchor (`_SUCCESS`) while keeping such a file's dead
  * stats, re-blessing them for every mtime-anchored serve gate. None
  * (legacy sidecar back-fill) = unknown provenance: refresh treats the
  * file as changed and re-reads its footer once, which also back-fills
  * `nanRisk` — the metadata-scale auto-migration for pre-r14 sidecars. */
final case class BlockStat(
    table: String,
    file: String,
    blockId: Int,
    rowStart: Long,
    rowEnd: Long,
    column: String,
    rows: Long,
    nullCount: Long,
    bytes: Long,
    codec: String,
    minNum: Option[Double],
    maxNum: Option[Double],
    minStr: Option[String],
    maxStr: Option[String],
    minLong: Option[Long] = None,
    maxLong: Option[Long] = None,
    nanRisk: Option[Boolean] = Some(false),
    sumLong: Option[Long] = None,
    fileMtime: Option[Long] = None,
    fileSize: Option[Long] = None)

/** Per-block serving metadata — what the engine's driver-side cache /
  * prefetch orchestration actually needs: ONE small row per block
  * (id, file, row range), independent of column count. Collecting this
  * is file-list-scale; the per-(block × column) stats stay distributed
  * (see [[graft.plans.IndexPruning]]). */
final case class BlockMeta(
    blockId: Int, file: String, rows: Long, rowStart: Long, rowEnd: Long)

/** Distributed zone-map index over parquet footers.
  *
  * The reference builds this with a driver loop over one file's row
  * groups (microblock_index.py:117-156). At 100 TB the metadata itself
  * is big data — millions of files — so graft lists the files once and
  * reads footers *on executors*, yielding a stats Dataset that can be
  * persisted as an index table and joined/filtered like any other data
  * (the Delta/Iceberg file-stats design). Row groups within a file are
  * indexed too, so both file-level and row-group-level pruning fall out
  * of the same table.
  */
object MicroBlockIndex {

  /** Build the index for one table path (a parquet file or directory). */
  def build(spark: SparkSession, tablePath: String, table: String): Dataset[BlockStat] = {
    import spark.implicits._
    val files = listParquetFilesWithStatus(tablePath)
    // Footer reads are tiny metadata I/O — parallelize the *file list*,
    // never the data. Block ids follow the sorted file order (stable:
    // part numbers are zero-padded) then row-group order within a file.
    // Partition count scales with the file count (~256 footers per
    // task, floored at the cluster's parallelism) — a fixed cap would
    // serialize tens of thousands of footer reads per task at millions
    // of files.
    val fileWithOrd = files.sortBy(_._1).zipWithIndex
    // `spark.graft.index.buildPartitions` (bench/ops knob, 0 = auto):
    // pins the footer-sweep task count — MetaPlaneScale's serial-vs-
    // parallel arm measures that build time scales with files/cores,
    // not files
    val confParts =
      try spark.conf.get("spark.graft.index.buildPartitions", "0").toInt
      catch { case scala.util.control.NonFatal(_) => 0 }
    val numParts =
      if (confParts > 0) math.max(1, math.min(confParts, fileWithOrd.size))
      else math.max(1, math.min(fileWithOrd.size,
        math.max(spark.sparkContext.defaultParallelism, fileWithOrd.size / 256)))
    val raw = spark.sparkContext
      .parallelize(fileWithOrd, numParts)
      .flatMap { case ((file, mtime, size), fileOrd) =>
        readFooterStats(table, file, fileOrd, mtime, size) }
    // Densify (fileOrd, rowGroup) → global block id / row offsets with
    // a TWO-PASS DISTRIBUTED PREFIX SUM. parallelize() assigns files to
    // partitions positionally, so global block order = (partition,
    // within-partition order): pass 1 sends ONE (blocks, rows) tuple
    // per partition to the driver (never one per block — millions at
    // real file counts), the driver accumulates per-partition bases,
    // and pass 2 assigns ids/offsets partition-locally. Deliberately NO
    // global window either (a single-partition sort over millions of
    // files would serialize the build).
    val perPart = raw.mapPartitionsWithIndex { (idx, it) =>
      var last = Long.MinValue; var nBlocks = 0L; var nRows = 0L
      it.foreach { b =>
        if (b.blockId.toLong != last) {
          last = b.blockId.toLong; nBlocks += 1; nRows += b.rows
        }
      }
      Iterator.single((idx, nBlocks, nRows))
    }.collect()
    val idBase = new Array[Long](numParts)
    val rowBase = new Array[Long](numParts)
    var ids = 0L; var rowOff = 0L
    perPart.sortBy(_._1).foreach { case (idx, nb, nr) =>
      idBase(idx) = ids; rowBase(idx) = rowOff; ids += nb; rowOff += nr
    }
    val idB = spark.sparkContext.broadcast(idBase)
    val rowB = spark.sparkContext.broadcast(rowBase)
    val dense = raw.mapPartitionsWithIndex { (idx, it) =>
      var cur = Long.MinValue
      var id = idB.value(idx) - 1
      var start = rowB.value(idx)
      var nextStart = start
      it.map { b =>
        if (b.blockId.toLong != cur) {
          cur = b.blockId.toLong
          id += 1
          start = nextStart
          nextStart = start + b.rows
        }
        b.copy(blockId = id.toInt, rowStart = start, rowEnd = start + b.rows - 1)
      }
    }
    spark.createDataset(dense)
  }

  /** Footer → per-(row-group, column) stats. Runs on executors.
    * `mtime`/`size` are the file's LISTED status (taken by the caller
    * before the footer read, so a concurrent rewrite makes the entry
    * look STALE, never falsely fresh). */
  private def readFooterStats(table: String, file: String, fileOrd: Int,
      mtime: Long, size: Long): Seq[BlockStat] = {
    val in = HadoopInputFile.fromPath(new Path(file), new Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // parquet-mr's float/double statistics use Double.compare order,
      // so a NaN value PROPAGATES into max (verified on parquet-mr
      // 1.16; the old Math.min/max era turned both bounds NaN) — its
      // stats never silently hide NaN. Arrow/parquet-cpp follows the
      // format spec and SKIPS NaN when computing min/max, so its float
      // stats can be NaN-blind.
      val createdBy = Option(reader.getFooter.getFileMetaData.getCreatedBy)
      val nanFaithfulWriter = createdBy.exists(_.startsWith("parquet-mr"))
      blocks.zipWithIndex.flatMap { case (bm, rg) =>
        // provisional id: file ordinal * 10^6 + row group; densified in
        // build(). Only ADJACENT-distinctness matters there (the prefix
        // sum walks entries in order), and adjacent blocks differ by rg+1
        // or a new file (delta 10^6 - rg ≠ 0 mod 2^32), so Int overflow
        // at >2147 files cannot merge two neighboring blocks.
        val provisionalId = fileOrd * 1000000 + rg
        bm.getColumns.asScala.toSeq.map { cc =>
          val stats = cc.getStatistics
          // EVERY stats view is nulled where the physical footer value
          // is not the Spark-visible value in the same domain:
          //   - decimals: footer min/max are UNSCALED (int32/int64/
          //     FLBA) while Spark literals arrive SCALED — comparing
          //     them can falsely prove files all-match/all-miss;
          //   - MILLIS/NANOS timestamps, time-of-day: wrong epoch unit
          //     vs the extractor's micros literals;
          //   - unsigned ints: the signed accessor SIGN-EXTENDS (a
          //     UINT_32 of 3e9 reads negative).
          // Pruning on these columns is forfeited, never wrong.
          val domainUnsafe = cc.getPrimitiveType.getLogicalTypeAnnotation match {
            case _: org.apache.parquet.schema.LogicalTypeAnnotation
                .DecimalLogicalTypeAnnotation => true
            case t: org.apache.parquet.schema.LogicalTypeAnnotation
                .TimestampLogicalTypeAnnotation =>
              t.getUnit != org.apache.parquet.schema.LogicalTypeAnnotation
                .TimeUnit.MICROS
            case _: org.apache.parquet.schema.LogicalTypeAnnotation
                .TimeLogicalTypeAnnotation => true
            case i: org.apache.parquet.schema.LogicalTypeAnnotation
                .IntLogicalTypeAnnotation if !i.isSigned => true
            case _ => false
          }
          // the lexical view only for columns whose Binary min/max ARE
          // UTF-8 text in Spark's string domain — a decimal-FLBA or
          // BSON column's bytes rendered as a string would compare
          // garbage against string literals
          val strSafe = cc.getPrimitiveType.getLogicalTypeAnnotation match {
            case _: org.apache.parquet.schema.LogicalTypeAnnotation
                .StringLogicalTypeAnnotation => true
            case _: org.apache.parquet.schema.LogicalTypeAnnotation
                .EnumLogicalTypeAnnotation => true
            case _: org.apache.parquet.schema.LogicalTypeAnnotation
                .JsonLogicalTypeAnnotation => true
            case _ => false
          }
          val isFloat = {
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            val p = cc.getPrimitiveType.getPrimitiveTypeName
            p == FLOAT || p == DOUBLE
          }
          val noStats = stats == null || !stats.hasNonNullValue
          val (minN, maxN) =
            if (noStats || domainUnsafe) (None, None)
            else (numeric(stats.genericGetMin), numeric(stats.genericGetMax))
          val (minS, maxS) =
            if (noStats || !strSafe) (None, None)
            else (lexical(stats.genericGetMin), lexical(stats.genericGetMax))
          // the exact integral view: only where the physical long IS
          // the value (same domain gate as the numeric view)
          val (minL, maxL) =
            if (noStats || domainUnsafe) (None, None)
            else (integral(stats.genericGetMin), integral(stats.genericGetMax))
          BlockStat(
            table = table,
            file = file,
            blockId = provisionalId,
            rowStart = 0L,
            rowEnd = 0L,
            column = cc.getPath.toDotString,
            rows = bm.getRowCount,
            nullCount = if (stats == null) -1L else stats.getNumNulls,
            bytes = cc.getTotalSize,
            codec = cc.getCodec.toString,
            minNum = minN, maxNum = maxN, minStr = minS, maxStr = maxS,
            minLong = minL, maxLong = maxL,
            nanRisk = Some(isFloat && !nanFaithfulWriter),
            fileMtime = Some(mtime), fileSize = Some(size))
        }
      }
    } finally reader.close()
  }

  private def numeric(v: Any): Option[Double] = v match {
    case i: java.lang.Integer => Some(i.doubleValue)
    case l: java.lang.Long    => Some(l.doubleValue)
    case f: java.lang.Float   => Some(f.doubleValue)
    case d: java.lang.Double  => Some(d.doubleValue)
    case _                    => None
  }

  private def integral(v: Any): Option[Long] = v match {
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long    => Some(l.longValue)
    case _                    => None
  }

  private def lexical(v: Any): Option[String] = v match {
    case b: Binary =>
      // Round-trip gate (round-16 ADVICE): footer binary stats may be
      // TRUNCATED at a non-codepoint boundary by a non-UTF-8-aware
      // writer; lossy decoding maps distinct byte prefixes (e.g. a
      // truncated min '...C3' and its incremented max '...C4') to the
      // SAME '...�' string, which would let ZoneAggRule's
      // minStr==maxStr truncation-strictness proof falsely certify a
      // multi-valued file as single-valued. The proof is sound in BYTE
      // space, so only stats whose decoded string re-encodes to the
      // exact original bytes are kept — anything lossy records no
      // lexical view at all (pruning forfeited, never wrong; the same
      // refusal discipline as the r14 wrong-domain numeric stats).
      val bytes = b.getBytes
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      if (java.util.Arrays.equals(
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8), bytes)) Some(s)
      else None
    case _ => None
  }

  /** Opt-in EXACT per-file integral sums (round 14): footers carry no
    * sums, so serving `SUM(col)` from metadata ([[graft.plans
    * .ZoneAggRule]]) needs one distributed scan of the named columns
    * at index-build time. Each file's sum is computed in
    * DECIMAL(38,0) — exact for any int64 column at any file size —
    * and stamped (as a long; None when a single file's sum exceeds
    * long range, or the file is all-NULL: SUM of nothing is NULL and
    * the serve must not fabricate a 0) onto that file's existing
    * block entries for the column. The sums live in the same sidecar
    * as the min/max stats and inherit its freshness gates unchanged.
    *
    * Cost model: one columnar scan of exactly `columns` — pay once,
    * then every filtered/unfiltered SUM over zone-decided files is a
    * metadata read. Only integral columns are accepted (float sums
    * are order-dependent; decimal sums belong to the AggView layer). */
  def withSums(spark: SparkSession, tablePath: String,
      index: Dataset[BlockStat], columns: Seq[String]): Dataset[BlockStat] = {
    if (columns.isEmpty) return index
    val files = listParquetFiles(tablePath)
    if (files.isEmpty) return index
    stampSums(spark, tablePath, index, files, columns)
  }

  /** The sums computation behind [[withSums]], restricted to `files`
    * (a subset of the live listing) — the INCREMENTAL unit: a
    * streaming commit's refresh sums only the batch's new files
    * (O(delta) column scan) instead of re-scanning the table
    * ([[refresh]]'s `sumColumns`). Entries for files outside `files`
    * pass through untouched. */
  private def stampSums(spark: SparkSession, tablePath: String,
      index: Dataset[BlockStat], files: Seq[String],
      columns: Seq[String]): Dataset[BlockStat] = {
    import org.apache.spark.sql.functions._
    val df = readFilesAsTable(spark, tablePath, files)
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    val cols = columns.filter(c =>
      df.schema.fields.exists(f => f.name == c && integral(f.dataType)))
    if (cols.isEmpty) return index
    val aggs = cols.map(c => sum(col(c).cast("decimal(38,0)")).as(c))
    val perFile = df.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    // (column, normalized file) -> exact sum. Driver map at file×column
    // scale (the documented metadata-plane bound), broadcast to the
    // executors stamping the entries.
    val sums: Map[(String, String), Long] = perFile.flatMap { r =>
      val f = graft.plans.ZoneMapPruneRule.normFile(r.getString(0))
      cols.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(i + 1)) None
        else {
          val bi = r.getDecimal(i + 1).toBigInteger
          if (bi.bitLength() <= 63) Some((c, f) -> bi.longValue) else None
        }
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(sums)
    val stampedB = spark.sparkContext.broadcast(
      files.map(graft.plans.ZoneMapPruneRule.normFile).toSet)
    import spark.implicits._
    index.map { b =>
      val f = graft.plans.ZoneMapPruneRule.normFile(b.file)
      if (!stampedB.value.contains(f)) b
      else bc.value.get((b.column, f)) match {
        case Some(v) => b.copy(sumLong = Some(v))
        case None    => b
      }
    }
  }

  /** Persist the index as a parquet table (reference: save_metadata.py
    * writes block metadata to disk). The index is data: at 100 TB it's
    * queried/joined like any table and refreshed incrementally
    * ([[refresh]]). */
  def save(index: Dataset[BlockStat], path: String): Unit =
    index.write.mode("overwrite").parquet(path)

  /** The table's SIDECAR location, `<tablePath>/_graft_index`
    * ([[SidecarManifest.location]]): any session discovers the index
    * from the table path alone ([[graft.plans.ZoneMapPruneRule]]
    * auto-registers current sidecars). */
  def sidecarPath(tablePath: String): String =
    SidecarManifest.location(tablePath, SidecarManifest.Zone)

  /** [[save]] at the sidecar location ([[SidecarManifest.save]]).
    * NOTE: a session that has already probed this table and found no
    * sidecar memoizes that — call [[graft.plans.ZoneMapPruneRule
    * .registerSaved]] (or unregister the path) to pick the new sidecar
    * up in-session; fresh sessions discover it automatically. */
  def saveSidecar(index: Dataset[BlockStat], tablePath: String): Unit =
    SidecarManifest.save(index.sparkSession, tablePath,
      SidecarManifest.Zone)(save(index, _))

  /** INCREMENTAL refresh: read footers only for files the existing
    * index doesn't know OR that CHANGED on disk (the common
    * append-only ingest shape — at millions of files a full rebuild
    * re-reads every footer for a 1% delta). Existing block ids and row
    * offsets are STABLE — cache keys, access logs and trained prefetch
    * models keyed by them stay valid — and new files' blocks append
    * after the current max id / row offset in sorted-file order. Files
    * DELETED from disk DROP their entries (round 14): pruning against
    * dead entries was harmless (the rules only skip live files), but
    * the value-serving layers ([[graft.plans.ZoneAggRule]]) gate on the
    * index's file set EQUALLING the live listing — keeping dead entries
    * meant a post-delete refresh could never re-enable serving, only a
    * full rebuild could. Dropping entries never disturbs surviving
    * blocks' ids or row offsets (they are recorded, not recomputed);
    * the retired ids simply never recur.
    *
    * CHANGED files (round 15): a file REWRITTEN IN PLACE keeps its
    * PATH, so the old path-only diff kept its now-dead entries — and
    * because the streaming sidecar refresh re-stamps `_SUCCESS` (the
    * freshness anchor every serve layer's mtime gate compares against)
    * on each commit, those dead stats were silently RE-BLESSED: wrong
    * metadata aggregates, wrong join-prune cuts. A known file whose
    * live (mtime, size) differs from the recorded `fileMtime`/
    * `fileSize` is now treated as deleted-then-added: entries dropped,
    * footer re-read, fresh blocks appended under NEW ids (the old ids
    * retire — a rewritten file's row offsets are new data anyway).
    * Entries with NO recorded status (a pre-r15 sidecar's back-filled
    * None) have unknown provenance and are conservatively re-read too;
    * that one-time footer sweep is also the auto-migration that
    * back-fills `nanRisk` (pre-r14 sidecars regain `>`/`>=` refutation
    * without a manual rebuild — the round-14 carried-forward gap).
    *
    * SUMS ride the refresh (round 15): when the existing index carries
    * [[withSums]] stamps (any entry with `sumLong` defined), the new/
    * changed files get their per-file sums computed for the same
    * columns — ONE O(delta) column scan of just those files — so a
    * sums-bearing sidecar maintained by [[graft.streaming
    * .StreamIngest]] serves `SUM(col)` immediately after each commit
    * instead of refusing until a 15-second full rebuild, and a
    * million-file table never pays a monolithic re-scan for a 1%
    * delta. `sumColumns` overrides the auto-derived column set
    * (useful to ADD a sums column incrementally). */
  def refresh(spark: SparkSession, tablePath: String, table: String,
      existing: Dataset[BlockStat],
      sumColumns: Seq[String] = Nil): Dataset[BlockStat] = {
    import org.apache.spark.sql.functions._
    // file-listing-scale collect: one row per known file with its
    // recorded status (stamped uniformly across the file's entries;
    // a None-status file yields nulls through the min())
    val known: Map[String, (Option[Long], Option[Long])] =
      existing.groupBy(col("file"))
        .agg(min(col("fileMtime")).as("m"), min(col("fileSize")).as("s"))
        .collect().map(r => r.getString(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))))
        .toMap
    val live = listParquetFilesWithStatus(tablePath)
    val liveSet = live.map(_._1).toSet
    val changed = live.filter { case (f, m, s) =>
      known.get(f).exists { case (rm, rs) =>
        !rm.contains(m) || !rs.contains(s) // mismatch OR legacy None
      }
    }
    val changedSet = changed.map(_._1).toSet
    // anti-filter on the (small) dead+changed set, never an IN over
    // millions of live paths
    val dead = (known.keySet.filterNot(liveSet) ++ changedSet).toSeq
    val base =
      if (dead.isEmpty) existing
      else existing.filter(!col("file").isin(dead: _*))
    val newFiles = live.filterNot(f => known.contains(f._1)) ++ changed
    if (newFiles.isEmpty && dead.isEmpty) return existing
    if (newFiles.isEmpty) return base
    val (maxId, maxEnd) = existing
      .agg(max("blockId"), max("rowEnd"))
      .collect().headOption
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
      .getOrElse((-1, -1L))
    val fileWithOrd = newFiles.sortBy(_._1).zipWithIndex
    val numParts = math.max(1, math.min(fileWithOrd.size,
      math.max(spark.sparkContext.defaultParallelism, fileWithOrd.size / 256)))
    val raw = spark.sparkContext.parallelize(fileWithOrd, numParts)
      .flatMap { case ((file, mtime, size), ord) =>
        readFooterStats(table, file, ord, mtime, size) }
    // same two-pass prefix sum as build(), based at (maxId+1, maxEnd+1)
    val perPart = raw.mapPartitionsWithIndex { (idx, it) =>
      var last = Long.MinValue; var nBlocks = 0L; var nRows = 0L
      it.foreach { b =>
        if (b.blockId.toLong != last) {
          last = b.blockId.toLong; nBlocks += 1; nRows += b.rows
        }
      }
      Iterator.single((idx, nBlocks, nRows))
    }.collect()
    val idBase = new Array[Long](numParts)
    val rowBase = new Array[Long](numParts)
    var ids = maxId + 1L; var rowOff = maxEnd + 1L
    perPart.sortBy(_._1).foreach { case (idx, nb, nr) =>
      idBase(idx) = ids; rowBase(idx) = rowOff; ids += nb; rowOff += nr
    }
    val idB = spark.sparkContext.broadcast(idBase)
    val rowB = spark.sparkContext.broadcast(rowBase)
    val appended = raw.mapPartitionsWithIndex { (idx, it) =>
      var cur = Long.MinValue
      var id = idB.value(idx) - 1
      var start = rowB.value(idx)
      var nextStart = start
      it.map { b =>
        if (b.blockId.toLong != cur) {
          cur = b.blockId.toLong
          id += 1
          start = nextStart
          nextStart = start + b.rows
        }
        b.copy(blockId = id.toInt, rowStart = start, rowEnd = start + b.rows - 1)
      }
    }
    import spark.implicits._
    // per-file sums for the delta: same columns the existing index
    // carries stamps for (or the explicit override)
    val sumCols =
      if (sumColumns.nonEmpty) sumColumns
      else existing.filter(col("sumLong").isNotNull)
        .select("column").distinct()
        .collect().map(_.getString(0)).toSeq.sorted // column-count scale
    val appendedDs = spark.createDataset(appended)
    val withDelta =
      if (sumCols.isEmpty) appendedDs
      else stampSums(spark, tablePath, appendedDs,
        newFiles.map(_._1), sumCols)
    // by-name union: `base` may carry a loaded sidecar's column order
    base.toDF().unionByName(withDelta.toDF()).as[BlockStat]
  }

  /** Load a saved index, BACK-FILLING columns older sidecars predate
    * (minLong/maxLong, round 13) with nulls — absent exact stats are
    * "unknown", which every consumer already treats conservatively. */
  def load(spark: SparkSession, path: String): Dataset[BlockStat] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    var df = spark.read.parquet(path)
    Seq("minLong", "maxLong", "sumLong", "fileMtime", "fileSize").foreach { c =>
      if (!df.columns.contains(c)) df = df.withColumn(c, lit(null).cast("long"))
    }
    // legacy sidecars predate the NaN-faithfulness flag: null = unknown
    // = the proof layers treat the entry as risky (conservative)
    if (!df.columns.contains("nanRisk"))
      df = df.withColumn("nanRisk", lit(null).cast("boolean"))
    // normalize to the case-class column ORDER: downstream unions
    // (refresh appends an encoder-ordered dataset) are positional, and
    // a legacy sidecar's back-filled columns land at the END otherwise
    val order = org.apache.spark.sql.Encoders.product[BlockStat]
      .schema.fieldNames
    df.select(order.map(org.apache.spark.sql.functions.col): _*).as[BlockStat]
  }

  def listParquetFiles(tablePath: String): Seq[String] =
    listParquetFilesWithStatus(tablePath).map(_._1)

  /** The same listing with each file's (mtime, size) — the per-file
    * status the sidecar soundness gates record and re-check (a file
    * rewritten in place keeps its NAME; only its status changes).
    *
    * RECURSIVE (round 13): hive-partitioned layouts nest data under
    * `col=value` directories — a top-level-only listing recorded
    * EMPTY coverage for them, so every sidecar layer refused the
    * layout every real fact table uses. `listFiles(recursive)` is the
    * scalable walk (one paged LIST per prefix on object stores, a
    * single RemoteIterator on HDFS — no per-directory round-trips);
    * any path segment starting with `_` or `.` below the root is
    * metadata (`_graft*` sidecars, `_SUCCESS`, `.crc`), never data —
    * the same convention Spark's own InMemoryFileIndex applies, so
    * this listing and a relation's `inputFiles` agree file-for-file. */
  def listParquetFilesWithStatus(tablePath: String): Seq[(String, Long, Long)] = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(new Configuration())
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq((tablePath, st.getModificationTime, st.getLen))
    else {
      val rootUri = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
      def visible(filePath: Path): Boolean = {
        val rel = filePath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet") &&
            visible(s.getPath))
          out += ((s.getPath.toString, s.getModificationTime, s.getLen))
      }
      out.toSeq
    }
  }

  /** Read `files` (a subset of `tablePath`'s listing) AS the table —
    * with `basePath` pointing at the root so hive-partition columns
    * encoded in the directory names survive the subset read (a bare
    * `read.parquet(files)` silently drops them and any downstream
    * reference to a partition column fails). No-op for single-file
    * tables. */
  def readFilesAsTable(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, files: Seq[String]): org.apache.spark.sql.DataFrame = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(new Configuration())
    if (fs.getFileStatus(p).isFile) spark.read.parquet(files: _*)
    else spark.read.option("basePath", fs.makeQualified(p).toString)
      .parquet(files: _*)
  }
}
