package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Dictionary
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Per-(file, column) DICTIONARY index entry.
  *
  * `covered` means every row group's chunk for this column is fully
  * dictionary-encoded (dictionary pages present, ZERO non-dictionary
  * data pages — parquet-mr's `EncodingStats` distinguishes the two, so
  * a chunk that fell back to PLAIN mid-write is never trusted). For a
  * covered file the value arrays are the EXACT set of non-null values
  * the file holds for this column: exactly one of the three arrays is
  * populated, by physical type (INT32/INT64 → `valuesLong`,
  * FLOAT/DOUBLE → `valuesDouble`, BYTE_ARRAY → `valuesStr` as UTF-8).
  *
  * `nullCount` (round 11) is the file's total null count for the
  * column from footer statistics — recorded for covered AND uncovered
  * entries, `-1` when any chunk's footer omits it. It lets DISTINCT
  * serves answer "does this table hold a NULL?" from metadata
  * (dictionaries hold no nulls, so value sets alone cannot).
  *
  * `fileMtime`/`fileSize` (round 13) are the base file's status AT
  * INDEX TIME — the [[AggView]] v3 per-file discipline. A file
  * REWRITTEN IN PLACE under the same name passes any name-set
  * equality gate while its dictionary entry is dead; consumers that
  * serve answers (not just prune) must match these against the live
  * listing. `-1` on sidecars predating the field (consumers fall back
  * to name-set equality for those, documented per consumer).
  */
final case class FileDict(
    table: String,
    file: String,
    column: String,
    rowGroups: Int,
    covered: Boolean,
    valuesLong: Array[Long],
    valuesDouble: Array[Double],
    valuesStr: Array[String],
    nullCount: Long,
    fileMtime: Long,
    fileSize: Long)

/** Dictionary-page index over parquet files — the stats layer past
  * zone maps AND histograms: exact per-file VALUE SETS, read from the
  * dictionary pages alone (metadata-scale I/O — no data page is ever
  * touched).
  *
  * Why this matters at 100 TB, where min/max cannot help:
  *
  *   - '''Equality / IN pruning on unclustered columns.''' A zone map
  *     refutes `col = v` only when the file's [min, max] excludes v —
  *     useless when values are LOCALIZED but not ORDERED (the
  *     hash-bucketed layouts every warehouse writes, ingest batches
  *     keyed by source, URL/doc_id point lookups in a corpus). The
  *     dictionary is the file's exact value set: `v ∉ dict` refutes
  *     the file outright ([[skippedFilesEq]]).
  *   - '''DISTINCT without a scan.''' `COUNT(DISTINCT col)` /
  *     `DISTINCT col` over covered files is a union of dictionaries —
  *     dictionary-page bytes instead of data bytes
  *     ([[distinctValues]] / [[countDistinct]]); files with fallback
  *     pages degrade to a normal pruned scan of just those files, so
  *     the answer is always exact.
  *
  * Exactness contract: a dictionary entry is written on the first
  * occurrence of its value (parquet-mr and arrow-cpp both build chunk
  * dictionaries this way), so for a fully-dictionary-encoded chunk the
  * dictionary IS the chunk's non-null value set. The format does not
  * forbid an unreferenced entry, so this is verified, not assumed: the
  * oracle gate hash-compares every dictionary-served answer against a
  * full-scan DuckDB run, and DictionarySpec re-checks against Spark
  * full scans on every build.
  *
  * Reference contract: the reference's `MicroBlockIndex` caches footer
  * min/max per block (microblock_index.py:95-182) and prunes from
  * stats alone (query_enginev5.py:66-233); this index extends the same
  * "answer from metadata" thesis to the value-set level. Like
  * [[MicroBlockIndex]], the build parallelizes the FILE LIST and reads
  * pages on executors — the index is a Dataset, persistable as a
  * sidecar table and queried distributed; only skip lists reach the
  * driver.
  */
object DictionaryIndex {

  /** Build the dictionary index for `columns` of the table at
    * `tablePath`. Dictionary pages are metadata-scale (bounded by the
    * writer's dictionary-page size cap, ~1 MB per chunk), so a task's
    * memory is bounded by files-per-task × columns × that cap. */
  def build(spark: SparkSession, tablePath: String, table: String,
      columns: Seq[String]): Dataset[FileDict] = {
    import spark.implicits._
    val files = MicroBlockIndex.listParquetFilesWithStatus(tablePath)
      .sortBy(_._1)
    val numParts = math.max(1, math.min(files.size,
      math.max(spark.sparkContext.defaultParallelism, files.size / 256)))
    val cols = columns.toArray
    spark.sparkContext
      .parallelize(files, numParts)
      .flatMap { case (file, mtime, size) =>
        readFileDicts(table, file, cols)
          .map(_.copy(fileMtime = mtime, fileSize = size))
      }
      .toDS()
  }

  /** One file's dictionary entries for the requested columns. Runs on
    * executors. */
  private def readFileDicts(table: String, file: String,
      columns: Array[String]): Seq[FileDict] = {
    val in = HadoopInputFile.fromPath(new Path(file), new Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val schema = footer.getFileMetaData.getSchema
      val descriptors = columns.flatMap { c =>
        schema.getColumns.asScala.find(_.getPath.mkString(".") == c).map(c -> _)
      }.toMap
      // per column per chunk: (qualifies: dict pages + no fallback
      // data pages + a supported physical type, all-null, null count
      // or -1 when the footer omits it)
      val chunkInfo: Map[String, Seq[(Boolean, Boolean, Long)]] = descriptors.keys.map { c =>
        c -> blocks.map { bm =>
          val cc = bm.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .getOrElse(throw new IllegalStateException(s"column $c missing in $file"))
          val es = cc.getEncodingStats
          // Physical-type gate, with LOGICAL-type guards: a DECIMAL
          // column's ints are UNSCALED (5.50 stored as 550 — the wrong
          // equality domain for a scaled probe), an UNSIGNED int's raw
          // bits misread as signed, and a non-UTF8 BINARY blob has no
          // faithful string view. All of those stay covered=false.
          // Timestamps qualify ONLY at MICROS unit — Catalyst probes
          // are micros, and a TIMESTAMP_MILLIS/NANOS file stores a
          // different scale under the same annotation class, so an
          // equality probe would falsely refute matching files (dates
          // are always days; signed ints share the probe domain).
          val pt = descriptors(c).getPrimitiveType
          val logical = pt.getLogicalTypeAnnotation
          import org.apache.parquet.schema.LogicalTypeAnnotation._
          val supported = pt.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
              logical match {
                case null => true
                case i: IntLogicalTypeAnnotation => i.isSigned
                case t: TimestampLogicalTypeAnnotation =>
                  t.getUnit == TimeUnit.MICROS
                case _: DateLogicalTypeAnnotation => true
                case _ => false // decimal, time, interval: wrong domain
              }
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => true
            case PrimitiveTypeName.BINARY =>
              logical.isInstanceOf[StringLogicalTypeAnnotation] ||
                logical.isInstanceOf[EnumLogicalTypeAnnotation]
            case _ => false
          }
          val dictOnly = es != null && es.hasDictionaryPages && !es.hasNonDictionaryEncodedPages
          val stats = cc.getStatistics
          val nulls =
            if (stats != null && stats.isNumNullsSet) stats.getNumNulls else -1L
          val allNull = nulls == cc.getValueCount && nulls >= 0
          (supported && (dictOnly || allNull), allNull, nulls)
        }
      }.toMap
      val covered = chunkInfo.map { case (c, info) => c -> info.forall(_._1) }
      // file-level null count: exact sum, or -1 if ANY chunk omits it
      val nullCounts: Map[String, Long] = chunkInfo.map { case (c, info) =>
        c -> (if (info.exists(_._3 < 0)) -1L else info.map(_._3).sum)
      }
      // accumulate distinct values per covered column across row groups
      val longs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.LinkedHashSet[Long]]
      val doubles = scala.collection.mutable.Map.empty[String, scala.collection.mutable.LinkedHashSet[Double]]
      val strs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.LinkedHashSet[String]]
      var broken = Set.empty[String] // covered per stats, but a dict page was missing
      blocks.indices.foreach { rg =>
        val store = reader.getNextDictionaryReader()
        descriptors.foreach { case (c, cd) =>
          if (covered(c) && !broken.contains(c)) {
            val allNull = chunkInfo(c)(rg)._2
            val page = store.readDictionaryPage(cd)
            if (page == null) {
              // legal only for an all-null chunk (no values ⇒ no page)
              if (!allNull) broken += c
            } else {
              val dict: Dictionary = page.getEncoding.initDictionary(cd, page)
              val n = dict.getMaxId + 1
              cd.getPrimitiveType.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT32 =>
                  val s = longs.getOrElseUpdate(c, scala.collection.mutable.LinkedHashSet.empty)
                  var i = 0; while (i < n) { s += dict.decodeToInt(i).toLong; i += 1 }
                case PrimitiveTypeName.INT64 =>
                  val s = longs.getOrElseUpdate(c, scala.collection.mutable.LinkedHashSet.empty)
                  var i = 0; while (i < n) { s += dict.decodeToLong(i); i += 1 }
                case PrimitiveTypeName.FLOAT =>
                  val s = doubles.getOrElseUpdate(c, scala.collection.mutable.LinkedHashSet.empty)
                  var i = 0; while (i < n) { s += dict.decodeToFloat(i).toDouble; i += 1 }
                case PrimitiveTypeName.DOUBLE =>
                  val s = doubles.getOrElseUpdate(c, scala.collection.mutable.LinkedHashSet.empty)
                  var i = 0; while (i < n) { s += dict.decodeToDouble(i); i += 1 }
                case PrimitiveTypeName.BINARY =>
                  val s = strs.getOrElseUpdate(c, scala.collection.mutable.LinkedHashSet.empty)
                  var i = 0; while (i < n) { s += dict.decodeToBinary(i).toStringUsingUTF8; i += 1 }
                case other =>
                  throw new IllegalStateException(s"unsupported covered type $other")
              }
            }
          }
        }
        reader.skipNextRowGroup()
      }
      descriptors.keys.toSeq.sorted.map { c =>
        val ok = covered(c) && !broken.contains(c)
        FileDict(
          table = table, file = file, column = c,
          rowGroups = blocks.size, covered = ok,
          valuesLong = if (ok) longs.getOrElse(c, scala.collection.mutable.LinkedHashSet.empty).toArray else Array.empty,
          valuesDouble = if (ok) doubles.getOrElse(c, scala.collection.mutable.LinkedHashSet.empty).toArray else Array.empty,
          valuesStr = if (ok) strs.getOrElse(c, scala.collection.mutable.LinkedHashSet.empty).toArray else Array.empty,
          nullCount = nullCounts(c),
          fileMtime = -1L, fileSize = -1L) // stamped by build/refresh
      }
    } finally reader.close()
  }

  /** Exact NON-NULL distinct values of `column` (COUNT DISTINCT
    * semantics): dictionary union for covered files, ONE pruned scan
    * over the rest. Fully distributed — the dictionary side explodes
    * the index's value arrays, the scan side reads only uncovered
    * files and only this column. Output: a single column `v`, typed
    * long/double/string by the parquet physical type (a column the
    * index has no rows for degrades to a full scan — never silently
    * empty). */
  def distinctValues(spark: SparkSession, index: Dataset[FileDict],
      tablePath: String, column: String): DataFrame =
    distinctFrom(spark, index, coverageOf(index, column), tablePath, column)

  /** (file, covered, hasLongs, hasDoubles, hasStrs) per index entry
    * for `column` — the one file-listing-scale collect the serve
    * needs. */
  private def coverageOf(index: Dataset[FileDict], column: String)
      : Array[(String, Boolean, Boolean, Boolean, Boolean)] =
    index.filter(col("column") === column)
      .select(col("file"), col("covered"),
        (size(col("valuesLong")) > 0).as("isL"),
        (size(col("valuesDouble")) > 0).as("isD"),
        (size(col("valuesStr")) > 0).as("isS"))
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4)))

  /** Covered entries populating MORE than one typed array — a
    * schema-evolved column (int files next to double files). The
    * single-typed dictionary union would silently drop the other
    * type's values, so such a column degrades to the plain scan. */
  private def mixedTypes(
      coverage: Array[(String, Boolean, Boolean, Boolean, Boolean)]): Boolean =
    Seq(coverage.exists(r => r._2 && r._3), coverage.exists(r => r._2 && r._4),
      coverage.exists(r => r._2 && r._5)).count(identity) > 1

  private def distinctFrom(spark: SparkSession, index: Dataset[FileDict],
      coverage: Array[(String, Boolean, Boolean, Boolean, Boolean)],
      tablePath: String, column: String): DataFrame = {
    val entries = index.filter(col("column") === column)
    val allFiles = MicroBlockIndex.listParquetFiles(tablePath)
    // MIXED physical types (schema evolution, e.g. int files next to
    // double files): the single-typed union below would silently drop
    // the other array's values. When every live file is covered, the
    // mix is purely numeric, and each long is exactly
    // double-representable (|v| <= 2^53), the union of BOTH arrays in
    // the double domain is still exact; anything else degrades to the
    // plain scan (which surfaces Spark's own schema-merge semantics
    // instead of a silently partial answer). Pinned in DictionarySpec.
    if (mixedTypes(coverage)) {
      val hasStr = coverage.exists(r => r._2 && r._5)
      val allCovered = coverage.nonEmpty && coverage.forall(_._2) &&
        coverage.map(_._1).toSet == allFiles.toSet
      val safeNumeric = !hasStr && allCovered && {
        val m = entries.filter(col("covered"))
          .select(explode(col("valuesLong")).as("v"))
          .agg(max(abs(col("v")))).first()
        m.isNullAt(0) || m.getLong(0) <= (1L << 53)
      }
      return if (safeNumeric)
        entries.filter(col("covered"))
          .select(explode(col("valuesLong")).as("v"))
          .select(col("v").cast("double").as("v"))
          .union(entries.filter(col("covered"))
            .select(explode(col("valuesDouble")).as("v")))
          .distinct()
      else
        MicroBlockIndex.readFilesAsTable(spark, tablePath, allFiles)
          .select(col(column).as("v")).filter(col("v").isNotNull).distinct()
    }
    val coveredFiles = coverage.filter(_._2).map(_._1).toSet
    val uncovered = allFiles.filterNot(coveredFiles.contains)
    val anyL = coverage.exists(r => r._2 && r._3)
    val anyD = coverage.exists(r => r._2 && r._4)
    val dictSide =
      if (anyL) entries.filter(col("covered")).select(explode(col("valuesLong")).as("v"))
      else if (anyD) entries.filter(col("covered")).select(explode(col("valuesDouble")).as("v"))
      else entries.filter(col("covered")).select(explode(col("valuesStr")).as("v"))
    if (uncovered.isEmpty) dictSide.distinct()
    else if (coveredFiles.isEmpty)
      // nothing covered: serve EXACTLY the scan plan — no union wart
      MicroBlockIndex.readFilesAsTable(spark, tablePath, uncovered)
        .select(col(column).as("v")).filter(col("v").isNotNull).distinct()
    else {
      // no pre-union distinct: the final distinct is the one shuffle —
      // map-side partial dedup still bounds what the scan side ships
      val scanSide = MicroBlockIndex.readFilesAsTable(spark, tablePath, uncovered)
        .select(col(column).as("v")).filter(col("v").isNotNull)
      // Align the scan side to the dictionary's PHYSICAL domain — the
      // raw long/double/string the pages store. The conversion must be
      // injective AND land in that exact domain: Catalyst's
      // cast(timestamp AS long) yields epoch SECONDS while the
      // dictionary holds raw MICROS (the only unit the coverage gate
      // admits), so the explicit unix_micros/unix_date converters are
      // load-bearing — a seconds/micros union double-counts shared
      // values and collapses sub-second-distinct timestamps. A type
      // with no faithful physical view (TimestampNTZ, decimals, …)
      // degrades to ONE plain scan of ALL files: exact, never a
      // mixed-domain union.
      import org.apache.spark.sql.types._
      val alignedOpt: Option[DataFrame] = scanSide.schema.head.dataType match {
        case LongType | IntegerType | ShortType | ByteType =>
          Some(scanSide.select(col("v").cast("long").as("v")))
        case DoubleType | FloatType =>
          Some(scanSide.select(col("v").cast("double").as("v")))
        case StringType => Some(scanSide)
        case TimestampType =>
          Some(scanSide.select(unix_micros(col("v")).as("v")))
        case DateType =>
          Some(scanSide.select(unix_date(col("v")).cast("long").as("v")))
        case _ => None
      }
      alignedOpt match {
        case Some(aligned) =>
          dictSide.select(col("v").cast(aligned.schema.head.dataType).as("v"))
            .filter(col("v").isNotNull) // a cross-type dict cast may null
            .union(aligned).distinct()
        case None =>
          MicroBlockIndex.readFilesAsTable(spark, tablePath, allFiles)
            .select(col(column).as("v")).filter(col("v").isNotNull).distinct()
      }
    }
  }

  /** `COUNT(DISTINCT column)` served from the index (+ a scan of only
    * the uncovered files). Returns (count, coveredFiles, totalFiles).
    * Two Spark jobs total: the file-listing-scale coverage collect
    * inside [[distinctValues]] and the distinct count itself. */
  def countDistinct(spark: SparkSession, index: Dataset[FileDict],
      tablePath: String, column: String): (Long, Long, Long) = {
    val cov = coverageOf(index, column)
    val all = MicroBlockIndex.listParquetFiles(tablePath)
    val covered = cov.count(_._2).toLong
    // DEGRADED serve (any uncovered file = a scan component): advise
    // the structural fix — an AggView bounded by distinct values —
    // and under spark.graft.advisor.autoDistinctView build+register
    // it so later queries serve transparently (round-16 verdict #7)
    if (covered < all.size)
      Advisor.onDistinctDegraded(spark, tablePath, column, covered, all.size.toLong)
    val n =
      if (!cov.exists(_._2))
        // nothing covered: the exact aggregate a plain scan plans
        // (partial count-distinct, no distinct-rows materialization)
        MicroBlockIndex.readFilesAsTable(spark, tablePath, all)
          .select(count_distinct(col(column)).as("n"))
          .first.getLong(0)
      else distinctFrom(spark, index, cov, tablePath, column).count()
    (n, covered, all.size.toLong)
  }

  /** Batched [[countDistinct]] — the [[graft.plans.IndexPruning.decideMany]]
    * discipline: ONE coverage collect and ONE distributed aggregation
    * serve every FULLY-COVERED column (each typed value array explodes
    * tagged by column; a column populates exactly one array, so the
    * per-type partial counts sum without overlap). Columns with any
    * uncovered file fall back to the per-column hybrid path — at
    * typical coverage that's zero extra jobs instead of 2 per column.
    * Returns column → (count, coveredFiles, totalFiles). */
  def countDistinctMany(spark: SparkSession, index: Dataset[FileDict],
      tablePath: String, columns: Seq[String])
      : Map[String, (Long, Long, Long)] = {
    val totalFiles = MicroBlockIndex.listParquetFiles(tablePath).size.toLong
    // one file-listing-scale collect for every column's coverage +
    // populated-type mix
    val covRows = index.filter(col("column").isin(columns: _*))
      .select(col("column"), col("covered"),
        (size(col("valuesLong")) > 0).as("isL"),
        (size(col("valuesDouble")) > 0).as("isD"),
        (size(col("valuesStr")) > 0).as("isS"))
      .collect()
      .groupBy(_.getString(0))
    val cov = covRows.map { case (c, rs) => c -> rs.count(_.getBoolean(1)).toLong }
    // a column whose covered entries mix physical types would DOUBLE
    // COUNT values present in both arrays on the per-type-sum path —
    // route it through the per-column hybrid (which degrades to scan)
    val mixed = covRows.collect { case (c, rs)
        if Seq(rs.exists(r => r.getBoolean(1) && r.getBoolean(2)),
          rs.exists(r => r.getBoolean(1) && r.getBoolean(3)),
          rs.exists(r => r.getBoolean(1) && r.getBoolean(4)))
          .count(identity) > 1 => c }.toSet
    val (full, partial) = columns.partition(c =>
      cov.getOrElse(c, 0L) == totalFiles && !mixed(c))
    val fullCounts: Map[String, Long] =
      if (full.isEmpty) Map.empty
      else {
        val e = index.filter(col("column").isin(full: _*) && col("covered"))
        Seq("valuesLong", "valuesDouble", "valuesStr").map { a =>
          e.select(col("column"), explode(col(a)).as("v"))
            .groupBy("column").agg(count_distinct(col("v")).as("n"))
        }.reduce(_ unionAll _)
          .groupBy("column").agg(sum(col("n")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    (full.map(c => c -> ((fullCounts.getOrElse(c, 0L), totalFiles, totalFiles))) ++
      partial.map(c => c -> countDistinct(spark, index, tablePath, c))).toMap
  }

  /** NULL presence for `column` from metadata alone:
    * (anyNullPresent, unknown). `unknown` is true when ANY live file
    * either has no index entry (schema-evolved file — Spark reads the
    * absent column as all-NULL) or recorded `-1` (footer omitted the
    * null count) — consumers needing a proof must fall back then.
    * Dictionaries hold no non-null ambiguity: this is the one question
    * value sets cannot answer, used by the engine's `SELECT DISTINCT`
    * serve to restore the NULL row plain SQL would return. One
    * file-listing-scale collect (the [[coverageOf]] discipline). */
  def nullPresence(index: Dataset[FileDict], tablePath: String,
      column: String): (Boolean, Boolean) = {
    val rows = index.filter(col("column") === column)
      .select(col("file"), col("nullCount")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val known = rows.map(_._1).toSet
    val missingEntry = MicroBlockIndex.listParquetFiles(tablePath)
      .exists(f => !known.contains(f))
    (rows.exists(_._2 > 0), missingEntry || rows.exists(_._2 < 0))
  }

  /** The files the dictionaries PROVE cannot hold any of `values` for
    * `column` — equality/IN pruning where zone maps see nothing.
    * Distributed decision over the index; only the skip list reaches
    * the driver (the [[graft.plans.IndexPruning.skippedFiles]]
    * contract). Conservative: an uncovered file, an index with no rows
    * for the column, or a probe whose type can't be compared exactly
    * keeps the file. */
  def skippedFilesEq(index: Dataset[_], column: String,
      values: Seq[graft.plans.PredValue]): Seq[String] = {
    val mayMatch = values.map { v =>
      val numHit = v.num.map { d =>
        val asLong = d.toLong
        val longExact = asLong.toDouble == d // probe representable as a long
        (array_contains(col("valuesLong"), lit(asLong)) && lit(longExact)) ||
          array_contains(col("valuesDouble"), lit(d))
      }
      val strHit = v.str.map(s => array_contains(col("valuesStr"), lit(s)))
      (numHit.toSeq ++ strHit.toSeq).reduceOption(_ || _).getOrElse(lit(true))
    }.reduceOption(_ || _).getOrElse(lit(false))
    index.filter(col("column") === column)
      .filter(col("covered") && !mayMatch)
      .select(col("file")).collect().map(_.getString(0)).toSeq
  }

  /** Files whose dictionaries PROVE they hold NONE of `keys` for
    * `column` — the JOIN-DRIVEN (file-level DPP) cut: a selective dim
    * filter's surviving join keys refute fact files one by one, the
    * layout class where min/max see nothing. Unlike
    * [[skippedFilesEq]] (per-value `array_contains` — right for the
    * handful of literals a WHERE carries) the decision here is ONE
    * distributed semi-join of the exploded covered value arrays
    * against the broadcast key set, so dim key sets thousands wide
    * stay plannable. `keys` must be a single column `v` of the
    * physical domain (long / double / string); only covered files can
    * be skipped (uncovered ⇒ unknown ⇒ kept), so the cut is lossless
    * by construction. Only the skip list reaches the driver. */
  def skippedFilesForKeys(index: Dataset[_], column: String,
      keys: DataFrame): Seq[String] = {
    import org.apache.spark.sql.types._
    val arr = keys.schema.head.dataType match {
      case LongType => "valuesLong"
      case DoubleType => "valuesDouble"
      case StringType => "valuesStr"
      case other =>
        throw new IllegalArgumentException(s"unsupported key domain $other")
    }
    val entries = index.filter(col("column") === column && col("covered"))
    val mayMatch = entries
      .select(col("file"), explode(col(arr)).as("v"))
      .join(broadcast(keys.select(col("v")).distinct()), Seq("v"), "left_semi")
      .select(col("file")).distinct()
    entries.select(col("file")).distinct()
      .join(mayMatch, Seq("file"), "left_anti")
      .collect().map(_.getString(0)).toSeq
  }

  /** Pruned point-lookup scan: read only the files [[skippedFilesEq]]
    * could not refute, then apply the row-level filter. An all-refuted
    * probe still returns a correctly-typed empty result (one footer
    * read, zero data pages — never an error, never a silent full
    * scan). */
  def prunedReadEq(spark: SparkSession, index: Dataset[FileDict],
      tablePath: String, column: String, values: Seq[graft.plans.PredValue]): DataFrame = {
    val all = MicroBlockIndex.listParquetFiles(tablePath)
    val skipped = skippedFilesEq(index, column, values).toSet
    val kept = all.filterNot(skipped.contains)
    val rowFilter =
      if (values.size == 1) graft.plans.Cmp("=", column, values.head).toColumn
      else graft.plans.In(column, values).toColumn
    if (kept.isEmpty)
      MicroBlockIndex.readFilesAsTable(spark, tablePath, Seq(all.head))
        .filter(lit(false))
    else MicroBlockIndex.readFilesAsTable(spark, tablePath, kept)
      .filter(rowFilter)
  }

  /** Below this many table bytes the dictionary cut LOSES: the
    * distributed skip-list decision is a fixed ~0.2 s metadata job,
    * which covers more data than a straight parallel scan of a small
    * table (measured: dict_ab at sf0.1 = 17 MB reads 0.26 s dict vs
    * 0.19 s scan; at sf100 the cut wins 0.73 s vs 1.85 s and the gap
    * widens with data — BENCH_DICT.json). 256 MB ≈ the bytes a
    * multi-core scan covers in the decision job's fixed cost. */
  val DefaultPointMinBytes: Long = 256L * 1024 * 1024

  /** Total data bytes under `tablePath` — the size signal the
    * serve-path router runs on. RECURSIVE (round 13): a
    * hive-partitioned layout keeps its data files in nested col=value
    * dirs, so the old top-level listStatus summed ZERO bytes and
    * routed every partitioned table to the plain scan — correct but
    * never the dict cut, exactly when the table is big enough to want
    * it. Shares [[MicroBlockIndex.listParquetFilesWithStatus]] (one
    * recursive listing, `_`/`.` segments skipped) so the byte total
    * agrees file-for-file with what Spark's own listing would scan. */
  def tableBytes(tablePath: String): Long = {
    val key = graft.plans.ZoneMapPruneRule.norm(tablePath)
    val hit = bytesMemo.get(key)
    if (hit != null) hit
    else {
      val p = new Path(tablePath)
      val f = p.getFileSystem(new Configuration())
      val st = f.getFileStatus(p)
      val n =
        if (st.isFile) st.getLen
        else MicroBlockIndex.listParquetFilesWithStatus(tablePath)
          .iterator.map(_._3).sum
      bytesMemo.put(key, n)
      n
    }
  }

  // tableBytes memo (round 17): the recursive listing behind the byte
  // signal cost ~0.1 s PER ROUTE DECISION (measured: dict_ab's
  // point_auto arm paid it every rep — most of its 0.28 s vs the 0.13 s
  // scan arm). The signal is COST-ONLY — a stale total can only pick a
  // slower route, never change rows — so one listing per (root, JVM)
  // suffices; [[invalidateBytes]] is hooked into
  // [[SidecarManifest.invalidate]], which every in-repo layout/sidecar
  // writer already calls.
  private val bytesMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size > 512
    })
  private[sources] def invalidateBytes(tablePath: String): Unit =
    bytesMemo.remove(graft.plans.ZoneMapPruneRule.norm(tablePath))
  private[sources] def invalidateAllBytes(): Unit = bytesMemo.clear()

  /** The route [[prunedReadEqAuto]] takes: "scan" below the byte
    * threshold (the decision job would cost more than it saves),
    * "dict" above — the [[graft.engine.GraftEngine.servePath]]
    * discipline applied to the dictionary cut, exposed so harnesses
    * report the decision actually made. */
  def pointLookupRoute(tablePath: String,
      minBytes: Long = DefaultPointMinBytes): String =
    if (tableBytes(tablePath) < minBytes) "scan" else "dict"

  /** Cost-routed point lookup: identical rows on either route (both
    * end in the same row filter; the dictionary route only shrinks the
    * file list, which [[skippedFilesEq]] proves lossless).
    *
    * The scan route costs THE SCAN (round 13): it reads the table
    * DIRECTORY directly — Spark's own listing, no second explicit
    * listing and no per-file InMemoryFileIndex construction, which the
    * r12 dict_ab measured as point_auto 0.257 s vs point_scan 0.135 s
    * of pure routing overhead at sf0.1. The route decision itself is
    * one top-level listStatus ([[tableBytes]]). */
  def prunedReadEqAuto(spark: SparkSession, index: Dataset[FileDict],
      tablePath: String, column: String, values: Seq[graft.plans.PredValue],
      minBytes: Long = DefaultPointMinBytes): DataFrame =
    if (pointLookupRoute(tablePath, minBytes) == "scan") {
      val rowFilter =
        if (values.size == 1) graft.plans.Cmp("=", column, values.head).toColumn
        else graft.plans.In(column, values).toColumn
      spark.read.parquet(tablePath).filter(rowFilter)
    } else prunedReadEq(spark, index, tablePath, column, values)

  // ---------------------------------------------------------------
  // MEASURED point-lookup router (round 14) — replaces the fixed
  // 256 MB threshold as the shipped decision. The trade it prices:
  // the dictionary route pays a fixed-cost distributed decision job
  // to (maybe) skip most of the scan; the scan route just scans. The
  // crossover is where decision-job seconds meet full-scan seconds —
  // both MEASURED in-session instead of guessed. Round 15: the state
  // lives in the shared PER-TABLE-ROOT store ([[CostRouter]] — also
  // the join-DPP and stats/dict serve gates' model), so a mixed
  // cold/hot-storage deployment prices each table by its own storage
  // and concurrent first lookups can't double-calibrate; the
  // session-global EWMA remains the cold seed for never-seen roots.
  // ---------------------------------------------------------------
  /** Test/bench isolation: forget the session's measured constants. */
  private[graft] def resetRouterStats(): Unit = CostRouter.reset()
  /** The measured constants (decision-job sec, MARGINAL scan
    * bytes/sec) the router would use for `tablePath` — per-root,
    * seeded from the session-global EWMAs for never-calibrated roots.
    * See [[CostRouter]] for the marginal-bandwidth formula (per-job
    * overhead subtracted from the calibration wall time). */
  def routerStats(tablePath: String): (Option[Double], Option[Double]) =
    CostRouter.seededStats(tablePath)

  /** The route the MEASURED router takes for `tablePath` right now:
    * "dict", "scan", or "calibrate" (constants not yet learned — the
    * next [[prunedReadEqMeasured]] seeds them). Both routes pay one
    * scan job; the dictionary route pays the decision job ON TOP and
    * saves (nearly) the whole scan's bytes when the cut works — so it
    * wins exactly when the decision's extra wall time undercuts the
    * per-byte scan cost: dec < bytes / marginal_bw. */
  def pointLookupRouteMeasured(tablePath: String): String =
    routerStats(tablePath) match {
      case (Some(d), Some(bw)) =>
        if (d < tableBytes(tablePath) / bw) "dict" else "scan"
      case _ => "calibrate"
    }

  /** [[prunedReadEqAuto]] with the MEASURED router. Identical rows on
    * every route (same lossless-cut argument); only the cost model
    * differs.
    *
    * FIRST lookup of a never-measured root (round 16): the decision
    * comes from ALREADY-LISTED file metadata only — the fixed-threshold
    * byte model over the one top-level listStatus the route pays anyway
    * — and the median-file calibration scan moves to a background
    * daemon thread. The r15 dict_ab measured the old inline calibration
    * as the regression itself: point_auto 0.295 s vs the best fixed arm
    * 0.200 s at sf0.1, ~an extra Spark job in the first query's wall
    * time. Second-and-later lookups route on the measured constants as
    * before; the dictionary route's decision job still prices itself
    * whenever it runs. */
  def prunedReadEqMeasured(spark: SparkSession, index: Dataset[FileDict],
      tablePath: String, column: String,
      values: Seq[graft.plans.PredValue]): DataFrame = {
    def viaDict(): DataFrame = {
      val t0 = System.nanoTime()
      val df = prunedReadEq(spark, index, tablePath, column, values)
      // prunedReadEq runs its decision job eagerly — the call's wall
      // time IS the decision cost (the returned scan stays lazy)
      CostRouter.observeDecision(tablePath, (System.nanoTime() - t0) / 1e9)
      df
    }
    def viaScan(): DataFrame = {
      val rowFilter =
        if (values.size == 1) graft.plans.Cmp("=", column, values.head).toColumn
        else graft.plans.In(column, values).toColumn
      spark.read.parquet(tablePath).filter(rowFilter)
    }
    // a never-calibrated root self-prices in the background WHATEVER
    // route the seeds pick — otherwise a session-global seed from an
    // unrelated root would suppress per-root pricing forever (the
    // mixed cold/hot-storage story round 15 built). No-op once
    // calibrated; never in the query path.
    CostRouter.calibrateAsync(spark, tablePath)
    pointLookupRouteMeasured(tablePath) match {
      case "scan" => viaScan()
      case "dict" => viaDict()
      case _ => // "calibrate": no constants at all yet — the
        // zero-extra-job fixed-threshold byte model routes the first
        // query of a fresh session
        if (pointLookupRoute(tablePath) == "scan") viaScan() else viaDict()
    }
  }

  /** The table's dictionary SIDECAR location, `<tablePath>/_graft_dict`
    * ([[SidecarManifest.location]]). */
  def sidecarPath(tablePath: String): String =
    SidecarManifest.location(tablePath, SidecarManifest.Dict)

  def save(index: Dataset[FileDict], path: String): Unit =
    index.write.mode("overwrite").parquet(path)

  /** [[save]] at the sidecar location ([[SidecarManifest.save]]). */
  def saveSidecar(index: Dataset[FileDict], tablePath: String): Unit =
    SidecarManifest.save(index.sparkSession, tablePath,
      SidecarManifest.Dict)(save(index, _))

  /** Delete the table's `_graft_dict` sidecar tree (if any) and drop
    * the shared-manifest memo. Bench harnesses use this to guarantee
    * an UNPOISONED scan arm: unregisterDict alone is not enough —
    * sidecar DISCOVERY re-finds any on-disk sidecar, and the A/B
    * silently measures DPP vs DPP (the r13 join-DPP lesson). */
  def deleteSidecar(tablePath: String,
      conf: org.apache.hadoop.conf.Configuration = new Configuration()): Unit = {
    val p = new Path(sidecarPath(tablePath))
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    SidecarManifest.invalidate(tablePath)
  }

  def load(spark: SparkSession, path: String): Dataset[FileDict] = {
    import spark.implicits._
    var df = spark.read.parquet(path)
    // round-10 sidecars predate nullCount, round-12 ones predate the
    // per-file status fields: -1 = unknown, the conservative value
    // every consumer already handles
    for (c <- Seq("nullCount", "fileMtime", "fileSize"))
      if (!df.columns.contains(c)) df = df.withColumn(c, lit(-1L))
    // case-class column order: refresh's by-position union appends an
    // encoder-ordered dataset
    val order = org.apache.spark.sql.Encoders.product[FileDict]
      .schema.fieldNames
    df.select(order.map(col): _*).as[FileDict]
  }

  /** INCREMENTAL refresh (the [[MicroBlockIndex.refresh]] contract):
    * read dictionary pages only for files the existing index doesn't
    * know — append-only ingest updates the index at the cost of the
    * NEW files' metadata, never a full rebuild (at millions of files a
    * rebuild re-reads every dictionary page for a 1% delta). Entries
    * are per-file and independent — no global ids to rebase — so the
    * union IS the refreshed index. `columns` defaults to the columns
    * the existing index covers. Files deleted from disk keep their
    * entries harmlessly (the pruning rule only ever skips files
    * present in the live listing; [[countDistinct]]/[[distinctValues]]
    * key coverage by the live listing too, so a dead entry is never
    * served).
    *
    * CHANGED files (round 15, the [[MicroBlockIndex.refresh]]
    * discipline): a file REWRITTEN IN PLACE keeps its path, so the old
    * path-only diff kept its dead value sets forever. The per-file
    * (mtime, size) serve gates made that stale-but-never-served;
    * now the refresh DETECTS the mismatch against the live listing,
    * drops the dead entries and re-reads the file's dictionary pages —
    * a post-compaction refresh re-enables serving without a full
    * rebuild. Entries recording `-1` (a pre-r13 sidecar) have unknown
    * provenance and re-read once, conservatively. */
  def refresh(spark: SparkSession, tablePath: String, table: String,
      existing: Dataset[FileDict], columns: Seq[String] = Nil): Dataset[FileDict] = {
    import spark.implicits._
    // file-listing-scale collect: recorded (mtime, size) per known file
    // (stamped uniformly across a file's entries)
    val known: Map[String, (Long, Long)] = existing
      .groupBy(col("file"))
      .agg(min(col("fileMtime")).as("m"), min(col("fileSize")).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val live = MicroBlockIndex.listParquetFilesWithStatus(tablePath)
    val changed = live.filter { case (f, m, s) =>
      known.get(f).exists(rec => rec != ((m, s))) // mismatch OR legacy -1
    }
    val changedSet = changed.map(_._1).toSet
    val base =
      if (changedSet.isEmpty) existing
      else existing.filter(!col("file").isin(changedSet.toSeq: _*))
    val newFiles = (live.filterNot(f => known.contains(f._1)) ++ changed)
      .sortBy(_._1)
    if (newFiles.isEmpty) return existing
    val cols =
      if (columns.nonEmpty) columns.toArray
      else existing.select("column").distinct()
        .collect().map(_.getString(0)).sorted // column-count scale
    val numParts = math.max(1, math.min(newFiles.size,
      math.max(spark.sparkContext.defaultParallelism, newFiles.size / 256)))
    val added = spark.sparkContext
      .parallelize(newFiles, numParts)
      .flatMap { case (file, mtime, size) =>
        readFileDicts(table, file, cols)
          .map(_.copy(fileMtime = mtime, fileSize = size))
      }
      .toDS()
    base.toDF().unionByName(added.toDF()).as[FileDict]
  }
}
