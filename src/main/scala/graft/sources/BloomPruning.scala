package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Equality/IN file pruning from PARQUET-NATIVE BLOOM FILTERS — the
  * high-cardinality completion of [[DictionaryIndex]]'s exact cut.
  *
  * The two compose into full coverage of the point-lookup problem:
  * parquet-mr writes a chunk's bloom filter only when the chunk is NOT
  * fully dictionary-encoded (a complete dictionary already answers
  * membership exactly), so the dictionary index covers exactly the
  * chunks blooms skip and vice versa. For the columns that matter at
  * 100 TB — doc_id, URL, order id: cardinalities that overflow every
  * dictionary cap — the bloom is the only metadata that can refute
  * `col = v` on an unclustered layout (min/max spans everything).
  *
  * Write side: any Spark parquet write opts in per column —
  * `.option("parquet.bloom.filter.enabled#<col>", "true")` (+ the
  * `expected.ndv#<col>` sizing hint; parquet-mr caps the bitset at
  * `parquet.bloom.filter.max.bytes`, default 1 MB — size expectations
  * accordingly: an undersized bloom only raises the false-positive
  * rate, never loses rows).
  *
  * Decision side: STATELESS — one metadata job over the file list at
  * query time (no index table to build or refresh; the blooms live in
  * the files). Per row group: a missing bloom keeps the file
  * conservatively; a present bloom refutes a value iff `findHash` says
  * absent — bloom filters have NO false negatives, so a refuted file
  * provably holds no matching row. Probe-vs-column type mismatches
  * keep conservatively except where equality is structurally
  * impossible (a fractional probe on an integer column).
  *
  * Reference contract: extends the same stats-only pruning thesis as
  * the zone maps (query_enginev5.py:66-233) to the value-membership
  * level; the reads are bloom-bytes (~KB–MB per chunk), never data
  * pages.
  */
object BloomPruning {

  /** The files whose blooms PROVE they hold none of `values` for
    * `column`. One distributed metadata pass; only the skip list
    * reaches the driver. */
  def skippedFilesEq(spark: SparkSession, tablePath: String, column: String,
      values: Seq[graft.plans.PredValue]): Seq[String] = {
    val files = MicroBlockIndex.listParquetFiles(tablePath)
    if (files.isEmpty || values.isEmpty) return Nil
    val numParts = math.max(1, math.min(files.size,
      math.max(spark.sparkContext.defaultParallelism, files.size / 256)))
    val nums = values.flatMap(_.num)
    val strs = values.flatMap(_.str)
    spark.sparkContext
      .parallelize(files, numParts)
      .filter(file => !fileMayMatch(file, column, nums, strs))
      .collect().toSeq
  }

  /** Pruned point-lookup scan over the bloom survivors (the
    * [[DictionaryIndex.prunedReadEq]] contract: all-refuted probes
    * return a typed empty result from one footer read). */
  def prunedReadEq(spark: SparkSession, tablePath: String, column: String,
      values: Seq[graft.plans.PredValue]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val all = MicroBlockIndex.listParquetFiles(tablePath)
    val skipped = skippedFilesEq(spark, tablePath, column, values).toSet
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

  /** The DISCOVERY MARKER ([[SidecarManifest.Bloom]]): one tiny
    * underscore-prefixed text file beside the data naming the bloom'd
    * columns, dropped at write time. Underscore ⇒ invisible to Spark's
    * file listing, like the zone and dictionary sidecars — but unlike
    * those this is NOT an index: blooms are stateless-in-file, so the
    * marker only answers "is probing this table worth a metadata job,
    * and for which columns" — the question [[graft.plans
    * .ZoneMapPruneRule]] must never answer by probing arbitrary
    * relations. No staleness guard needed either: files appended
    * without blooms keep conservatively (a missing bloom never
    * refutes), so a marker can only ever cost a fruitless probe, never
    * rows.
    *
    * Call after writing the table with
    * `parquet.bloom.filter.enabled#<col>`; from then on any session's
    * plain SQL/DataFrame equality filters over the table get the bloom
    * cut with no register call. */
  def writeMarker(tablePath: String, columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "marker needs at least one bloom'd column")
    SidecarManifest.writeMarker(tablePath, SidecarManifest.Bloom, columns.mkString("\n"))
  }

  /** The marker's column list, read once per (root, session); None
    * when no (non-empty) marker exists. */
  def markerColumns(spark: SparkSession, tablePath: String): Option[Seq[String]] =
    SidecarManifest.markerLines(tablePath, spark, SidecarManifest.Bloom)

  /** Executor-side: may any row group of `file` hold any probe value? */
  private def fileMayMatch(file: String, column: String,
      nums: Seq[Double], strs: Seq[String]): Boolean = {
    val in = HadoopInputFile.fromPath(new Path(file), new Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val cd = footer.getFileMetaData.getSchema.getColumns.asScala
        .find(_.getPath.mkString(".") == column)
        .getOrElse(return true) // column absent: never refute
      val pt = cd.getPrimitiveType
      // the same wrong-equality-domain guards as the dictionary index
      import org.apache.parquet.schema.LogicalTypeAnnotation._
      val logical = pt.getLogicalTypeAnnotation
      val domainSafe = pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
          logical match {
            case null => true
            case i: IntLogicalTypeAnnotation => i.isSigned
            // Catalyst probes are MICROS; a MILLIS/NANOS file hashes a
            // different scale, so its bloom would falsely refute
            case t: TimestampLogicalTypeAnnotation =>
              t.getUnit == TimeUnit.MICROS
            case _: DateLogicalTypeAnnotation => true
            case _ => false
          }
        case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => true
        case PrimitiveTypeName.BINARY =>
          logical.isInstanceOf[StringLogicalTypeAnnotation] ||
            logical.isInstanceOf[EnumLogicalTypeAnnotation]
        case _ => false
      }
      if (!domainSafe) return true
      footer.getBlocks.asScala.exists { bm =>
        val cc = bm.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(return true)
        val bloom = reader.readBloomFilter(cc)
        if (bloom == null) {
          // no bloom: refutable only when the chunk provably holds no
          // values at all (all-null) — otherwise keep
          val stats = cc.getStatistics
          !(stats != null && stats.isNumNullsSet && stats.getNumNulls == cc.getValueCount)
        } else anyProbeHits(bloom, pt.getPrimitiveTypeName, nums, strs)
      }
    } finally reader.close()
  }

  /** Does any probe value possibly appear, per the bloom? Typed by the
    * column's physical type; cross-type probes keep conservatively
    * unless equality is structurally impossible. */
  private def anyProbeHits(bloom: BloomFilter, t: PrimitiveTypeName,
      nums: Seq[Double], strs: Seq[String]): Boolean = {
    if (strs.nonEmpty && t != PrimitiveTypeName.BINARY) return true // string-vs-number: Spark casts; keep
    if (nums.nonEmpty && t == PrimitiveTypeName.BINARY) return true // number-vs-string: keep
    t match {
      case PrimitiveTypeName.INT64 =>
        nums.exists { d =>
          val l = d.toLong
          l.toDouble == d && bloom.findHash(bloom.hash(l))
        }
      case PrimitiveTypeName.INT32 =>
        nums.exists { d =>
          val i = d.toInt
          i.toDouble == d && bloom.findHash(bloom.hash(i))
        }
      case PrimitiveTypeName.DOUBLE =>
        nums.exists(d => bloom.findHash(bloom.hash(d)))
      case PrimitiveTypeName.FLOAT =>
        nums.exists { d =>
          val f = d.toFloat
          f.toDouble == d && bloom.findHash(bloom.hash(f))
        }
      case PrimitiveTypeName.BINARY =>
        strs.exists(s => bloom.findHash(bloom.hash(Binary.fromString(s))))
      case _ => true
    }
  }
}
