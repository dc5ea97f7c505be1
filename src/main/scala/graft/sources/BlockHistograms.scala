package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Per-file equi-width histogram over one column — CBO-grade statistics
  * for the micro-block layout, one level finer than the zone map.
  *
  * Footer min/max answer "CAN this block match?"; a histogram answers
  * "HOW MANY rows will?". That estimate is what scan-vs-serve decisions
  * and layout election actually need at 100 TB: two layouts may keep the
  * same block count for a predicate yet scan very different row volumes,
  * and a cache/prefetch planner sizing reads from block counts alone
  * over- or under-provisions by the block's internal skew.
  *
  * Built in ONE data scan restricted to (column, file name): rows
  * bucket scan-locally against plan-shipped [lo, hi] grid constants and
  * combine map-side, so the shuffle carries ≤ files × buckets counter
  * rows — metadata-scale, never data-scale. The grid bounds come from
  * the caller (at scale: the zone-map index's global min/max — already
  * known, no extra pass).
  */
final case class FileHistogram(
    table: String,
    file: String,
    column: String,
    lo: Double,
    hi: Double,
    rows: Long,
    counts: Seq[Long])

object BlockHistograms {

  /** Numeric view of a column, aligned with the zone-map footer units
    * ([[MicroBlockIndex]] / [[graft.plans.PredValue]]): timestamps as
    * epoch MICROS (physical INT64 in Spark-written parquet), dates as
    * epoch DAYS (physical INT32 — a double cast would throw and the
    * footer bounds are day-valued anyway), numerics as double. */
  private def numericView(df: org.apache.spark.sql.DataFrame, column: String) =
    df.schema(column).dataType match {
      case TimestampType | TimestampNTZType => unix_micros(col(column).cast("timestamp"))
      case DateType => unix_date(col(column))
      case _ => col(column).cast("double")
    }

  /** Build per-file histograms for `column` over a parquet table path.
    * `lo`/`hi` span the global value range (source them from the
    * zone-map index; values outside clamp into the edge buckets). */
  def build(spark: SparkSession, tablePath: String, table: String,
      column: String, lo: Double, hi: Double, buckets: Int = 32): Dataset[FileHistogram] = {
    import spark.implicits._
    require(buckets > 0 && hi >= lo, s"bad grid [$lo,$hi] x$buckets")
    val df = spark.read.parquet(tablePath)
    val v = numericView(df, column)
    val bucket =
      if (hi == lo) lit(0)
      else least(lit(buckets - 1), greatest(lit(0),
        floor((v - lit(lo)) / (lit(hi) - lit(lo)) * lit(buckets.toDouble)))).cast("int")
    val cells = df
      .filter(col(column).isNotNull)
      .select(input_file_name().as("file"), bucket.as("bucket"))
      .groupBy("file", "bucket").agg(count(lit(1)).as("cnt"))
    val countCols = (0 until buckets).map(i =>
      sum(when(col("bucket") === i, col("cnt")).otherwise(0L)).as(s"b$i"))
    cells.groupBy("file")
      .agg(countCols.head, countCols.tail: _*)
      .select(
        lit(table).as("table"), col("file"), lit(column).as("column"),
        lit(lo).as("lo"), lit(hi).as("hi"),
        (0 until buckets).map(i => col(s"b$i")).reduce(_ + _).as("rows"),
        array((0 until buckets).map(i => col(s"b$i")): _*).as("counts"))
      .as[FileHistogram]
  }

  /** Convenience: grid bounds from the zone-map index (no data pass). */
  def buildFromIndex(spark: SparkSession, tablePath: String, table: String,
      column: String, index: Dataset[BlockStat], buckets: Int = 32): Dataset[FileHistogram] = {
    val bounds = index.filter(col("column") === column)
      .agg(min(col("minNum")), max(col("maxNum"))).head()
    require(!bounds.isNullAt(0) && !bounds.isNullAt(1),
      s"no numeric zone-map bounds for $column")
    build(spark, tablePath, table, column, bounds.getDouble(0), bounds.getDouble(1), buckets)
  }

  /** Estimated rows of `h` matching value range [qLo, qHi] (inclusive):
    * full buckets count whole, boundary buckets interpolate uniformly —
    * the textbook equi-width estimator. Always within [0, h.rows]. */
  def estimateRange(h: FileHistogram, qLo: Double, qHi: Double): Double = {
    if (qHi < qLo || h.rows == 0) return 0.0
    if (h.hi == h.lo)
      return if (qLo <= h.lo && h.lo <= qHi) h.rows.toDouble else 0.0
    val w = (h.hi - h.lo) / h.counts.length
    var est = 0.0
    var i = 0
    while (i < h.counts.length) {
      val bLo = h.lo + i * w
      // the last bucket also holds clamped values at/above h.hi
      val bHi = if (i == h.counts.length - 1) h.hi else h.lo + (i + 1) * w
      val ovLo = math.max(bLo, qLo)
      val ovHi = math.min(bHi, qHi)
      if (ovHi >= ovLo) {
        val frac =
          if (bHi == bLo) 1.0
          else math.min(1.0, (ovHi - ovLo) / (bHi - bLo))
        est += h.counts(i) * frac
      }
      i += 1
    }
    math.min(est, h.rows.toDouble)
  }
}
