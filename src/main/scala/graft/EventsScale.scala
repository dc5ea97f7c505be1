package graft

import org.apache.spark.sql.functions._

/** Materializes a scaled `events` table for the q42/q31-family ledger
  * rows: `factor` time-SHIFTED copies (400 days apart, event_ids
  * re-based) — the [[RangeJoinAB]] construction written to disk so
  * BOTH engines (graft and the DuckDB oracle side) read the same
  * files. No interval window ever crosses copies, so the match
  * structure replicates exactly ×factor and the work genuinely is
  * factor × the base work — linear is the correct asymptote.
  *
  * sf0.1 holds 100k events; factor 1000 ≈ the events volume the sf100
  * fact tables imply (100M rows, ~2 GB).
  *
  * Usage: runMain graft.EventsScale [srcDir] [outDir] [factor]
  */
object EventsScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/events_x1000"
    val factor = if (args.length > 2) args(2).toInt else 1000
    val spark = BenchWindow.plainSession()
    val ev = graft.engine.Tables.load(spark, src, "events")
    val idSpan = ev.agg(max(col("event_id"))).head.getLong(0) + 1
    val userSpan = ev.agg(max(col("user_id"))).head.getLong(0) + 1
    val shiftUs = 400L * 24 * 3600 * 1000000L
    val scaled = (0 until factor).map { i =>
      ev.select(
        (col("event_id") + lit(idSpan * i)).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + lit(shiftUs * i)).as("ts"),
        (col("user_id") + lit(userSpan * i)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
    // scan parallelism = file count for single-row-group files; size
    // for all cores busy at the target factor
    scaled.repartition(math.max(16, math.min(128, factor / 8)))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"[events-scale] ${spark.read.parquet(s"$out/events.parquet").count()} rows at x$factor -> $out")
    spark.stop()
  }
}
