package graft

import org.apache.spark.sql.functions._

/** q20's layout A/B from the FIRST-CLASS path: the raw window-rank
  * over a flat orders table (150M-row exchange under WindowExec at
  * sf100) vs the same query over [[graft.sources.Bucketing
  * .ensureBucketed]]'s window-key layout (no exchange, per-bucket sort
  * only — the plan shape PlanAuditSpec pins). Calm-window gated
  * ([[BenchWindow]]); prints one JSON line.
  *
  * Usage: runMain graft.WindowLayoutBench <sfDir> [buckets] [reps]
  */
object WindowLayoutBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WindowLayoutBench <sfDir> [buckets] [reps]")
    val sfDir = args(0)
    val buckets = if (args.length > 1) args(1).toInt else 64
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = BenchWindow.session(BenchWindow.UTC)
    BenchWindow.warm(spark)

    def timed(run: => Unit): Double = BenchWindow.timed(spark, reps)(run).median
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def rank(df: org.apache.spark.sql.DataFrame) = df
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)

    val ((probeSec, rawSec, buildSec, bucketedSec, rowsRaw), window) =
        BenchWindow.calmGated(spark, "window bench") { _ =>
      val probeSec = timed {
        spark.read.parquet(s"$sfDir/orders.parquet").count()
      }
      var rowsRaw = -1L
      val rawSec = timed {
        rowsRaw = rank(spark.read.parquet(s"$sfDir/orders.parquet")).count()
      }
      val buildSec = graft.sources.Bucketing.ensureBucketed(
        spark, spark.read.parquet(s"$sfDir/orders.parquet"),
        "ord_cust_bkt", "o_custkey", buckets,
        columns = Seq("o_orderkey", "o_totalprice"))
      var rowsBucketed = -1L
      val bucketedSec = timed {
        rowsBucketed = rank(spark.table("ord_cust_bkt")).count()
      }
      require(rowsRaw == rowsBucketed,
        s"layout changed the answer: $rowsRaw vs $rowsBucketed")
      (probeSec, rawSec, buildSec, bucketedSec, rowsRaw)
    }
    BenchWindow.emit(s"""{"bench":"window_layout","sf":"$sfDir","reps":$reps,"buckets":$buckets,"rows":$rowsRaw,"probe_sec":$probeSec,"q20_raw_sec":$rawSec,"q20_bucketed_build_sec":$buildSec,"q20_bucketed_sec":$bucketedSec,${window.json}}""")
    spark.stop()
  }
}
