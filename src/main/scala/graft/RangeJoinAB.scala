package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured A/B for the q42 key-less interval join: the bin
  * decomposition ([[graft.operators.TemporalOps.intervalBinStats]])
  * vs the naive inequality-only join Spark plans as a
  * BroadcastNestedLoopJoin. The plan audit pins the SHAPE; this pins
  * the SLOPE: the naive arm's work is |errors|×|clicks| predicate
  * evaluations (quadratic in corpus scale), the bin arm's is one hash
  * join on the bin key (linear in rows + matches).
  *
  * The corpus scales by unioning time-SHIFTED copies (400 days apart,
  * ids re-based) so no window ever crosses copies — match structure
  * replicates exactly ×factor and linear is the correct asymptote
  * (the LlmScale construction, applied to events). At every factor
  * the two arms' results are aggregate-compared: the naive join is an
  * in-engine oracle for the decomposition at scales where the DuckDB
  * oracle does not run.
  *
  * Usage: runMain graft.RangeJoinAB [srcDir] [factors] [naiveMaxFactor]
  * Writes target/range_join_ab.json.
  */
object RangeJoinAB {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factors =
      if (args.length > 1) args(1).split(',').map(_.toInt).toSeq else Seq(1, 4)
    val naiveMax = if (args.length > 2) args(2).toInt else 4
    val spark = BenchWindow.session()
    import graft.engine.Tables

    val W = 300000000L // 5 min in µs
    val ev = Tables.load(spark, src, "events")
    val err0 = ev.filter(col("event_type") === "error")
      .select(col("event_id"), unix_micros(col("ts")).as("t")).persist()
    val clk0 = ev.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("ct"),
        col("value").cast("decimal(18,2)").as("v")).persist()
    val idSpan = err0.agg(max("event_id")).head.getLong(0) + 1
    val shift = 400L * 24 * 3600 * 1000000L // copies never share a window

    def scaled(f: Int): (DataFrame, DataFrame) = (
      (0 until f).map(i => err0.select(
        (col("event_id") + lit(i * idSpan)).as("event_id"),
        (col("t") + lit(i * shift)).as("t"))).reduce(_ unionAll _),
      (0 until f).map(i => clk0.select(
        (col("ct") + lit(i * shift)).as("ct"), col("v"))).reduce(_ unionAll _))

    // both arms reduce to the same (rows, Σcount, Σsum) fingerprint
    def fingerprint(perEvent: DataFrame): (Long, Long, java.math.BigDecimal) = {
      val r = perEvent.agg(count(lit(1)),
        coalesce(sum("cnt"), lit(0L)), sum(col("s"))).head
      (r.getLong(0), r.getLong(1), r.getDecimal(2))
    }
    def binArm(err: DataFrame, clk: DataFrame): DataFrame =
      graft.operators.TemporalOps.intervalBinStats(
          err, Seq("event_id"), col("t"), clk, col("ct"), col("v"), W)
        .select(col("event_id"), col("range_count").as("cnt"), col("range_sum").as("s"))
    def naiveArm(err: DataFrame, clk: DataFrame): DataFrame =
      err.join(clk, col("ct") >= col("t") - W && col("ct") < col("t"), "left")
        .groupBy("event_id")
        .agg(count(col("ct")).as("cnt"), sum(col("v")).as("s"))

    // re-persist the base frames after each rep's cache clear
    val keepBase = () => { err0.persist(); clk0.persist(); () }

    val probeStart = BenchWindow.probe(spark)
    val rows = factors.map { f =>
      val (err, clk) = scaled(f)
      val (binSec, binFp) = BenchWindow.medianOf(spark, 3, prep = keepBase)(
        fingerprint(binArm(err, clk)))
      val naive = f <= naiveMax
      val (naiveSec, naiveFp) =
        if (naive) BenchWindow.medianOf(spark, 3, prep = keepBase)(
          fingerprint(naiveArm(err, clk)))
        else (-1.0, null)
      if (naive) require(binFp == naiveFp,
        s"arms disagree at x$f: bin=$binFp naive=$naiveFp")
      println(f"[range-ab] x$f bin=$binSec%.2fs naive=" +
        (if (naive) f"$naiveSec%.2fs (fingerprints MATCH)" else "skipped") +
        s" rows=${binFp._1} matches=${binFp._2}")
      s"""{"factor":$f,"bin_sec":$binSec,"naive_sec":$naiveSec,""" +
        s""""rows":${binFp._1},"matches":${binFp._2},"verified":$naive}"""
    }
    val probeEnd = BenchWindow.probe(spark)
    BenchWindow.emit(
      s"""{"src":"$src","window_us":$W,"reps":3,"stat":"median",""" +
        s""""probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,""" +
        s""""factors":[${rows.mkString(",")}]}""",
      "target/range_join_ab.json")
    spark.stop()
  }
}
