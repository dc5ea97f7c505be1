package graft

import graft.engine.{GraftEngine, PruningBench}
import graft.sources.MicroBlockWriter

/** The q9-shape A/B at a scale where it means something: zone-map
  * top-k serving vs a full-scan TakeOrdered, on lineitem clustered by
  * l_shipdate.
  *
  * At sf0.1 the engine's fixed serve-path overhead (~0.15s: pruning
  * decision job + view analysis) dominates, so `topk_ab` there shows
  * fewer FILES but not less TIME. The reference's thesis
  * (query_enginev5.py:66-233) is that stats-ordered block serving wins
  * once data is big enough that scanning everything costs more than
  * deciding what not to scan — this harness measures exactly that
  * crossover point's far side. Run after `ScaleData` has produced the
  * sf dir.
  *
  * Usage: runMain graft.TopKScale [sfDir] [reps] [blocks]
  * Prints one JSON line and writes it to target/topk_scale.json.
  */
object TopKScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf10")
    val reps = if (args.length > 1) args(1).toInt else 5
    val blocks = if (args.length > 2) args(2).toInt else 64
    val spark = BenchWindow.session() // extensions: the transparent top-k rule arm
    BenchWindow.probe(spark) // JVM warm

    // pay-once clustering (parquet_to_microblocks parity); reuse a
    // surviving layout so re-runs measure serving, not the write
    val mbPath = s"target/scratch/topk-scale/lineitem-$blocks"
    val buildSec = BenchWindow.timeOnce {
      if (!BenchWindow.written(mbPath))
        MicroBlockWriter.write(
          spark.read.parquet(s"$sfDir/lineitem.parquet"), mbPath, "l_shipdate", blocks)
    }

    // COLD transparent serve (round 14 — the q9 weak-row tail): the
    // very first graft-touching statement of the session, before any
    // engine construction or registration. Pays sidecar discovery
    // (manifest listing + _SUCCESS stat), the sidecar parquet load,
    // the single-stage top-k decision and the 1-file scan — the
    // fresh-session cost a warm number hides. Only measurable when a
    // PREVIOUS run left the sidecar (first run seeds it below).
    val ruleSql =
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM topk_scale_li
        |ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin
    val hasSidecar = BenchWindow.written(graft.sources.MicroBlockIndex.sidecarPath(mbPath))
    val coldSec = if (!hasSidecar) -1.0 else {
      spark.read.parquet(mbPath).createOrReplaceTempView("topk_scale_li")
      BenchWindow.timeOnce(spark.sql(ruleSql).collect())
    }

    val engine = new GraftEngine(spark, mbPath, "lineitem")
    if (!hasSidecar) engine.saveIndexSidecar()

    if (sys.env.contains("SPARK_GRAFT_DIAG")) {
      import org.apache.spark.sql.functions.col
      def t(label: String)(run: => Unit): Unit = {
        System.gc()
        println(f"[diag] $label: ${BenchWindow.timeOnce(run)}%.3fs")
      }
      val tb = Seq("l_orderkey", "l_linenumber")
      val files = engine.blocks.map(_.file).distinct
      t("raw full-scan TakeOrdered")(
        spark.read.parquet(files: _*).filter(col("l_shipdate").isNotNull)
          .orderBy(col("l_shipdate").desc +: tb.map(col(_).asc): _*)
          .limit(10).collect())
      val lastFile = engine.blocks.maxBy(_.blockId).file
      t("raw ONE-file TakeOrdered")(
        spark.read.parquet(lastFile).filter(col("l_shipdate").isNotNull)
          .orderBy(col("l_shipdate").desc +: tb.map(col(_).asc): _*)
          .limit(10).collect())
      (1 to 3).foreach { i =>
        t(s"engine.topK cold rep$i") {
          engine.cache.clear()
          engine.topK("l_shipdate", 10, tb).collect()
        }
      }
      t("engine.topK warm")(engine.topK("l_shipdate", 10, tb).collect())
    }
    val probeStart = BenchWindow.probe(spark)
    val rows = PruningBench.runTopK(
      spark, engine, "l_shipdate", 10, Seq("l_orderkey", "l_linenumber"), reps)

    // round 9: the TRANSPARENT serve — the same q9 shape through plain
    // spark.sql with ZoneMapPruneRule's Sort+Limit arm firing; no
    // engine call in the query path at all. No explicit registration:
    // constructing the GraftEngine above already registered its index.
    spark.read.parquet(mbPath).createOrReplaceTempView("topk_scale_li")
    def ruleScanFiles: Long = {
      val df = spark.sql(ruleSql)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length.toLong
      }.getOrElse(-1L)
    }
    val ruleFiles = ruleScanFiles // decision job + codegen warm-up
    val (ruleSec, ruleRows) = BenchWindow.medianOf(spark, reps, clearCache = false)(
      spark.sql(ruleSql).collect().length.toLong)
    val ruleRow = PruningBench.AbRow("sql_rule_topk", ruleSec, ruleFiles, ruleRows)

    val probeEnd = BenchWindow.probe(spark)
    val line =
      s"""{"bench":"topk_scale","sf":"$sfDir","reps":$reps,"blocks":$blocks,""" +
        s""""mb_build_sec":$buildSec,"probe_start_sec":$probeStart,""" +
        s""""probe_end_sec":$probeEnd,"sql_rule_topk_cold_sec":$coldSec,""" +
        s""""topk_ab":${PruningBench.toJson(rows :+ ruleRow)}}"""
    BenchWindow.emit(line, "target/topk_scale.json")
    spark.stop()
  }
}
