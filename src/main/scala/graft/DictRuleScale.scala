package graft

import org.apache.spark.sql.functions._
import graft.sources.DictionaryIndex

/** The TRANSPARENT dictionary COUNT(DISTINCT) (plans/DictDistinctRule,
  * the mb_dict_sql row) measured at scale: the same plain spark.sql
  * statement timed BEFORE any sidecar exists (full column scan) and
  * AFTER `_graft_dict` is saved (rule re-plans onto dictionary pages),
  * same session, same window; values asserted equal. The sidecar build
  * is the one-time indexing cost, reported separately.
  *
  * Usage: runMain graft.DictRuleScale [sfDir] [reps]
  * Prints one JSON line + target/dict_rule_scale.json.
  */
object DictRuleScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf100")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = BenchWindow.session()
    BenchWindow.probe(spark) // JVM warm
    def medianOf(run: => Seq[String]): (Double, Seq[String]) =
      BenchWindow.medianOf(spark, reps, clearCache = false)(run)
    val probeStart = BenchWindow.probe(spark)
    val liPath = s"$sfDir/lineitem.parquet"
    // a clean slate: the scan arm must not accidentally serve from a
    // previous run's sidecar
    val sidecar = new org.apache.hadoop.fs.Path(
      DictionaryIndex.sidecarPath(liPath))
    sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sidecar, true)
    graft.sources.SidecarManifest.invalidateAll()

    spark.read.parquet(liPath).createOrReplaceTempView("drs_li")
    val sql = """SELECT COUNT(DISTINCT l_suppkey) AS nd_supp,
      |  COUNT(DISTINCT l_quantity) AS nd_qty FROM drs_li""".stripMargin
    def reads(df: org.apache.spark.sql.DataFrame): Boolean =
      graft.sources.SidecarManifest.readIn(
        df.queryExecution.optimizedPlan, graft.sources.SidecarManifest.Dict)

    require(!reads(spark.sql(sql)), "scan arm must not see a sidecar")
    val (scanSec, scanRows) = medianOf(
      spark.sql(sql).collect().map(_.toString).toSeq)
    println(f"[dict-rule-scale] scan: $scanSec%.2fs")

    val buildSec = BenchWindow.timeOnce {
      DictionaryIndex.saveSidecar(DictionaryIndex.build(
        spark, liPath, "lineitem", Seq("l_suppkey", "l_quantity")), liPath)
    }
    println(f"[dict-rule-scale] sidecar build+save: $buildSec%.2fs")

    require(reads(spark.sql(sql)), "transparent arm must serve from the sidecar")
    val (ruleSec, ruleRows) = medianOf(
      spark.sql(sql).collect().map(_.toString).toSeq)
    println(f"[dict-rule-scale] transparent serve: $ruleSec%.2fs")
    require(scanRows == ruleRows,
      s"arms diverged: $scanRows vs $ruleRows")

    val probeEnd = BenchWindow.probe(spark)
    val line =
      s"""{"bench":"dict_rule_scale","sf":"$sfDir","reps":$reps,""" +
        s""""probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,""" +
        s""""scan_sec":$scanSec,"sidecar_build_sec":$buildSec,""" +
        s""""transparent_serve_sec":$ruleSec,"values_equal":true}"""
    BenchWindow.emit(line, "target/dict_rule_scale.json")
    spark.stop()
  }
}
