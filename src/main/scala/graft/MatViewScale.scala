package graft

import org.apache.spark.sql.functions._
import graft.sources.AggView

/** The materialized-view serve measured at scale — the A/B behind
  * mb_matview_cdistinct / mb_matview_pctile (the q16 5.8× and q27
  * 4.7× weak rows' at-scale answers):
  *
  *   - q16's grouped COUNT(DISTINCT) shape: the shipped split-distinct
  *     scan plan vs the same answer served from the (group, value,
  *     freq) view;
  *   - q27's exact-percentile shape: the shipped pre-aggregated
  *     percentile scan plan vs `percentile(value, q, freq)` over the
  *     view;
  *   - the TRANSPARENT arms (round 10): the same two shapes as PLAIN
  *     `spark.sql` over the bare table with the views registered —
  *     [[graft.plans.AggViewRewriteRule]] re-plans the aggregates onto
  *     the views with no API call; the delta vs the explicit serves IS
  *     the rule's overhead. Plus the exact integral-SUM rewrite
  *     (`SUM(l_suppkey)` → `SUM(v·freq)` over the view), truth-checked
  *     against one full scan.
  *
  * View builds are one-time indexing-side costs and reported
  * separately, with view row counts vs base rows — the sizing story
  * (the view is bounded by distinct pairs; its rows/base ratio IS the
  * serve speedup's denominator). A no-op refresh is timed too: the
  * fixed metadata cost every maintenance cycle pays. Every arm's
  * VALUES are asserted equal across paths each rep.
  *
  * Usage: runMain graft.MatViewScale [sfDir] [reps]
  * Prints one JSON line and writes target/matview_scale.json.
  */
object MatViewScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf10")
    val reps = if (args.length > 1) args(1).toInt else 5
    // the transparent arm needs the optimizer rule installed; the
    // scan/view arms run BEFORE any view registration, so the rule
    // never fires on them (one empty registry lookup per plan)
    val spark = BenchWindow.session()
    BenchWindow.probe(spark) // JVM warm
    def medianOf(run: => Seq[String]): (Double, Seq[String]) =
      BenchWindow.medianOf(spark, reps, clearCache = false)(run)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    val probeStart = BenchWindow.probe(spark)
    val liPath = s"$sfDir/lineitem.parquet"
    val li = spark.read.parquet(liPath)
    val baseRows = li.count()
    val scratch = s"target/scratch/matview-scale/${new java.io.File(sfDir).getName}"

    // ---- one-time view builds over the raw sf layout ----------------
    val viewCols = Seq("l_partkey", "l_suppkey", "l_extendedprice")
    val builds = viewCols.map { c =>
      val vp = s"$scratch/$c"
      val fresh = !new java.io.File(s"$vp/_graft_view").exists()
      val buildSec = BenchWindow.timeOnce(
        if (fresh) AggView.build(spark, liPath, vp, Seq("l_returnflag"), c))
      val viewRows = AggView.read(spark, vp).count()
      println(f"[matview-scale] view $c: build $buildSec%.1fs (fresh=$fresh), $viewRows rows vs $baseRows base (${viewRows * 100.0 / baseRows}%.1f%%)")
      c -> (vp, buildSec, viewRows, fresh)
    }.toMap

    // ---- q16 shape: grouped COUNT(DISTINCT) -------------------------
    def q16Scan() = {
      val nRows = li.groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
      val nParts = li.select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_parts"))
      val nSupps = li.select("l_returnflag", "l_suppkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_supps"))
      nRows.join(nParts, "l_returnflag").join(nSupps, "l_returnflag")
        .select(col("l_returnflag"), col("n_parts"), col("n_supps"), col("n_rows"))
    }
    def q16View() = {
      val parts = AggView.serveCountDistinct(spark, builds("l_partkey")._1)
        .select(col("l_returnflag"), col("n_distinct").as("n_parts"), col("n_rows"))
      val supps = AggView.serveCountDistinct(spark, builds("l_suppkey")._1)
        .select(col("l_returnflag"), col("n_distinct").as("n_supps"))
      parts.join(supps, "l_returnflag")
        .select(col("l_returnflag"), col("n_parts"), col("n_supps"), col("n_rows"))
    }
    val (q16ScanSec, q16ScanRows) = medianOf(rows(q16Scan()))
    println(f"[matview-scale] q16 scan: $q16ScanSec%.2fs")
    val (q16ViewSec, q16ViewRows) = medianOf(rows(q16View()))
    println(f"[matview-scale] q16 view: $q16ViewSec%.2fs")
    require(q16ScanRows == q16ViewRows,
      s"q16 diverged:\n${q16ScanRows.mkString("\n")}\nvs\n${q16ViewRows.mkString("\n")}")

    // ---- q27 shape: exact interpolated percentile -------------------
    def q27Scan() =
      li.groupBy("l_returnflag", "l_extendedprice")
        .agg(count(lit(1)).as("freq"))
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_extendedprice"), lit(0.5), col("freq")).as("p50"),
          percentile(col("l_extendedprice"), lit(0.9), col("freq")).as("p90"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
    def q27View() =
      AggView.servePercentile(spark, builds("l_extendedprice")._1,
          Seq("p50" -> 0.5, "p90" -> 0.9))
        .select(col("l_returnflag"), col("p50"), col("p90"), col("lo"), col("hi"))
    val (q27ScanSec, q27ScanRows) = medianOf(rows(q27Scan()))
    println(f"[matview-scale] q27 scan: $q27ScanSec%.2fs")
    val (q27ViewSec, q27ViewRows) = medianOf(rows(q27View()))
    println(f"[matview-scale] q27 view: $q27ViewSec%.2fs")
    require(q27ScanRows == q27ViewRows,
      s"q27 diverged:\n${q27ScanRows.mkString("\n")}\nvs\n${q27ViewRows.mkString("\n")}")

    // truths BEFORE any registration — afterwards the same shapes
    // would themselves rewrite onto the view
    val sumTruth = rows(li.groupBy("l_returnflag")
      .agg(sum(col("l_suppkey")).as("s")))
    def whereScan() = li.filter(col("l_suppkey") <= 500)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("nd"), count(lit(1)).as("n"))
    val (whereScanSec, whereTruth) = medianOf(rows(whereScan()))
    println(f"[matview-scale] filtered scan: $whereScanSec%.2fs")

    // ---- maintenance fixed cost: a no-op refresh --------------------
    var refreshed = true
    val refreshNoopSec = BenchWindow.timeOnce {
      refreshed = AggView.refresh(spark, liPath, builds("l_partkey")._1)
    }
    require(!refreshed, "no-op refresh must report no new files")

    // ---- transparent arms: plain SQL, rule re-plans onto the views --
    viewCols.foreach(c =>
      graft.plans.AggViewRewriteRule.registerView(liPath, builds(c)._1))
    li.createOrReplaceTempView("mv_lineitem")
    def scansView(df: org.apache.spark.sql.DataFrame, vp: String): Boolean = {
      val needle = new java.io.File(vp).getAbsolutePath
      BenchWindow.fileRelations(df)
        .exists(_.location.rootPaths.exists(_.toString.contains(needle)))
    }
    def q16Sql() = spark.sql(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM mv_lineitem GROUP BY l_returnflag""".stripMargin)
    require(scansView(q16Sql(), builds("l_partkey")._1) &&
      scansView(q16Sql(), builds("l_suppkey")._1),
      "transparent q16 must serve from both views")
    val (q16SqlSec, q16SqlRows) = medianOf(rows(q16Sql()))
    println(f"[matview-scale] q16 transparent sql: $q16SqlSec%.2fs")
    require(q16SqlRows == q16ScanRows, "transparent q16 diverged from scan")

    def q27Sql() = spark.sql(
      """SELECT l_returnflag, PERCENTILE(l_extendedprice, 0.5) AS p50,
        |  PERCENTILE(l_extendedprice, 0.9) AS p90,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM mv_lineitem GROUP BY l_returnflag""".stripMargin)
    require(scansView(q27Sql(), builds("l_extendedprice")._1),
      "transparent q27 must serve from the price view")
    val (q27SqlSec, q27SqlRows) = medianOf(rows(q27Sql()))
    println(f"[matview-scale] q27 transparent sql: $q27SqlSec%.2fs")
    require(q27SqlRows == q27ScanRows, "transparent q27 diverged from scan")

    // exact integral SUM: Σv ≡ Σv·freq — truth from ONE full scan
    def sumSql() = spark.sql(
      """SELECT l_returnflag, SUM(l_suppkey) AS s
        |FROM mv_lineitem GROUP BY l_returnflag""".stripMargin)
    require(scansView(sumSql(), builds("l_suppkey")._1),
      "transparent SUM must serve from the suppkey view")
    val (sumSqlSec, sumSqlRows) = medianOf(rows(sumSql()))
    println(f"[matview-scale] sum transparent sql: $sumSqlSec%.2fs")
    require(sumSqlRows == sumTruth, "transparent SUM diverged from scan")

    // pushed WHERE: the filter commutes with the view (refs are in
    // group ∪ value), so the filtered aggregate serves at view scale
    def whereSql() = spark.sql(
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS nd,
        |  COUNT(*) AS n FROM mv_lineitem WHERE l_suppkey <= 500
        |GROUP BY l_returnflag""".stripMargin)
    require(scansView(whereSql(), builds("l_suppkey")._1),
      "filtered transparent query must serve from the suppkey view")
    val (whereSqlSec, whereSqlRows) = medianOf(rows(whereSql()))
    println(f"[matview-scale] filtered transparent sql: $whereSqlSec%.2fs")
    require(whereSqlRows == whereTruth, "filtered transparent diverged from scan")

    val probeEnd = BenchWindow.probe(spark)
    val buildJson = viewCols.map { c =>
      val (_, sec, vr, fresh) = builds(c)
      s""""build_$c":{"sec":$sec,"fresh":$fresh,"view_rows":$vr}"""
    }.mkString(",")
    val line =
      s"""{"bench":"matview_scale","sf":"$sfDir","reps":$reps,"base_rows":$baseRows,""" +
        s""""probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,""" +
        buildJson + "," +
        s""""q16_scan_sec":$q16ScanSec,"q16_view_sec":$q16ViewSec,""" +
        s""""q27_scan_sec":$q27ScanSec,"q27_view_sec":$q27ViewSec,""" +
        s""""q16_transparent_sql_sec":$q16SqlSec,""" +
        s""""q27_transparent_sql_sec":$q27SqlSec,""" +
        s""""sum_transparent_sql_sec":$sumSqlSec,""" +
        s""""where_scan_sec":$whereScanSec,""" +
        s""""where_transparent_sql_sec":$whereSqlSec,""" +
        s""""refresh_noop_sec":$refreshNoopSec}"""
    BenchWindow.emit(line, "target/matview_scale.json")
    spark.stop()
  }
}
