package graft


/** The zone-stats aggregate serve (plans/ZoneAggRule, the mb_zone_agg
  * row) measured at scale: the same plain spark.sql statements — a
  * filtered COUNT(*)/COUNT/MIN/MAX over the shipdate-clustered layout
  * and the unfiltered COUNT(*) — timed BEFORE any `_graft_index`
  * exists (full scan) and AFTER it is saved (all-match files answer
  * from footer metadata, straddlers scan; the unfiltered count runs
  * no scan at all), same session, same window; values asserted equal.
  * The DictRuleScale discipline: scan first, sidecar second, so the
  * scan arm structurally cannot be poisoned by discovery. Calm-window
  * gated; prints one JSON line.
  *
  * Usage: runMain graft.ZoneAggScale <sfDir> [blocks] [reps]
  */
object ZoneAggScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ZoneAggScale <sfDir> [blocks] [reps]")
    val sfDir = args(0)
    val blocks = if (args.length > 1) args(1).toInt else 64
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = BenchWindow.session(BenchWindow.UTC)
    BenchWindow.warm(spark)

    val sfName = new java.io.File(sfDir).getName
    val out = s"target/scratch/zoneaggscale/$sfName/lineitem"
    if (!BenchWindow.written(out)) {
      graft.sources.MicroBlockWriter.write(
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select("l_shipdate", "l_returnflag", "l_linenumber", "l_quantity"),
        out, "l_shipdate", blocks)
    }
    val sidecar = new org.apache.hadoop.fs.Path(
      graft.sources.MicroBlockIndex.sidecarPath(out))

    spark.read.parquet(out).createOrReplaceTempView("zas_li")
    val qFiltered = """SELECT COUNT(*) AS n, COUNT(l_returnflag) AS nf,
      |  MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx
      |FROM zas_li
      |WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00'""".stripMargin
    val qStar = "SELECT COUNT(*) AS n FROM zas_li"
    // round 14: SUM from per-file exact sums (MicroBlockIndex.withSums)
    val qSum = """SELECT SUM(l_linenumber) AS s, COUNT(*) AS n
      |FROM zas_li
      |WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00'""".stripMargin
    val qSumAll = "SELECT SUM(l_linenumber) AS s FROM zas_li"

    def served(df: org.apache.spark.sql.DataFrame): Boolean =
      graft.plans.ZoneAggRule.servedSignature(df.queryExecution.optimizedPlan)
    def med(sql: String, n: Int = reps): (Double, Seq[String]) =
      BenchWindow.medianOf(spark, n)(spark.sql(sql).collect().map(_.toString).toSeq)

    val (arms, w) = BenchWindow.calmGated(spark, "zoneaggscale") { _ =>
      // scan arm first, sidecar second (the DictRuleScale discipline) —
      // scrub the sidecar a previous run or pass left
      sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(sidecar, true)
      graft.sources.SidecarManifest.invalidateAll()
      require(!served(spark.sql(qFiltered)) && !served(spark.sql(qStar)),
        "scan arm must not see a sidecar")
      val (scanF, vF) = med(qFiltered)
      val (scanS, vS) = med(qStar)
      val (scanSum, vSum) = med(qSum)
      val (scanSumAll, vSumAll) = med(qSumAll)
      // one-time indexing cost
      val buildSec = BenchWindow.timeOnce {
        graft.sources.MicroBlockIndex.saveSidecar(
          graft.sources.MicroBlockIndex.build(spark, out, "li"), out)
      }
      require(served(spark.sql(qFiltered)) && served(spark.sql(qStar)),
        "transparent arm must serve from the sidecar")
      // steady-state serving is the arm's claim: one un-timed warm-up
      // absorbs the cold plan-cache fill (discovery + tri-state +
      // snapshot jobs), whose one-time cost rides index_build_sec
      spark.sql(qFiltered).collect(); spark.sql(qStar).collect()
      val (serveF, cF) = med(qFiltered)
      require(cF == vF, s"filtered arms diverged: $cF vs $vF")
      val (serveS, cS) = med(qStar)
      require(cS == vS, s"count-star arms diverged: $cS vs $vS")
      // the sums-less sidecar must REFUSE the SUM serve (no silent
      // wrong answers), then the withSums build turns it on
      require(!served(spark.sql(qSum)), "SUM must refuse without per-file sums")
      // sums_build_sec must time the sums scan alone, not double-count
      // the footer sweep already reported as index_build_sec — so the
      // sweep materializes OUTSIDE the timer. (Loading the saved
      // sidecar instead would read and overwrite the same path.)
      val rebuilt = graft.sources.MicroBlockIndex
        .build(spark, out, "li").persist()
      rebuilt.count()
      val sumsBuildSec = BenchWindow.timeOnce {
        graft.sources.MicroBlockIndex.saveSidecar(
          graft.sources.MicroBlockIndex.withSums(spark, out, rebuilt,
            Seq("l_linenumber")), out)
      }
      rebuilt.unpersist(blocking = false)
      require(served(spark.sql(qSum)) && served(spark.sql(qSumAll)),
        "SUM serve must fire once per-file sums exist")
      // let the 600M-row sums build's wake settle, then warm the
      // rebuilt-sidecar plan caches (fresh mtime = fresh memo keys)
      Thread.sleep(5000)
      spark.sql(qSum).collect(); spark.sql(qSumAll).collect()
      val (serveSum, cSum) = med(qSum)
      require(cSum == vSum, s"filtered SUM arms diverged: $cSum vs $vSum")
      val (serveSumAll, cSumAll) = med(qSumAll)
      require(cSumAll == vSumAll, s"SUM arms diverged: $cSumAll vs $vSumAll")
      // round 15 AUTO arm: the measured SKI-RENTAL router gates the
      // serve — a one-off query on a can't-repay table rents the
      // scan; a REPEATED shape invests in the (memoized) decisions
      // once the forgone savings cover them, converging to the
      // winning fixed arm at every scale. 12 sequential queries:
      // report the first (rent) and the steady state (post-invest).
      val rootAbs = new java.io.File(out).getAbsolutePath
      graft.sources.CostRouter.reset()
      graft.sources.CostRouter.calibrateIfNeeded(spark, rootAbs)
      val autoTs = (1 to 12).map { _ =>
        val (sec, v) = med(qFiltered, 1)
        require(v == vF, s"auto arm diverged: $v vs $vF")
        sec
      }
      val autoRoute = if (served(spark.sql(qFiltered))) "serve" else "scan"
      graft.sources.CostRouter.reset()
      Seq("filtered_scan_sec" -> scanF, "filtered_serve_sec" -> serveF,
        "countstar_scan_sec" -> scanS, "countstar_serve_sec" -> serveS,
        "index_build_sec" -> buildSec, "filtered_sum_scan_sec" -> scanSum,
        "filtered_sum_serve_sec" -> serveSum, "sum_scan_sec" -> scanSumAll,
        "sum_serve_sec" -> serveSumAll, "sums_build_sec" -> sumsBuildSec,
        "filtered_auto_first_sec" -> autoTs.head,
        "filtered_auto_steady_sec" -> BenchWindow.median(autoTs.takeRight(3))
      ).map { case (k, v) => s""""$k":$v""" }.mkString(",") +
        s""","auto_steady_route":"$autoRoute""""
    }
    BenchWindow.emit(s"""{"bench":"zone_agg_scale","sf":"$sfDir","reps":$reps,"blocks":$blocks,$arms,"values_equal":true,${w.json}}""")
    spark.stop()
  }
}
