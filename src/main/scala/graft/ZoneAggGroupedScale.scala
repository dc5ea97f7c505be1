package graft

/** The GROUPED zone-stats serve (plans/ZoneAggRule grouped arm, the
  * mb_zone_agg_grouped row) measured at scale: per-status
  * COUNT(*)/COUNT(col)/MIN/MAX over a hive-partitioned orders layout
  * (o_orderstatus partitions × o_orderkey-clustered files), timed
  * BEFORE any `_graft_index` exists (full scan) and AFTER it is saved
  * (the serve reads NO data file — the per-group answer folds from
  * footer metadata and the FileIndex's partition values), same
  * session, same window; values asserted equal. Scan first, sidecar
  * second (the DictRuleScale discipline). Calm-window gated; one JSON
  * line.
  *
  * Usage: runMain graft.ZoneAggGroupedScale <sfDir> [blocksPerPart] [reps]
  */
object ZoneAggGroupedScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ZoneAggGroupedScale <sfDir> [blocksPerPart] [reps]")
    val sfDir = args(0)
    val blocksPerPart = if (args.length > 1) args(1).toInt else 21
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = BenchWindow.session(BenchWindow.UTC)
    BenchWindow.warm(spark)

    val sfName = new java.io.File(sfDir).getName
    val out = s"target/scratch/zoneagggrouped/$sfName/orders"
    if (!BenchWindow.written(out)) {
      graft.sources.MicroBlockWriter.writePartitioned(
        spark.read.parquet(s"$sfDir/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
        out, "o_orderstatus", "o_orderkey", blocksPerPart)
    }
    val sidecar = new org.apache.hadoop.fs.Path(
      graft.sources.MicroBlockIndex.sidecarPath(out))

    spark.read.parquet(out).createOrReplaceTempView("zgs_ord")
    val q = """SELECT o_orderstatus, COUNT(*) AS n, COUNT(o_custkey) AS nc,
      |  MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
      |FROM zgs_ord GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

    def readsBase(df: org.apache.spark.sql.DataFrame): Boolean =
      BenchWindow.fileRelations(df)
        .exists(_.location.inputFiles.exists(_.contains("zoneagggrouped")))
    def med(sql: String): (Double, Seq[String]) =
      BenchWindow.medianOf(spark, reps)(spark.sql(sql).collect().map(_.toString).toSeq)

    val ((scanSec, serveSec, buildSec, vScan), w) =
        BenchWindow.calmGated(spark, "zoneagggrouped") { _ =>
      // scan arm first, sidecar second — scrub anything a previous run
      // or pass left
      sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(sidecar, true)
      graft.sources.SidecarManifest.invalidateAll()
      require(readsBase(spark.sql(q)), "scan arm must read the base")
      val (scanSec, vScan) = med(q)
      val buildSec = BenchWindow.timeOnce {
        graft.sources.MicroBlockIndex.saveSidecar(
          graft.sources.MicroBlockIndex.build(spark, out, "orders"), out)
      }
      require(!readsBase(spark.sql(q)),
        "the grouped serve must read NO data file")
      val (serveSec, vServe) = med(q)
      require(vServe == vScan, s"arms diverged: $vServe vs $vScan")
      (scanSec, serveSec, buildSec, vScan)
    }
    BenchWindow.emit(s"""{"bench":"zone_agg_grouped_scale","sf":"$sfDir","reps":$reps,"blocks_per_partition":$blocksPerPart,"groups":${vScan.size},"grouped_scan_sec":$scanSec,"grouped_serve_sec":$serveSec,"index_build_sec":$buildSec,"values_equal":true,${w.json}}""")
    spark.stop()
  }
}
