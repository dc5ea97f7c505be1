package graft

import org.apache.spark.sql.functions._

/** sf100 ledger for JOIN-DRIVEN file pruning (plans/JoinFilePruning):
  * a selective NON-KEY dim filter (s_nationkey + an acctbal band —
  * nothing constraint inference can propagate) joined on l_suppkey
  * against a 64-file suppkey-clustered lineitem, with vs without the
  * `_graft_dict` sidecar registered. The layout is the key-clustered
  * class where zone maps prove nothing (every file's [min, max] spans
  * all keys) and only value sets refute. Calm-window gated; prints one
  * JSON line.
  *
  * Usage: runMain graft.JoinDppScale <sfDir> [buckets] [reps]
  */
object JoinDppScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JoinDppScale <sfDir> [buckets] [reps]")
    val sfDir = args(0)
    val buckets = if (args.length > 1) args(1).toInt else 64
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = BenchWindow.session(BenchWindow.UTC)
    BenchWindow.warm(spark)

    // layout: suppkey-clustered lineitem, projected to the join
    // workload's columns (the Bucketing.writeBucketed projection
    // rationale — the full row payload is pure build cost here)
    val sfName = new java.io.File(sfDir).getName
    val out = s"target/scratch/joindpp/$sfName/lineitem"
    if (!BenchWindow.written(out)) {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_suppkey", "l_orderkey", "l_quantity", "l_extendedprice")
        .repartition(buckets, col("l_suppkey"))
        .write.mode("overwrite").parquet(out)
    }
    // IN-MEMORY index only — a SAVED `_graft_dict` sidecar poisons the
    // A/B: unregisterDict clears the registry but sidecar DISCOVERY
    // (ZoneMapPruneRule.dictIndexFor) re-finds the on-disk sidecar, so
    // the "scan" arm silently prunes too and the pair measures DPP vs
    // DPP (the pre-fix r13 run did exactly that; its keptScan
    // assertion below would have caught it). Scrub any sidecar a
    // previous run left behind for the same reason.
    graft.sources.SidecarManifest.delete(out, graft.sources.SidecarManifest.Dict)
    val idx = graft.sources.DictionaryIndex.build(spark, out, "li",
      Seq("l_suppkey")).toDF().persist()
    idx.count()

    def dim = spark.read.parquet(s"$sfDir/supplier.parquet")
      .filter(col("s_nationkey") === 6 &&
        col("s_acctbal").between(1000, 2000))
    val dimKeys = dim.select("s_suppkey").collect().map(_.getLong(0)).sorted
    def joined = spark.read.parquet(out)
      .join(dim, col("l_suppkey") === col("s_suppkey"))
    // the last frame fp() ran: its optimized plan is the one executed,
    // so the files it kept are the route the rule took
    var ran: org.apache.spark.sql.DataFrame = null
    def fp(): (Long, Long) = {
      ran = joined.agg(count(lit(1)), sum(col("l_orderkey")))
      val r = ran.collect().head
      (r.getLong(0), r.getLong(1))
    }
    // SPARK_GRAFT_DROP_CACHES=1 drops the OS page cache before every
    // rep (needs root): the COLD-read pair is the 100 TB-relevant one —
    // a 6 GB test layout sits fully page-cached after its own write,
    // which hides exactly the I/O the file cut saves.
    val dropCaches = sys.env.get("SPARK_GRAFT_DROP_CACHES").contains("1")
    def dropOsCaches(): Unit =
      try {
        Runtime.getRuntime.exec(Array("sync")).waitFor()
        val w = new java.io.FileOutputStream("/proc/sys/vm/drop_caches")
        try w.write("3\n".getBytes) finally w.close()
      } catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(s"drop_caches failed: ${t.getMessage}")
      }
    def med(run: => (Long, Long)): (Double, (Long, Long)) =
      BenchWindow.medianOf(spark, reps,
        prep = () => if (dropCaches) dropOsCaches())(run)
    def keptFiles(df: org.apache.spark.sql.DataFrame = joined): Int =
      BenchWindow.fileRelations(df).map(_.location.inputFiles)
        .filter(_.exists(_.contains("joindpp"))).head.length

    val ((scanSec, dppSec, autoSec, autoRoute, scanV, kept), w) =
        BenchWindow.calmGated(spark, "joindpp") { _ =>
      graft.plans.ZoneMapPruneRule.unregisterDict(out)
      require(keptFiles() == buckets,
        "scan arm is pruned — a discovered sidecar is poisoning the A/B")
      val (scanSec, scanV) = med(fp())
      graft.plans.ZoneMapPruneRule.registerDict(out, idx)
      val kept = keptFiles()
      val (dppSec, dppV) = med(fp())
      require(scanV == dppV, s"rows diverged: $scanV vs $dppV")
      // round 15 AUTO arm: dictionary registered, but the MEASURED
      // cost router gates the cut — auto must track the winning arm
      // at every scale (the r14 inversion: DPP lost at sf0.1, won at
      // sf100). Calibrate + one seeding run, then measure.
      val rootAbs = new java.io.File(out).getAbsolutePath
      graft.sources.CostRouter.reset()
      graft.sources.CostRouter.calibrateIfNeeded(spark, rootAbs)
      graft.plans.JoinFilePruning.clearCache()
      fp() // seeding run: pays + observes the decision jobs
      graft.plans.JoinFilePruning.clearCache()
      val (autoSec, autoV) = med(fp())
      val autoRoute = if (keptFiles(ran) < buckets) "dpp" else "scan"
      graft.plans.ZoneMapPruneRule.unregisterDict(out)
      graft.sources.CostRouter.reset()
      require(scanV == autoV, s"auto rows diverged: $scanV vs $autoV")
      (scanSec, dppSec, autoSec, autoRoute, scanV, kept)
    }
    BenchWindow.emit(s"""{"bench":"join_dpp","cold_cache":$dropCaches,"sf":"$sfDir","reps":$reps,"buckets":$buckets,"dim_keys":${dimKeys.length},"rows":${scanV._1},"files_total":$buckets,"files_kept":$kept,"join_scan_sec":$scanSec,"join_dpp_sec":$dppSec,"join_auto_sec":$autoSec,"join_auto_route":"$autoRoute",${w.json}}""")
    spark.stop()
  }
}
