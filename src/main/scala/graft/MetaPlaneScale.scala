package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FILE-COUNT stress for the metadata plane (round 14, verdict #3).
  *
  * Every serve layer decides over the zone index on the driver
  * ([[graft.plans.ZoneSnapshot]]): one collect per sidecar generation
  * and referenced column, then pure driver work per decision. That is
  * constant in DATA size but linear in FILE (block) count — this bench
  * measures the curve:
  *
  *   1. REAL layouts of N ∈ {1k, 5k, 20k} parquet files (tiny rows —
  *      the metadata plane costs what it costs regardless of file
  *      size): sidecar build (N footer reads), cold transparent
  *      zone-agg PLAN time, warm plan time, the snapshot collect, the
  *      zone skip-list, tri-state and top-k decisions, and the driver
  *      heap delta across the whole per-N block.
  *   2. A SYNTHETIC index of 100k blocks × 10 columns (1M entries) —
  *      a block count too big to materialize as real files here: the
  *      snapshot's collect time and driver heap with every column
  *      collected, and the time of `mayMatch` (skip list), `allMatch`
  *      (tri-state) and the top-k cut over all its blocks.
  *
  * One JSON line; target/metaplane.json. Usage:
  *   runMain graft.MetaPlaneScale [maxRealFiles]   (0 = synthetic only)
  */
object MetaPlaneScale {

  private def heapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val maxReal = if (args.nonEmpty) args(0).toInt else 20000
    import BenchWindow.timeOnce
    val spark = BenchWindow.session(BenchWindow.UTC)
    spark.sparkContext.setLogLevel("ERROR")
    BenchWindow.probe(spark)

    val real = Seq(1000, 5000, 20000).filter(_ <= maxReal).map { n =>
      val out = s"target/scratch/metaplane/files$n"
      if (!BenchWindow.written(out)) {
        // n files, ~100 id-clustered rows each: the id ranges are
        // disjoint per file, so zone predicates decide most files
        spark.range(n * 100L).select(col("id"),
          (col("id") % 7).as("v"))
          .repartitionByRange(n, col("id"))
          .sortWithinPartitions("id")
          .write.mode("overwrite").parquet(out)
      }
      val h0 = heapMb()
      val buildSec = timeOnce {
        graft.sources.MicroBlockIndex.saveSidecar(
          graft.sources.MicroBlockIndex.build(spark, out, s"mp$n"), out)
      }
      graft.sources.SidecarManifest.invalidateAll()
      spark.read.parquet(out).createOrReplaceTempView(s"mp_$n")
      val half = n * 50L
      val q = s"SELECT COUNT(*) AS c FROM mp_$n WHERE id >= $half"
      // COLD plan: discovery probe + sidecar load + tri-state job +
      // snapshot job, everything a fresh session pays once
      var df: DataFrame = null
      val coldPlanSec = timeOnce {
        df = spark.sql(q); df.queryExecution.optimizedPlan
      }
      val servedCold = graft.plans.ZoneAggRule.servedSignature(
        df.queryExecution.optimizedPlan)
      // WARM plan: memoized decisions, same shape
      val warmPlanSec = timeOnce {
        spark.sql(q).queryExecution.optimizedPlan
      }
      val execSec = timeOnce { spark.sql(q).collect() }
      // the zone decisions the rules take, over the sidecar's driver
      // snapshot (the cold plan above already collected `id`)
      val snap = graft.plans.ZoneSnapshot.ofSidecar(out,
        graft.sources.SidecarManifest.anchor(out, spark,
          graft.sources.SidecarManifest.Zone).get)
      val pred = graft.plans.Cmp(">=", "id",
        graft.plans.PredValue(half.toDouble))
      var skipped = 0
      val skipSec = timeOnce {
        skipped = graft.plans.ZoneSnapshot.skippedFiles(spark, Seq(snap), pred).size
      }
      val triSec = timeOnce(snap.triState(spark, pred))
      var topkCut = 0
      val topkSec = timeOnce {
        topkCut = graft.plans.ZoneSnapshot.topKSkippedFiles(spark, Seq(snap),
          "id", 10, ascending = false, nullsFirst = false).size
      }
      val heapDelta = heapMb() - h0
      require(servedCold, s"n=$n: the cold serve must fire")
      require(skipped > n / 3, s"n=$n: fixture must be mostly decidable")
      s"""{"files":$n,"index_build_sec":$buildSec,"cold_plan_sec":$coldPlanSec,""" +
        s""""warm_plan_sec":$warmPlanSec,"exec_sec":$execSec,""" +
        s""""zone_skip_sec":$skipSec,"skipped":$skipped,""" +
        s""""tristate_sec":$triSec,"topk_sec":$topkSec,"topk_cut":$topkCut,""" +
        s""""driver_heap_delta_mb":$heapDelta}"""
    }

    // the synthetic index: 100k blocks × 10 columns, every column
    // collected into one driver snapshot
    val synth = {
      val blocks = 100000
      val cols = (0 until 10).map(i => s"c$i")
      val idx = spark.range(blocks.toLong).select(
        col("id").cast("int").as("blockId"),
        concat(lit("s"), col("id")).as("file"),
        lit("t").as("table"),
        (col("id") * 100).as("rowStart"), (col("id") * 100 + 99).as("rowEnd"),
        explode(array(cols.map(lit): _*)).as("column"),
        lit(100L).as("rows"), lit(0L).as("nullCount"),
        lit(1000L).as("bytes"), lit("SNAPPY").as("codec"),
        (col("id") * 100.0).as("minNum"), (col("id") * 100.0 + 99).as("maxNum"),
        lit(null).cast("string").as("minStr"), lit(null).cast("string").as("maxStr"),
        (col("id") * 100).as("minLong"), (col("id") * 100 + 99).as("maxLong"),
        lit(false).as("nanRisk"), lit(null).cast("long").as("sumLong"))
        .persist()
      val entries = idx.count()
      val h0 = heapMb()
      val snap = new graft.plans.ZoneSnapshot(_ => idx)
      val collectSec = timeOnce(snap.ensure(spark, cols.toSet))
      val heap = heapMb() - h0
      val pred = graft.plans.Cmp(">=", "c0",
        graft.plans.PredValue(blocks * 50.0))
      var skipped = 0
      val mayMatchSec = timeOnce {
        skipped = graft.plans.ZoneSnapshot.skippedFiles(spark, Seq(snap), pred).size
      }
      // mayMatch and allMatch over every block
      val triSec = timeOnce(snap.triState(spark, pred))
      val topkSec = timeOnce(graft.plans.ZoneSnapshot.topKSkippedFiles(spark,
        Seq(snap), "c0", 10, ascending = false, nullsFirst = false))
      idx.unpersist()
      s"""{"blocks":$blocks,"columns":${cols.size},"entries":$entries,""" +
        s""""snapshot_collect_sec":$collectSec,"snapshot_heap_mb":$heap,""" +
        s""""maymatch_sec":$mayMatchSec,"skipped":$skipped,""" +
        s""""tristate_sec":$triSec,"topk_sec":$topkSec}"""
    }

    // round 15 — the footer sweep's PARALLELISM (the r14 verdict's
    // "141 s at 20k files is linear but serial-ish"): the same build
    // pinned to 1 task vs the auto partitioning. Build time must
    // scale with files/cores, not files. Plus the INCREMENTAL path: a
    // 1% append refreshed (footers + per-file sums for the delta
    // only) vs the monolithic rebuild a million-file table must never
    // pay.
    val sweep = if (maxReal < 1000) "null" else {
      val n = Seq(1000, 5000, 20000).filter(_ <= maxReal)
        .filter(_ <= 5000).max // serial at 20k would run ~2 min
      val out = s"target/scratch/metaplane/files$n"
      spark.conf.set("spark.graft.index.buildPartitions", "1")
      val serialSec = timeOnce {
        graft.sources.MicroBlockIndex.build(spark, out, "mp_sweep").count()
      }
      spark.conf.unset("spark.graft.index.buildPartitions")
      val parSec = timeOnce {
        graft.sources.MicroBlockIndex.build(spark, out, "mp_sweep").count()
      }
      // incremental: land a 1% delta, refresh (footers + sums of the
      // delta only), then restore the fixture
      val base = graft.sources.MicroBlockIndex.withSums(spark, out,
        graft.sources.MicroBlockIndex.build(spark, out, "mp_sweep"),
        Seq("v")).cache()
      base.count()
      val delta = math.max(1, n / 100)
      val stage = s"$out-delta-stage"
      spark.range(n * 100L, n * 100L + delta * 100L)
        .select(col("id"), (col("id") % 7).as("v"))
        .repartitionByRange(delta, col("id"))
        .write.mode("overwrite").parquet(stage)
      val outDir = new java.io.File(out)
      val moved = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.map {
          case (f, i) =>
            val dst = new java.io.File(outDir, f"delta-$i%05d.parquet")
            java.nio.file.Files.move(f.toPath, dst.toPath)
            dst
        }
      val refreshSec = timeOnce {
        graft.sources.MicroBlockIndex.refresh(spark, out, "mp_sweep", base)
          .count()
      }
      moved.foreach(_.delete()) // restore the fixture
      base.unpersist()
      s"""{"sweep_files":$n,"build_serial_sec":$serialSec,""" +
        s""""build_parallel_sec":$parSec,""" +
        s""""parallel_speedup":${serialSec / math.max(parSec, 1e-9)},""" +
        s""""delta_files":$delta,"refresh_delta_sec":$refreshSec,""" +
        s""""refresh_vs_rebuild":${refreshSec / math.max(parSec, 1e-9)}}"""
    }

    BenchWindow.emit(
      s"""{"bench":"metaplane","cpus":${BenchWindow.cpus},"real":[${real.mkString(",")}],""" +
        s""""sweep":$sweep,""" +
        s""""synthetic_index":$synth}""",
      "target/metaplane.json")
    spark.stop()
  }
}
