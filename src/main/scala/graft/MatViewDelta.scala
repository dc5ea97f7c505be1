package graft

import org.apache.spark.sql.functions._
import graft.sources.AggView

/** The additive-maintenance claim MEASURED at scale (round-11 ask #6):
  * build the (l_returnflag, l_partkey, freq) view over a base of
  * sf100's lineitem, APPEND one file-batch, and time the DELTA refresh
  * against a FULL rebuild — both serves bit-compared. The base is a
  * hardlink farm of the sf100 files (no data copied, same bytes, its
  * own directory so the append never touches the shared sf100 dir).
  *
  * What the delta refresh reads (per-file-partials design,
  * sources/AggView): the appended file + the previous generation's
  * partials — never the 600M-row base; the rebuild reads everything.
  * The gap between those two numbers is the maintenance story at
  * 100 TB, where "rebuild" is a full corpus pass.
  *
  * Usage: runMain graft.MatViewDelta [sf100Dir] [reps]
  * Prints one JSON line + target/matview_delta.json.
  */
object MatViewDelta {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf100")
    val spark = BenchWindow.plainSession()
    BenchWindow.probe(spark) // JVM warm
    val probeStart = BenchWindow.probe(spark)

    // hardlink farm: same bytes, zero copy, appendable in isolation
    val base = "target/scratch/matview-delta/base"
    val baseP = java.nio.file.Paths.get(base)
    org.apache.commons.io.FileUtils.deleteDirectory(baseP.toFile)
    java.nio.file.Files.createDirectories(baseP)
    val srcFiles = graft.sources.MicroBlockIndex
      .listParquetFiles(s"$sfDir/lineitem.parquet")
      .map(graft.plans.ZoneMapPruneRule.normFile).sorted
    srcFiles.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.createLink(
        baseP.resolve(f"part-$i%05d.parquet"), java.nio.file.Paths.get(f))
    }
    val view = "target/scratch/matview-delta/view"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(view))

    // one-shot maintenance timings; the views are files, not cached frames
    def t(body: => Unit): Double =
      BenchWindow.timed(spark, 1, clearCache = false)(body).median
    val buildSec = t(AggView.build(spark, base, view, Seq("l_returnflag"), "l_partkey"))
    val baseRows = spark.read.parquet(base).count()
    val viewRows = AggView.read(spark, view).count()
    println(f"[matview-delta] build $buildSec%.1fs over $baseRows rows -> $viewRows view rows")

    // append ONE file-batch (1/${srcFiles.size} of the base — a
    // re-linked source file under a new name: real parquet bytes, and
    // duplicate rows just double those keys' freqs)
    java.nio.file.Files.createLink(
      baseP.resolve("part-append-00000.parquet"),
      java.nio.file.Paths.get(srcFiles.head))
    val deltaSec = t(require(AggView.refresh(spark, base, view), "refresh must fire"))
    println(f"[matview-delta] delta refresh $deltaSec%.1fs")
    val servedDelta = AggView.serveCountDistinct(spark, view)
      .collect().map(_.toString).sorted.toSeq

    // FULL rebuild on the identical post-append base — the cost the
    // round-10 design paid for ANY non-append change
    val view2 = "target/scratch/matview-delta/view-rebuild"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(view2))
    val rebuildSec = t(AggView.build(spark, base, view2, Seq("l_returnflag"), "l_partkey"))
    println(f"[matview-delta] full rebuild $rebuildSec%.1fs")
    val servedRebuild = AggView.serveCountDistinct(spark, view2)
      .collect().map(_.toString).sorted.toSeq
    require(servedDelta == servedRebuild,
      "delta-refreshed serve must be bit-identical to the rebuild serve")
    // and both against the raw base (one full scan, the ground truth)
    val truth = spark.read.parquet(base).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_distinct"),
        count(lit(1)).as("n_rows"))
      .collect().map(_.toString).sorted.toSeq
    require(servedDelta == truth, "serve must equal the raw-base aggregation")

    val probeEnd = BenchWindow.probe(spark)
    val line =
      s"""{"bench":"matview_delta","sf":"$sfDir","base_rows":$baseRows,""" +
        s""""base_files":${srcFiles.size},"appended_files":1,""" +
        s""""view_rows":$viewRows,""" +
        s""""probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,""" +
        s""""build_sec":$buildSec,"delta_refresh_sec":$deltaSec,""" +
        s""""full_rebuild_sec":$rebuildSec,"bit_exact":true}"""
    BenchWindow.emit(line, "target/matview_delta.json")
    spark.stop()
  }
}
