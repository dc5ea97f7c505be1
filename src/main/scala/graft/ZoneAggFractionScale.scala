package graft

import org.apache.spark.sql.functions._

/** The `maxScanFraction` gate, measured instead of guessed (round 14,
  * verdict #8): the stats serve refuses when more than a fixed 0.5 of
  * the live files would scan anyway. This sweep measures the ACTUAL
  * serve-vs-scan crossover as a function of the straddler fraction.
  *
  * Layout per fraction f: F files of equal row count, (1−f)·F
  * id-clustered (a cut predicate decides them) and f·F with
  * full-range shuffled ids (they straddle every cut). The cut is a
  * clustered file's first id, so every clustered file is decided and
  * at least one is all-true: a serve with no all-true file folds no
  * metadata and is refused. The same
  * `COUNT(*)/SUM WHERE id >= cut` runs as a plain scan (no sidecar)
  * and as the serve (sidecar present, gate forced open with
  * maxScanFraction=1.0), so the artifact shows serve_sec/scan_sec per
  * fraction — the crossover is where the ratio hits 1.
  *
  * Usage: runMain graft.ZoneAggFractionScale <sfDir> [files] [reps]
  * (files >= 8, so every fraction keeps two clustered files).
  * Writes target/zoneagg_fraction.json.
  */
object ZoneAggFractionScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ZoneAggFractionScale <sfDir> [files] [reps]")
    val sfDir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 32
    val reps = if (args.length > 2) args(2).toInt else 3
    require(nFiles >= 8, s"files must be >= 8, got $nFiles")
    val spark = BenchWindow.session(BenchWindow.UTC)
    BenchWindow.warm(spark)

    // synthetic rows at the sf's lineitem volume: the sweep prices
    // scan-vs-serve BYTES, and contiguous ids make the straddler
    // construction exact
    val total = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val src = spark.range(total).select(col("id"),
      (col("id") % 97).as("l_suppkey"),
      (col("id") % 50 * 1.0).as("l_quantity"))
    val sfName = new java.io.File(sfDir).getName
    spark.conf.set("spark.graft.statsServe.maxScanFraction", "1.0")

    val fractions = Seq(0.0, 0.125, 0.25, 0.5, 0.75)
    val rows = fractions.map { f =>
      val straddlers = math.round(f * nFiles).toInt
      val clustered = nFiles - straddlers
      val out = s"target/scratch/zoneaggfrac/$sfName/f$straddlers"
      if (!BenchWindow.written(out)) {
        // straddler rows are every Nth id — each straddler file spans
        // the WHOLE id range (undecidable under any cut); the rest
        // range-cluster into decided files
        src.filter(pmod(col("id"), lit(nFiles)) >= straddlers)
          .repartitionByRange(math.max(1, clustered), col("id"))
          .sortWithinPartitions("id")
          .write.mode("overwrite").parquet(out)
        if (straddlers > 0)
          src.filter(pmod(col("id"), lit(nFiles)) < straddlers)
            .repartition(straddlers)
            .write.mode("append").parquet(out)
      }
      val sidecar = new org.apache.hadoop.fs.Path(
        graft.sources.MicroBlockIndex.sidecarPath(out))
      val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(sidecar, true)
      graft.sources.SidecarManifest.invalidateAll()
      spark.read.parquet(out).createOrReplaceTempView(s"zf_$straddlers")
      // the cut is the first id of the clustered file nearest the
      // middle (never the lowest clustered file, whose first id a
      // straddler may share): it decides every clustered file and no
      // straddler. A straddler spans both outer quarters of the ids;
      // with two or more clustered files, no clustered file does.
      val index = graft.sources.MicroBlockIndex.build(spark, out, s"zf$straddlers")
      val ranges = index.filter(col("column") === "id")
        .groupBy("file").agg(min("minLong"), max("maxLong")).collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      val cut = ranges.filterNot { case (lo, hi) => lo < total / 4 && hi > total * 3 / 4 }
        .map(_._1).sorted.drop(1).minBy(lo => math.abs(lo - total / 2))
      val q = s"""SELECT COUNT(*) AS n, COUNT(l_suppkey) AS ns
        |FROM zf_$straddlers WHERE id >= $cut""".stripMargin
      def served(df: org.apache.spark.sql.DataFrame): Boolean =
        graft.plans.ZoneAggRule.servedSignature(df.queryExecution.optimizedPlan)
      def med(): (Double, String) =
        BenchWindow.medianOf(spark, reps)(spark.sql(q).collect().mkString)
      require(!served(spark.sql(q)), "scan arm must not see a sidecar")
      val (scanSec, vScan) = med()
      graft.sources.MicroBlockIndex.saveSidecar(index, out)
      require(served(spark.sql(q)),
        s"serve must fire at straddler fraction $f (gate forced open)")
      val (serveSec, vServe) = med()
      require(vScan == vServe, s"arms diverged at f=$f")
      s"""{"fraction":$f,"straddler_files":$straddlers,"files":$nFiles,""" +
        s""""scan_sec":$scanSec,"serve_sec":$serveSec,""" +
        s""""ratio":${serveSec / scanSec}}"""
    }

    val sat = BenchWindow.satProbe(spark)
    BenchWindow.emit(
      s"""{"bench":"zoneagg_fraction","sf":"$sfDir","files":$nFiles,""" +
        s""""reps":$reps,"sat_probe_sec":$sat,"sweep":[${rows.mkString(",")}]}""",
      "target/zoneagg_fraction.json")
    spark.stop()
  }
}
