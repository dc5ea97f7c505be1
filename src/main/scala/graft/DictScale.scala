package graft

import org.apache.spark.sql.functions._
import graft.plans.{Cmp, IndexPruning, PredValue}
import graft.sources.{DictionaryIndex, MicroBlockIndex}

/** Dictionary-page serving measured at scale — the A/B behind
  * mb_dict_distinct / mb_dict_point:
  *
  *   - global COUNT(DISTINCT) on covered columns (dictionary union,
  *     zero data pages) vs the full column scan — the q16-family
  *     weak-row answer for the global-distinct shape (the GROUPED
  *     count-distinct still needs the scan; dictionaries carry no
  *     co-occurrence). The fallback column (l_orderkey — its
  *     dictionaries overflow the writer's 1 MB cap at this scale) is
  *     reported too: expected ~parity, the honesty row.
  *   - equality point lookup on a hash-bucketed layout: dictionary
  *     file cut vs zone-map cut vs full scan, with files-kept counts.
  *
  * Build costs (dictionary index, bucketed layout) are one-time
  * indexing-side costs and reported separately from serving medians.
  * Every arm's VALUE is asserted equal across paths each rep.
  *
  * Usage: runMain graft.DictScale [sfDir] [reps] [buckets]
  * Prints one JSON line and writes target/dict_scale.json.
  */
object DictScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf10")
    val reps = if (args.length > 1) args(1).toInt else 5
    val buckets = if (args.length > 2) args(2).toInt else 32
    val spark = BenchWindow.plainSession()
    BenchWindow.probe(spark) // JVM warm
    // the arms time against persisted indexes: no cache clear per rep
    def medianOf(run: => Long): (Double, Long) =
      BenchWindow.medianOf(spark, reps, clearCache = false)(run)

    val probeStart = BenchWindow.probe(spark)
    val liPath = s"$sfDir/lineitem.parquet"
    val li = spark.read.parquet(liPath)

    // ---- one-time index build over the raw sf layout ----------------
    // SPARK_GRAFT_DICT_COLS trims the arm set (the l_orderkey fallback
    // arm is a full distinct over 147M keys at sf100 — minutes per rep)
    val cols = sys.env.get("SPARK_GRAFT_DICT_COLS")
      .map(_.split(',').toSeq)
      .getOrElse(Seq("l_suppkey", "l_quantity", "l_orderkey"))
    val idx = DictionaryIndex.build(spark, liPath, "lineitem", cols).cache()
    val idxBuildSec = BenchWindow.timeOnce(idx.count()) // materialize
    val coverage = cols.map { c =>
      c -> idx.filter(col("column") === c && col("covered")).count()
    }.toMap
    val totalFiles = MicroBlockIndex.listParquetFiles(liPath).size.toLong

    // ---- COUNT(DISTINCT) arms ---------------------------------------
    val scanVals = scala.collection.mutable.Map.empty[String, Long]
    val distinctArms = cols.flatMap { c =>
      val (scanSec, scanVal) = medianOf(
        li.select(countDistinct(col(c)).as("n")).first.getLong(0))
      scanVals(c) = scanVal
      println(f"[dict-scale] distinct $c scan: $scanSec%.2fs n=$scanVal")
      val (dictSec, dictVal) = medianOf(
        DictionaryIndex.countDistinct(spark, idx, liPath, c)._1)
      println(f"[dict-scale] distinct $c dict: $dictSec%.2fs n=$dictVal covered=${coverage(c)}/$totalFiles")
      require(scanVal == dictVal, s"$c: scan=$scanVal dict=$dictVal")
      Seq(
        s""""distinct_${c}_scan":{"sec":$scanSec,"n":$scanVal}""",
        s""""distinct_${c}_dict":{"sec":$dictSec,"n":$dictVal,"covered_files":${coverage(c)},"total_files":$totalFiles}""")
    }

    // ---- round 16 (verdict #7): the ADVISORY's structural fix on the
    // UNCOVERED column — an AggView bounded by distinct values, served
    // instead of the scan-parity degraded dictionary path. Build cost
    // is the one-time indexing-side price (reported separately); the
    // serve reads only the (value, freq) view. The view lives in
    // scratch, not beside the (possibly read-only) sf layout — the
    // in-place auto-build path is spec-covered in AdvisorSpec.
    val viewArms = cols.filter(c => coverage(c) < totalFiles).flatMap { c =>
      val vp = s"target/scratch/dict-scale/${new java.io.File(sfDir).getName}/aggview-$c"
      val vBuildSec = BenchWindow.timeOnce {
        val exists =
          try graft.sources.AggView.readMeta(vp).valueCol == c
          catch { case scala.util.control.NonFatal(_) => false }
        if (!exists) graft.sources.AggView.build(spark, liPath, vp, Nil, c)
        else graft.sources.AggView.refresh(spark, liPath, vp)
      }
      val (vSec, vVal) = medianOf(
        graft.sources.AggView.serveCountDistinct(spark, vp)
          .select(col("n_distinct")).first.getLong(0))
      println(f"[dict-scale] distinct $c view: $vSec%.2fs n=$vVal (build $vBuildSec%.1fs)")
      require(vVal == scanVals(c), s"$c: scan=${scanVals(c)} view=$vVal")
      Seq(s""""distinct_${c}_view":{"sec":$vSec,"n":$vVal,"build_sec":$vBuildSec}""")
    }

    // ---- point lookup on a hash-bucketed layout ----------------------
    val bucketPath = s"target/scratch/dict-scale/${new java.io.File(sfDir).getName}/lineitem-$buckets"
    val bucketBuildSec = BenchWindow.timeOnce {
      if (!BenchWindow.written(bucketPath))
        li.repartition(buckets, col("l_suppkey"))
          .write.mode("overwrite").parquet(bucketPath)
    }
    println(f"[dict-scale] bucket layout ready ($bucketBuildSec%.1fs)")
    val bIdx = DictionaryIndex.build(spark, bucketPath, "lineitem", Seq("l_suppkey")).cache()
    val bIdxBuildSec = BenchWindow.timeOnce(bIdx.count())
    val zoneIdx = MicroBlockIndex.build(spark, bucketPath, "lineitem").toDF.cache()
    zoneIdx.count()

    val probeValue = 3L
    val pred = Cmp("=", "l_suppkey", PredValue(probeValue))
    def fingerprint(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.agg(count(lit(1)), sum(col("l_orderkey")),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("string")).first
      r.getLong(0) * 31L + r.get(1).hashCode() * 7L + r.getString(2).hashCode
    }
    val allBucketFiles = MicroBlockIndex.listParquetFiles(bucketPath)
    val (scanSec, scanFp) = medianOf(
      fingerprint(spark.read.parquet(allBucketFiles: _*).filter(pred.toColumn)))
    var zoneKept = 0L
    val (zoneSec, zoneFp) = medianOf {
      val skipped = IndexPruning.skippedFiles(zoneIdx, pred).toSet
      val kept = allBucketFiles.filterNot(skipped.contains)
      zoneKept = kept.size.toLong
      fingerprint(spark.read.parquet(kept: _*).filter(pred.toColumn))
    }
    var dictKept = 0L
    val (dictSec, dictFp) = medianOf {
      val skipped = DictionaryIndex.skippedFilesEq(bIdx, "l_suppkey", Seq(PredValue(probeValue))).toSet
      val kept = allBucketFiles.filterNot(skipped.contains)
      dictKept = kept.size.toLong
      fingerprint(spark.read.parquet(kept: _*).filter(pred.toColumn))
    }
    require(scanFp == zoneFp && scanFp == dictFp,
      s"fingerprints diverged: scan=$scanFp zone=$zoneFp dict=$dictFp")

    // ---- MEASURED router (round 14): seed, then route ---------------
    // The first lookup calibrates (median-file traversal + one timed
    // decision); the routed lookup must then take whichever side the
    // measured constants price cheaper — reported with the constants
    // so the artifact shows the decision inputs, not just the outcome.
    DictionaryIndex.resetRouterStats()
    val seedDf = DictionaryIndex.prunedReadEqMeasured(
      spark, bIdx, bucketPath, "l_suppkey", Seq(PredValue(probeValue)))
    require(fingerprint(seedDf) == scanFp, "measured-router seed diverged")
    var measuredFp = 0L
    val (measuredSec, _) = medianOf {
      val df = DictionaryIndex.prunedReadEqMeasured(
        spark, bIdx, bucketPath, "l_suppkey", Seq(PredValue(probeValue)))
      measuredFp = fingerprint(df)
      measuredFp
    }
    require(measuredFp == scanFp, "measured-router route diverged")
    // the SETTLED route + constants — read AFTER the reps, because
    // each dict-route rep folds its decision time into the EWMA and
    // could legitimately flip the route mid-measurement; the artifact
    // must report the inputs that describe the end state
    val routeTaken = DictionaryIndex.pointLookupRouteMeasured(bucketPath)
    val (decC, bpsC) = DictionaryIndex.routerStats(bucketPath)
    println(f"[dict-scale] measured router: route=$routeTaken dec=${decC.getOrElse(-1.0)}%.3fs bps=${bpsC.getOrElse(-1.0)}%.0f sec=$measuredSec%.2f")

    // ---- HIGH-CARDINALITY point lookup: bloom filters --------------
    // Orderkey-bucketed layout with dictionary OFF + bloom ON for the
    // key (the regime where dictionaries overflow and blooms are the
    // only refuting metadata). DuckDB reads the same files — its scan
    // consumes the same parquet blooms row-group-level, so the pair is
    // an honest engine-vs-engine read of identical metadata.
    val bloomPath = s"target/scratch/dict-scale/${new java.io.File(sfDir).getName}/lineitem-bloom-$buckets"
    val bloomBuildSec = BenchWindow.timeOnce(if (!BenchWindow.written(bloomPath)) {
      val ndv = math.max(4096L, li.count() / 4 / buckets)
      // the §5 sizing rule (dd_bloom's mBits ∝ n, measured): parquet's
      // default 1 MB bitset cap is ~3.6 bits/key at this ndv (~19% FP,
      // measured 13/64 files kept) — lift the cap so the writer's
      // ndv-derived size fits (~10 bits/key ⇒ <1% FP)
      val maxBytes = math.max(1L << 20, ndv * 10L / 8)
      li.repartition(buckets, col("l_orderkey"))
        .write.mode("overwrite")
        .option("parquet.enable.dictionary#l_orderkey", "false")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", ndv.toString)
        .option("parquet.bloom.filter.max.bytes", maxBytes.toString)
        .parquet(bloomPath)
    })
    println(f"[dict-scale] bloom layout ready ($bloomBuildSec%.1fs)")
    val bloomKey = 7L
    val bloomFiles = MicroBlockIndex.listParquetFiles(bloomPath)
    def bfp(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.agg(count(lit(1)), sum(col("l_linenumber"))).first
      r.getLong(0) * 31L + r.get(1).hashCode()
    }
    val (bScanSec, bScanFp) = medianOf(
      bfp(spark.read.parquet(bloomFiles: _*).filter(col("l_orderkey") === bloomKey)))
    var bloomKept = 0L
    val (bBloomSec, bBloomFp) = medianOf {
      val skipped = graft.sources.BloomPruning.skippedFilesEq(
        spark, bloomPath, "l_orderkey", Seq(PredValue(bloomKey))).toSet
      bloomKept = (bloomFiles.size - skipped.size).toLong
      bfp(spark.read.parquet(bloomFiles.filterNot(skipped.contains): _*)
        .filter(col("l_orderkey") === bloomKey))
    }
    require(bScanFp == bBloomFp, s"bloom fingerprints diverged: $bScanFp vs $bBloomFp")
    println(f"[dict-scale] bloom point: scan $bScanSec%.2fs/${bloomFiles.size} files vs bloom $bBloomSec%.2fs/$bloomKept files")

    val probeEnd = BenchWindow.probe(spark)
    val line =
      s"""{"bench":"dict_scale","sf":"$sfDir","reps":$reps,"buckets":$buckets,""" +
        s""""probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,""" +
        s""""dict_index_build_sec":$idxBuildSec,""" +
        (distinctArms ++ viewArms).mkString("", ",", ",") +
        s""""bucket_build_sec":$bucketBuildSec,"bucket_index_build_sec":$bIdxBuildSec,""" +
        s""""point_scan":{"sec":$scanSec,"files":${allBucketFiles.size}},""" +
        s""""point_zone":{"sec":$zoneSec,"files":$zoneKept},""" +
        s""""point_dict":{"sec":$dictSec,"files":$dictKept},""" +
        s""""point_measured":{"sec":$measuredSec,"route":"$routeTaken",""" +
        s""""dec_sec":${decC.getOrElse(-1.0)},"scan_bps":${bpsC.getOrElse(-1.0)}},""" +
        s""""bloom_build_sec":$bloomBuildSec,""" +
        s""""bpoint_scan":{"sec":$bScanSec,"files":${bloomFiles.size}},""" +
        s""""bpoint_bloom":{"sec":$bBloomSec,"files":$bloomKept}}"""
    BenchWindow.emit(line, "target/dict_scale.json")
    spark.stop()
  }
}
