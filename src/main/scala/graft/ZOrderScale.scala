package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{And, Between, IndexPruning, Pred, PredValue}
import graft.sources.{MicroBlockIndex, MicroBlockWriter}

/** Wall-time A/B for Z-order clustering at a scale where pruning pays
  * (see mb_zorder for the file-count scoreboard at sf0.01): the same
  * predicates served by (a) a full raw scan, (b) zone-map-pruned
  * single-key layouts, (c) the zone-map-pruned z-ordered layout.
  *
  * SYMMETRIC baselines: TWO single-key layouts — one clustered on
  * low-cardinality l_quantity (~50 distinct values collapse range
  * partitioning to ~50 real files), one on high-cardinality
  * l_extendedprice (fills all `blocks` files, so file counts are
  * directly comparable with the z layout). Each gets its home
  * predicate (qty / price) plus the two-dimensional `both`; the
  * scoreboard carries kept FILES and kept ROW VOLUME (from the stats
  * index) per decision, so layout-collapse artifacts can't masquerade
  * as pruning power. Timings INCLUDE the pruning decision (the honest
  * serving cost: decide + scan). Run after `ScaleData` has produced
  * the sf dir.
  *
  * Usage: runMain graft.ZOrderScale [sfDir] [reps] [blocks]
  * Prints one JSON line and writes target/zorder_scale.json.
  */
object ZOrderScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val blocks = if (args.length > 2) args(2).toInt else 64
    val spark = BenchWindow.plainSession()
    BenchWindow.probe(spark) // JVM warm

    val raw = s"$sfDir/lineitem.parquet"
    // scratch keyed by (sf, blocks): same block count at two scales
    // must never share a layout
    val sfName = new java.io.File(sfDir).getName
    val linQtyPath = s"target/scratch/zorder-scale/$sfName/linear-qty-$blocks"
    val linPricePath = s"target/scratch/zorder-scale/$sfName/linear-price-$blocks"
    val zPath = s"target/scratch/zorder-scale/$sfName/z-$blocks"
    val buildSec = BenchWindow.timeOnce {
      import BenchWindow.written
      if (!written(linQtyPath))
        MicroBlockWriter.write(spark.read.parquet(raw), linQtyPath, "l_quantity", blocks)
      if (!written(linPricePath))
        MicroBlockWriter.write(spark.read.parquet(raw), linPricePath, "l_extendedprice", blocks)
      if (!written(zPath))
        MicroBlockWriter.writeZOrdered(spark.read.parquet(raw), zPath,
          Seq("l_quantity", "l_extendedprice"), blocks)
    }

    val linQtyIdx = MicroBlockIndex.build(spark, linQtyPath, "lin_qty").toDF.cache()
    val linPriceIdx = MicroBlockIndex.build(spark, linPricePath, "lin_price").toDF.cache()
    val zIdx = MicroBlockIndex.build(spark, zPath, "z").toDF.cache()
    linQtyIdx.count(); linPriceIdx.count(); zIdx.count()

    val qty = Between("l_quantity", PredValue(11L), PredValue(13L))
    val price = Between("l_extendedprice", PredValue(20000L), PredValue(26000L))
    val both = And(qty, price)

    def rowFilter(p: Pred): org.apache.spark.sql.Column = p match {
      case And(l, r) => rowFilter(l) && rowFilter(r)
      case Between(c, lo, hi) => col(c).between(lo.num.get, hi.num.get)
      case other => throw new IllegalArgumentException(other.toString)
    }

    // each serving mode counts matching rows; pruned modes pay the
    // decision query INSIDE the timed region
    def fullScan(p: Pred): Long =
      spark.read.parquet(raw).filter(rowFilter(p)).count()
    def pruned(idx: DataFrame, p: Pred): Long = {
      val kept = IndexPruning.keptFiles(idx, p)
      if (kept.isEmpty) 0L
      else spark.read.parquet(kept: _*).filter(rowFilter(p)).count()
    }
    /** Row VOLUME a decision keeps (from the stats index): the metric
      * that stays honest when range partitioning collapses a layout
      * to fewer, fatter files. */
    def keptRowVolume(idx: DataFrame, p: Pred): Long = {
      val kept = IndexPruning.keptFiles(idx, p)
      if (kept.isEmpty) 0L
      else idx.filter(col("column") === "l_quantity")
        .filter(col("file").isin(kept: _*))
        .select("file", "blockId", "rows").distinct()
        .agg(sum("rows")).collect().head.getLong(0)
    }
    val totalRows = spark.read.parquet(raw).count()

    val layouts = Seq(
      "linear_qty" -> (linQtyIdx, linQtyPath),
      "linear_price" -> (linPriceIdx, linPricePath),
      "zorder" -> (zIdx, zPath))
    val results = for {
      (pname, p) <- Seq("qty" -> qty, "price" -> price, "both" -> both)
      (mode, run, filesAndVolume) <- ("raw_full",
          () => fullScan(p),
          () => (-1L, totalRows)) +:
        layouts.map { case (name, (idx, _)) =>
          (s"${name}_pruned",
            () => pruned(idx, p),
            () => (IndexPruning.keptFiles(idx, p).size.toLong, keptRowVolume(idx, p)))
        }
    } yield {
      // the stats indexes stay persisted across reps
      var counts = Seq.empty[Long]
      val r = BenchWindow.timed(spark, reps, clearCache = false) {
        val n = run(); counts :+= n; n
      }
      require(counts.forall(_ == r.value), s"row drift in $mode/$pname")
      val (files, vol) = filesAndVolume()
      (pname, mode, r.median, r.value, files, vol)
    }

    val entries = results.map { case (pn, m, sec, rows, files, vol) =>
      s""""${pn}_$m":{"sec":$sec,"rows":$rows,"files":$files,"scan_rows":$vol}"""
    }.mkString(",")
    BenchWindow.emit(
      s"""{"metric":"zorder_ab","sf":"$sfDir","blocks":$blocks,"reps":$reps,"total_rows":$totalRows,"build_sec":$buildSec,$entries}""",
      "target/zorder_scale.json")
    spark.stop()
  }
}
