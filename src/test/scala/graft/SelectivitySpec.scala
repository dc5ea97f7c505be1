package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.GraftSession
import graft.sources.{BlockHistograms, FileHistogram}

/** Histogram selectivity estimation (sources/BlockHistograms): the
  * estimator must be BOUNDED (0 ≤ est ≤ rows, exact on full coverage,
  * zero on disjoint ranges) and, on realistic layouts, ACCURATE — the
  * number layout election and scan-vs-serve decisions consume.
  */
class SelectivitySpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 8, appName = "graft-sel-test")

  private def synthHists(n: Int, files: Int, buckets: Int): Seq[FileHistogram] = {
    import spark.implicits._
    val out = "target/scratch/test/selectivity/uniform"
    spark.range(n).select(col("id").cast("double").as("v"))
      .repartitionByRange(files, col("v")).sortWithinPartitions("v")
      .write.mode("overwrite").parquet(out)
    BlockHistograms.build(spark, out, "t", "v", 0.0, (n - 1).toDouble, buckets)
      .collect().toSeq
  }

  test("estimator bounds: full coverage is exact, disjoint is zero, always within [0, rows]") {
    val hists = synthHists(n = 10000, files = 4, buckets = 16)
    assert(hists.size == 4)
    hists.foreach { h =>
      assert(h.counts.sum == h.rows)
      // full coverage: every row of the file
      assert(BlockHistograms.estimateRange(h, h.lo, h.hi) == h.rows.toDouble)
      // disjoint range: nothing
      assert(BlockHistograms.estimateRange(h, h.hi + 1e6, h.hi + 2e6) == 0.0)
      assert(BlockHistograms.estimateRange(h, -2e6, -1e6) == 0.0)
      // arbitrary ranges stay bounded
      Seq((0.0, 100.0), (2500.0, 7777.0), (9000.0, 99999.0)).foreach { case (a, b) =>
        val e = BlockHistograms.estimateRange(h, a, b)
        assert(e >= 0.0 && e <= h.rows.toDouble)
      }
    }
  }

  test("uniform data: interpolated estimates land within 2% of truth") {
    val n = 10000
    val hists = synthHists(n, files = 4, buckets = 16)
    // value = row id, so truth for [a,b] is b-a+1 clamped to the domain
    Seq((2500.0, 4999.0), (0.0, 1234.0), (3333.0, 8888.0)).foreach { case (a, b) =>
      val est = hists.map(BlockHistograms.estimateRange(_, a, b)).sum
      val truth = (math.min(b, n - 1) - math.max(a, 0.0) + 1)
      assert(math.abs(est - truth) / truth < 0.02,
        s"range [$a,$b]: est $est vs truth $truth")
    }
  }

  test("DATE columns histogram in epoch-day units (the footer's INT32 view)") {
    import spark.implicits._
    val out = "target/scratch/test/selectivity/dates"
    // 400 consecutive days from 2024-01-01
    spark.range(400)
      .select(date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")).as("d"))
      .repartitionByRange(2, col("d")).sortWithinPartitions("d")
      .write.mode("overwrite").parquet(out)
    val lo = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toDouble
    val hists = BlockHistograms.build(spark, out, "t", "d", lo, lo + 399, buckets = 8)
      .collect()
    assert(hists.map(_.rows).sum == 400)
    // first 100 days, inclusive: uniform truth = 100
    val est = hists.map(BlockHistograms.estimateRange(_, lo, lo + 99)).sum
    assert(math.abs(est - 100.0) / 100.0 < 0.02, s"est $est vs 100")
  }

  test("mb_selectivity on the real layout: totals match and the estimate is accurate") {
    val rows = SparkEntry.queries("mb_selectivity")(spark, "/root/testdata/sf0.001").collect()
    val total = rows.find(_.getString(0) == "TOTAL").get
    val perFile = rows.filterNot(_.getString(0) == "TOTAL")
    assert(perFile.nonEmpty)
    // actual_rows in the scoreboard == the predicate's true row count
    val e = graft.queries.MicroBlockQueries.engineFor(spark, "/root/testdata/sf0.001")
    val truth = spark.read.parquet("target/scratch/microblocks/sf0.001/lineitem")
      .filter(graft.queries.MicroBlockQueries.benchPred.toColumn).count()
    assert(total.getLong(3) == truth)
    // per-file estimates bounded by file rows
    perFile.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= r.getLong(1).toDouble)
    }
    // the headline: estimated total within 10% of actual on the
    // clustered layout (each file's histogram sees a narrow range)
    val est = total.getDouble(2)
    assert(truth > 0 && math.abs(est - truth) / truth < 0.10,
      s"estimate $est vs actual $truth")
  }
}
