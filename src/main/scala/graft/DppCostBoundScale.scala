package graft

import org.apache.spark.sql.functions._

/** Join-DPP decision-cost bound at ledger scale (round 14, verdict
  * #9): a star of FOUR equality conjuncts against a fact whose first
  * cut already collapses the kept set. Pre-round-14 the prune paid
  * one plan-time decision job per conjunct serially; now the
  * collapsed kept set short-circuits the rest. The artifact reports
  * the PLAN time of the 4-conjunct star and the decision jobs
  * actually run (expected: 1), plus the join's row-correctness vs the
  * unpruned plan.
  *
  * Usage: runMain graft.DppCostBoundScale <sfDir> [files]
  * Writes target/dpp_cost_bound.json.
  */
object DppCostBoundScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DppCostBoundScale <sfDir> [files]")
    val sfDir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 64
    val spark = BenchWindow.session(BenchWindow.UTC)
    BenchWindow.probe(spark) // JVM warm

    // fact: nFiles files, file i constant in all four keys (the
    // per-tenant compaction shape); volume from the sf's lineitem
    val total = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val sfName = new java.io.File(sfDir).getName
    val out = s"target/scratch/dppcost/$sfName/fact$nFiles"
    if (!BenchWindow.written(out)) {
      spark.range(total).select(
        (col("id") % nFiles).as("k1"), (col("id") % nFiles).as("k2"),
        (col("id") % nFiles).as("k3"), (col("id") % nFiles).as("k4"),
        col("id").as("v"))
        .repartition(nFiles, col("k1"))
        .write.mode("overwrite").parquet(out)
    }
    graft.sources.DictionaryIndex.saveSidecar(
      graft.sources.DictionaryIndex.build(spark, out, "dpp",
        Seq("k1", "k2", "k3", "k4")), out)
    graft.plans.JoinFilePruning.clearCache()

    import spark.implicits._
    val dim = Seq((3L, 3L, 3L, 3L, "d")).toDF("d1", "d2", "d3", "d4", "n")
    val fact = spark.read.parquet(out)
    def star = fact.join(dim,
      col("k1") === col("d1") && col("k2") === col("d2") &&
        col("k3") === col("d3") && col("k4") === col("d4"))
    val jobs0 = graft.plans.JoinFilePruning.decisionJobs.get()
    val df = star
    var kept = Seq.empty[Int]
    val planSec = BenchWindow.timeOnce {
      kept = BenchWindow.fileRelations(df).map(_.location.inputFiles)
        .filter(_.exists(_.contains("dppcost"))).map(_.length)
    }
    val jobs = graft.plans.JoinFilePruning.decisionJobs.get() - jobs0
    val rows = df.count()
    graft.plans.ZoneMapPruneRule.unregisterDict(out)
    val truth = star.count()
    require(rows == truth, s"pruned star diverged: $rows vs $truth")
    val line =
      s"""{"bench":"dpp_cost_bound","sf":"$sfDir","files":$nFiles,""" +
        s""""conjuncts":4,"plan_sec":$planSec,"decision_jobs":$jobs,""" +
        s""""files_kept":${kept.headOption.getOrElse(-1)},"rows":$rows,"rows_equal":true}"""
    BenchWindow.emit(line, "target/dpp_cost_bound.json")
    spark.stop()
  }
}
