package graft

/** Dev tool: time one named query in isolation, repeated.
  * Usage: runMain graft.TimeQuery <name> <sfDir> [reps]
  * (Bench totals on this machine carry external-load noise; isolated
  * repeats are the trustworthy signal — see ROUND_NOTES.md.)
  *
  * Round 16: timed action is the NOOP SINK, matching Bench — count()
  * lets ColumnPruning drop projected work out of the timed plan, so
  * isolated numbers were not comparable to bench rows before.
  * SPARK_GRAFT_NO_EXTENSIONS=1 runs a bare session (no graft rules) to
  * isolate optimizer-rule overhead from query work.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    // the same session as Bench so isolated timings are comparable
    val noExt = sys.env.contains("SPARK_GRAFT_NO_EXTENSIONS")
    val spark = if (noExt) BenchWindow.plainSession() else BenchWindow.session()
    BenchWindow.probe(spark) // JVM warm
    spark.read.parquet(s"$sfDir/region.parquet").count() // parquet path warm
    // SPARK_GRAFT_JOBSTATS=1: per-rep job/stage/task-time counters — the
    // "how many Spark jobs does one rep launch" diagnostic (fixed
    // per-job overhead dominates sf0.1 rows; see OPTIMIZATION_r16.md).
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    if (sys.env.contains("SPARK_GRAFT_JOBSTATS"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        }
      })
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { nm =>
      val q = SparkEntry.queries(nm)
      (1 to reps).foreach { i =>
        spark.sparkContext.setJobDescription(s"$nm rep $i")
        val sec = BenchWindow.timed(spark, 1) {
          jobs.set(0); stages.set(0); taskMs.set(0); tasks.set(0)
          BenchWindow.sink(q(spark, sfDir))
        }.median
        val stats = if (sys.env.contains("SPARK_GRAFT_JOBSTATS"))
          f" jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} taskSec=${taskMs.get / 1e3}%.1f"
        else ""
        println(f"[time] $nm rep $i: $sec%.2fs (ext=${!noExt})$stats")
      }
    }
    spark.stop()
  }
}
