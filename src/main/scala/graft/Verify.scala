package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    import BenchWindow.jstr
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience: optional comma-separated query-name filter
    // (the driver always passes exactly two args → full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = BenchWindow.session(BenchWindow.UTC)
    new java.io.File(outDir).mkdirs()
    // A red query must cost a red row, not vanish: collect failures and
    // write them as failed.json so an absent dump is never mistaken for
    // a pass by the driver's compare.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    var dumped = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // several operators persist() intermediates; clear between
      // queries so storage memory doesn't accumulate across the run
      spark.catalog.clearCache()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    println(s"[verify] $dumped dumped / ${failed.size} failed")
    if (failed.nonEmpty)
      failed.foreach { case (n, m) => println(s"[verify] FAILED $n: $m") }
    spark.stop()
  }
}
