package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for every declared query to
  * plans/<tag>/<name>_<suffix>.txt so plan-shape claims in the round
  * notes are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [suffix] [nameFilter...]
  *   e.g. runMain graft.PlanDump /root/testdata/sf0.1 plans/r16 before
  *        runMain graft.PlanDump /root/testdata/sf0.1 plans/r16 after q12_join_multi
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r16"
    val suffix = if (args.length > 2) args(2) else "before"
    val only: Set[String] = args.drop(3).toSet
    val spark = BenchWindow.session()
    spark.sparkContext.setLogLevel("ERROR")
    // same pre-build the bench does, so mb_* plans reflect the served layout
    try graft.queries.MicroBlockQueries.engineFor(spark, sfDir)
    catch { case t: Throwable =>
      System.err.println(s"engine pre-build failed: ${t.getMessage}") }
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.allDefs.foreach { q =>
      if (only.isEmpty || only.contains(q.name)) {
        try {
          val df = q.run(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"${q.name}_$suffix.txt"),
            txt.getBytes(StandardCharsets.UTF_8))
          println(s"ok ${q.name}")
        } catch {
          case t: Throwable =>
            System.err.println(s"FAIL ${q.name}: ${t.getClass.getName}: ${t.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
