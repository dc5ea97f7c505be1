package graft

/** Materializes the [[LlmScale]] scaled documents corpus WITHOUT
  * running the op suite — the q38-family ledger rows need the files
  * for both engines at factors the LlmScale harness doesn't sweep.
  *
  * Usage: runMain graft.DocsScale [factor] [srcDir] [outDir]
  */
object DocsScale {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 1000
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2) else s"target/docs_scale_x$factor"
    val spark = BenchWindow.plainSession()
    LlmScale.generate(spark, src, out, factor)
    println(s"[docs-scale] x$factor -> $out: " +
      spark.read.parquet(s"$out/documents.parquet").count() + " docs")
    spark.stop()
  }
}
