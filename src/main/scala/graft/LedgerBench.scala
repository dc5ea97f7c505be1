package graft

/** Generic cross-engine-ledger timing for SparkEntry queries over ANY
  * test-table directory — the [[ScaleBench]] protocol (median of
  * isolated reps, System.gc between, NOOP-SINK action: count() lets
  * ColumnPruning drop projected/aggregated expressions out of the
  * timed plan, the round-15 Q12Arms discovery) without its
  * lineitem-only assumptions, so the documents/events-backed shapes
  * (q38 explode, q42 range join) get sf100-scale rows too.
  *
  * The marginal convention: alongside each query a PROBE — `count(*)`
  * over the directory's primary table (lineitem > events > documents,
  * whichever exists) — is timed in the same window; (query − probe) is
  * the marginal scan/shuffle work the judge ratios against DuckDB's
  * identically-probed run (tools/bench_duckdb.py on the same files).
  *
  * Usage: runMain graft.LedgerBench <sfDir> <q1,q2,...> [reps]
  * Prints one JSON line; appends nothing — callers collect stdout.
  */
object LedgerBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LedgerBench <sfDir> <q1,q2,..> [reps]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = BenchWindow.session(BenchWindow.shufflePartitions, BenchWindow.UTC)
    BenchWindow.warm(spark)

    val primary = Seq("lineitem", "events", "documents")
      .find(t => new java.io.File(s"$sfDir/$t.parquet").exists())
      .getOrElse(sys.error(s"no primary table under $sfDir"))

    // CALM-WINDOW GATE: a ledger row measured in a steal window
    // misgrades the engine vs DuckDB's separately-measured run
    val ((probeSec, results), w) = BenchWindow.calmGated(spark, "ledger") { _ =>
      val probeSec = BenchWindow.timed(spark, reps) {
        spark.read.parquet(s"$sfDir/$primary.parquet").count()
      }.median
      probeSec -> names.map { n =>
        n -> BenchWindow.timed(spark, reps)(
          BenchWindow.sink(SparkEntry.queries(n)(spark, sfDir))).median
      }
    }
    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    BenchWindow.emit(s"""{"bench":"ledger","sf":"$sfDir","reps":$reps,"probe_table":"$primary","probe_sec":$probeSec,${w.json},"graft_sec":$qs}""")
    spark.stop()
  }
}
