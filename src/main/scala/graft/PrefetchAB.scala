package graft

/** Artifact driver for the prefetch-loop A/B
  * ([[graft.engine.PrefetchLoopBench]]): the reference's
  * run_with_prefetch_loop.py + benchmark.py experiment as one measured
  * JSON line — prediction → warmer cache → faster queries, per model
  * class, with the unpredictable-workload control alongside.
  *
  * Usage: runMain graft.PrefetchAB [reps]
  * (SPARK_GRAFT_SF_DIR selects the table, default sf0.1.)
  * Writes target/prefetch_ab.json.
  */
object PrefetchAB {

  def main(args: Array[String]): Unit = {
    val reps = if (args.length > 0) args(0).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the canary samples make a sick measurement window self-evident
    import BenchWindow.satProbe
    val spark = BenchWindow.session()
    BenchWindow.warm(spark)

    // A FRESH engine (not the memoized engineFor one): the A/B needs
    // its own clean access log, and a cache capacity BELOW the
    // 16-file working set so the OFF arm keeps missing at steady
    // state — see PrefetchLoopBench's honesty rules.
    val capacity = 6
    val (trainPasses, evalPasses, topK, historyLen) = (2, 3, 4, 4)
    val path = graft.queries.MicroBlockQueries.microPath(spark, sfDir)
    val engine = new graft.engine.GraftEngine(
      spark, path, "lineitem", cacheCapacity = capacity)
    val cycle = graft.queries.MicroBlockQueries.workload.distinct

    val satStart = satProbe(spark)
    val rows = graft.engine.PrefetchLoopBench.run(
      spark, engine, cycle, trainPasses = trainPasses, evalPasses = evalPasses,
      reps = reps, topK = topK, historyLen = historyLen)
    val satMid = satProbe(spark)
    // the OVERLAPPED experiment: warming on the service's background
    // thread during think-time gaps, end-to-end wall time reported —
    // two think-times so a negative result still locates the crossover
    val overlapped = Seq(100L, 250L).flatMap(t =>
      graft.engine.PrefetchLoopBench.runOverlapped(
        spark, engine, cycle, trainPasses = 1, evalPasses = evalPasses,
        reps = reps, topK = topK, historyLen = historyLen, thinkMs = t))
    val satEnd = satProbe(spark)

    val line =
      s"""{"sf":"$sfDir","reps":$reps,"stat":"median_rep","cache_capacity":$capacity,""" +
        s""""files_total":${engine.blocks.map(_.file).distinct.size},""" +
        s""""topk":$topK,"history_len":$historyLen,""" +
        s""""train_passes":$trainPasses,"eval_passes":$evalPasses,""" +
        s""""sat_probe_start_sec":$satStart,"sat_probe_mid_sec":$satMid,""" +
        s""""sat_probe_end_sec":$satEnd,""" +
        s""""arms":${graft.engine.PrefetchLoopBench.toJson(rows)},""" +
        s""""overlapped":${graft.engine.PrefetchLoopBench.toJsonOverlapped(overlapped)}}"""
    BenchWindow.emit(line, "target/prefetch_ab.json")
    spark.stop()
  }
}
