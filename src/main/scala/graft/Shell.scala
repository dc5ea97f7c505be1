package graft

import scala.io.StdIn
import graft.engine.{GraftEngine, GraftSession, Tables}
import graft.sources.MicroBlockWriter

/** Interactive SQL shell over the cache-aware micro-block engine —
  * the counterpart of the reference's run_with_prefetch_loop.py: build
  * the engine, start the background prefetch service, read SQL lines,
  * print results, observe cache hits/misses grow as the model learns.
  *
  * Usage: sbt "runMain graft.Shell [sfDir]"; `\q` exits, `\stats`
  * prints cache/prefetch counters, `\retrain` refits the model,
  * `\save` persists the fitted model (reloaded automatically on the
  * next start — the reference's run_with_prefetch_loop.py:17-22
  * trained-model restart contract), `\range <lo> <hi>` scans a global
  * row-offset range block-aligned (the reference's
  * microblock_reader.scan_range).
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(
      Runtime.getRuntime.availableProcessors().min(32), "graft-shell")
    Tables.registerAll(spark, sfDir)

    // micro-block the fact table for the engine (one-off, like
    // parquet_to_microblocks.py before using the reference engine)
    val mbPath = "target/scratch/shell/lineitem"
    MicroBlockWriter.write(Tables.load(spark, sfDir, "lineitem"), mbPath, "l_shipdate", 16)
    val engine = new GraftEngine(spark, mbPath, "lineitem",
      logPath = Some("target/scratch/shell/access_log.jsonl"))
    // reload a previously-\save'd model so a restarted shell predicts
    // from day one instead of starting model-cold
    val modelDir = "target/scratch/shell/model"
    val preloaded =
      graft.engine.ModelIO.exists(spark, modelDir) &&
        (try {
          // load WHATEVER class was trained (markov/gru) —
          // the reference's run_with_prefetch_loop reload contract
          engine.prefetcher = graft.engine.PrefetchModels.load(spark, modelDir)
          true
        } catch { case e: Exception =>
          println(s"saved model ignored: ${e.getMessage}"); false })
    engine.service.start()
    println(s"graft shell — ${engine.blockIds.size} micro-blocks of lineitem" +
      (if (preloaded) " (saved prefetch model loaded)" else "") + "; \\q to exit")

    var line = ""
    while ({ print("SQL> "); line = StdIn.readLine(); line != null && line.trim != "\\q" }) {
      line.trim match {
        case "" => ()
        case "\\stats" =>
          println(s"cache: size=${engine.cache.size} hits=${engine.cache.hits} " +
            s"misses=${engine.cache.misses} prefetched=${engine.service.prefetched}")
        case "\\retrain" =>
          engine.retrain(); println(s"model fitted=${engine.prefetcher.fitted}")
        case r if r.startsWith("\\model") =>
          r.split("\\s+").drop(1) match {
            case Array("markov") =>
              engine.prefetcher = new graft.engine.MarkovPrefetcher(2)
              engine.retrain(); println("serving model: markov (retrained)")
            case Array("gru") =>
              engine.prefetcher = new graft.engine.GruPrefetcher(hidden = 24, epochs = 120, lr = 0.8)
              engine.retrain(); println("serving model: gru (retrained)")
            case _ => println("usage: \\model markov|gru")
          }
        case "\\save" =>
          if (engine.prefetcher.fitted) {
            engine.prefetcher.save(spark, modelDir)
            println(s"model saved to $modelDir")
          } else println("nothing to save — \\retrain first")
        case r if r.startsWith("\\range") =>
          r.split("\\s+").drop(1).map(_.toLongOption) match {
            case Array(Some(lo), Some(hi)) =>
              engine.scanRange(lo, hi).show(20, truncate = false)
            case _ => println("usage: \\range <lo> <hi>")
          }
        case sql =>
          try engine.sql(sql).show(20, truncate = false)
          catch { case e: Exception => println(s"error: ${e.getMessage}") }
      }
    }
    engine.service.stop()
    spark.stop()
  }
}
