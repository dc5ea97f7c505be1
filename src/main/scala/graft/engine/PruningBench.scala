package graft.engine

import org.apache.spark.sql.SparkSession
import graft.plans.Pred

/** The reference's headline experiment (benchmark2.py:16-60): the same
  * selective query timed through competing serve paths, tabulating what
  * the engine's pruning and caching actually buy:
  *
  *   - `full_scan`          — no engine: every file scanned, row filter only
  *   - `engine_no_prune`    — engine serve path but ALL blocks candidate
  *                            (reference test 3: read every row group,
  *                            then filter), cache cleared per rep
  *   - `engine_prune_cold`  — zone-map pruning to the kept files, no cache
  *   - `engine_prune_warm`  — pruning + LRU-cached blocks (steady state;
  *                            the reference's prefetch-loop regime)
  *
  * Times are per-rep medians; `filesRead` is the physical file count
  * each mode's scan touches, so the artifact shows the pruned path
  * reading fewer files AND finishing faster, not just one of the two.
  */
object PruningBench {

  final case class AbRow(mode: String, seconds: Double, filesRead: Long, rows: Long)

  def run(spark: SparkSession, engine: GraftEngine, pred: Pred,
      reps: Int = 3): Seq[AbRow] = {
    val allFiles = engine.blocks.map(_.file).distinct
    val dec = engine.decisions(pred)
    val keptFiles = dec.filter(_._4).map(_._2).distinct
    def timed(rows: => Long): (Double, Long) =
      graft.BenchWindow.medianOf(spark, reps, clearCache = false)(rows)

    val (tFull, nFull) =
      timed(spark.read.parquet(allFiles: _*).filter(pred.toColumn).count())
    val (tNoPrune, nNoPrune) = timed {
      engine.cache.clear()
      engine.scanRange(0, Long.MaxValue).filter(pred.toColumn).count()
    }
    val (tCold, nCold) = timed {
      engine.cache.clear()
      engine.queryDirect(pred).count()
    }
    engine.cache.clear()
    engine.query(pred).count() // materialize the working set into the LRU
    val (tWarm, nWarm) = timed(engine.query(pred).count())

    Seq(
      AbRow("full_scan", tFull, allFiles.size, nFull),
      AbRow("engine_no_prune", tNoPrune, allFiles.size, nNoPrune),
      AbRow("engine_prune_cold", tCold, keptFiles.size, nCold),
      AbRow("engine_prune_warm", tWarm, keptFiles.size, nWarm))
  }

  /** The q9 shape (ORDER BY col LIMIT k) two ways: a plain full-scan
    * TakeOrdered vs the engine's zone-map top-k serve
    * ([[GraftEngine.topK]]) — on the cluster column the engine reads
    * O(k) blocks' worth of files instead of all of them. */
  def runTopK(spark: SparkSession, engine: GraftEngine, colName: String,
      k: Int, tieBreak: Seq[String], reps: Int = 3): Seq[AbRow] = {
    import org.apache.spark.sql.functions.col
    val allFiles = engine.blocks.map(_.file).distinct
    val fileOf = engine.blocks.map(b => b.blockId -> b.file).toMap
    def timed(rows: => Long): (Double, Long) =
      graft.BenchWindow.medianOf(spark, reps, clearCache = false)(rows)

    val (tFull, nFull) = timed {
      spark.read.parquet(allFiles: _*)
        .filter(col(colName).isNotNull)
        .orderBy(col(colName).desc +: tieBreak.map(col(_).asc): _*)
        .limit(k).collect().length.toLong
    }
    // cold: one direct pruned scan, no cache writes (queryDirect's
    // counterpart — materializing LRU entries costs ~2x the scan and
    // only pays off on re-reads)
    val (tTopk, nTopk) = timed {
      engine.cache.clear()
      engine.topKDirect(colName, k, tieBreak).collect().length.toLong
    }
    // steady state: the candidate blocks live in the LRU (the
    // reference's prefetch-loop regime — its cache exists exactly so
    // repeated serving skips the re-read)
    engine.cache.clear()
    engine.topK(colName, k, tieBreak).collect()
    val (tWarm, nWarm) = timed {
      engine.topK(colName, k, tieBreak).collect().length.toLong
    }
    val topkFiles =
      engine.accessLog.all.last.blocks.flatMap(fileOf.get).distinct.size
    Seq(
      AbRow("orderby_full_scan", tFull, allFiles.size, nFull),
      AbRow("engine_topk", tTopk, topkFiles, nTopk),
      AbRow("engine_topk_warm", tWarm, topkFiles, nWarm))
  }

  /** One JSON object for embedding in the bench line. */
  def toJson(rows: Seq[AbRow]): String =
    rows.map(r =>
        s""""${r.mode}":{"sec":${r.seconds},"files":${r.filesRead},"rows":${r.rows}}""")
      .mkString("{", ",", "}")
}
