package graft.engine

import org.apache.spark.sql.SparkSession

/** Common serving contract for next-block predictors (the reference's
  * model interface: train on history, suggest top-K next blocks,
  * persist for load-at-startup). Both model classes (Markov table,
  * GRU) serve through this trait, so the engine's prefetch service and
  * the shell are model-agnostic — the reference's
  * run_with_prefetch_loop.py loads whatever was trained, and so does
  * [[PrefetchModels.load]]. */
trait Prefetcher {
  def suggest(recent: Seq[Int], k: Int): Seq[Int]
  /** [[suggest]] with per-block CONFIDENCE in [0, 1] — the reference
    * scheduler's contract (prefetch_scheduler.py suggest_topk_prefetch
    * returns (block, probability) pairs and the service drops
    * candidates below `prefetch_threshold`). Default: unscored models
    * report certainty 1.0, so an unthresholded service behaves exactly
    * as before. */
  def suggestScored(recent: Seq[Int], k: Int): Seq[(Int, Double)] =
    suggest(recent, k).map(_ -> 1.0)
  def fitted: Boolean
  /** Re-fit in place from an access sequence of block ids. */
  def fitSeq(spark: SparkSession, blocks: Seq[Int]): Prefetcher
  def save(spark: SparkSession, dir: String): Unit
}

/** Load-at-startup dispatch: the sidecar's `model` field names the
  * class (markov / gru), mirroring the reference's trained_model.pt +
  * mappings reload at service start. */
object PrefetchModels {
  def load(spark: SparkSession, dir: String): Prefetcher =
    ModelIO.strField(ModelIO.readMeta(spark, dir), "model") match {
      case "markov" => MarkovPrefetcher.load(spark, dir)
      case "gru" => GruPrefetcher.load(spark, dir)
      case other => throw new IllegalArgumentException(
        s"unknown prefetch model kind '$other' in $dir/meta.json")
    }
}
