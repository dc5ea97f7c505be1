package graft.engine

import org.apache.spark.sql.SparkSession

/** Common serving contract for next-block predictors (the reference's
  * model interface: train on history, suggest top-K next blocks,
  * persist for load-at-startup). All three model classes (Markov
  * table, log-linear, GRU) serve through this trait, so the engine's
  * prefetch service and the shell are model-agnostic — the reference's
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
  * class (markov / logistic / gru), mirroring the reference's
  * trained_model.pt + mappings reload at service start. */
object PrefetchModels {
  def load(spark: SparkSession, dir: String): Prefetcher =
    ModelIO.strField(ModelIO.readMeta(spark, dir), "model") match {
      case "markov" => MarkovPrefetcher.load(spark, dir)
      case "logistic" => LogisticPrefetcher.load(spark, dir)
      case "gru" => GruPrefetcher.load(spark, dir)
      case other => throw new IllegalArgumentException(
        s"unknown prefetch model kind '$other' in $dir/meta.json")
    }
}

/** LEARNED-WEIGHTS sequence predictor — graft's stand-in for the
  * reference's LSTM (model.py:1-342; no torch exists in this sandbox,
  * so the model class is a log-linear sequence model in plain JVM
  * code rather than a recurrent net, trained the same way the rest of
  * graft computes: as Spark aggregations).
  *
  * Model: factorized softmax over the next block,
  *   logit(c | p₁..pₘ) = b(c) + Σ_pos W(pos, p_pos, c)
  * — each context position contributes an additive weight row (a
  * log-bilinear model, Mnih & Hinton '07 shape). Unlike the Markov
  * table it GENERALIZES: an unseen (p₁,p₂) combination still predicts
  * from each position's marginal weights instead of backing off.
  *
  * Training: full-batch gradient descent on cross-entropy. Each epoch
  * is ONE distributed aggregation — examples live in an RDD, every
  * partition accumulates its local gradient into a flat array, and
  * partial gradients are summed as 2⁻²⁴-scaled LONGS, so the result is
  * exact integer addition: deterministic under any partitioning or
  * combine order (same discipline as the IVF k-means means — see
  * ROUND_NOTES).
  *
  * Weight-space bound: the CONTEXT features are hashed into at most
  * `featureSpace` buckets, so the weight vector is
  * (order·min(B,F) + 1)·B doubles — linear, not quadratic, in the
  * block count once B > F. Below the bound the mapping is the identity
  * (bit-for-bit the unhashed model); above it, colliding context
  * blocks share weight rows — graceful accuracy degradation, never
  * unbounded memory (the standard hashing-trick contract,
  * Weinberger et al. '09). The class dimension stays exact: scoring
  * is O(B) per candidate ranking, weights O(F·B).
  */
final class LogisticPrefetcher(
    order: Int = 2, epochs: Int = 60, lr: Double = 0.5,
    featureSpace: Int = 1 << 12) extends Prefetcher {
  require(order >= 1, "context length must be >= 1")
  require(featureSpace >= 1, "featureSpace must be >= 1")

  private val Scale = (1L << 24).toDouble

  private var blocks: Array[Int] = Array.empty          // dense idx -> block id
  private var indexOf: Map[Int, Int] = Map.empty        // block id -> dense idx
  private var nF: Int = 0                               // context feature buckets
  private var featOf: Array[Int] = Array.empty          // dense idx -> feature bucket
  private var weights: Array[Double] = Array.empty      // (order*nF + 1) x B

  private def nB: Int = blocks.length

  /** Fitted weight-vector size — (order·min(B,F) + 1)·B; the bound the
    * hashing trick guarantees (test hook). */
  def weightCount: Int = weights.length
  override def fitted: Boolean = weights.nonEmpty
  // weight layout: pos p, context FEATURE f, class c -> ((p*nF + f) * nB) + c;
  // bias row at offset order*nF*nB
  private def wIdx(pos: Int, f: Int, c: Int): Int = (pos * nF + f) * nB + c
  private def bIdx(c: Int): Int = order * nF * nB + c

  /** Context-feature hash of a BLOCK ID (not the dense index):
    * finalizer of splitmix64 over the id, mod nF. Bucket assignments
    * are stable across refits only once the block set has grown past
    * `featureSpace` (nF pins at featureSpace); below that nF = nB moves
    * with the block set, so buckets shift between refits — harmless for
    * correctness since fit() retrains from scratch each time. */
  private def hashFeat(blockId: Int): Int = {
    var z = blockId.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (((z ^ (z >>> 31)) % nF + nF) % nF).toInt
  }

  def fitSeq(spark: SparkSession, blocks: Seq[Int]): LogisticPrefetcher = fit(spark, blocks)

  /** Fit from an access sequence (block ids in visit order). */
  def fit(spark: SparkSession, sequence: Seq[Int]): LogisticPrefetcher = {
    blocks = sequence.distinct.sorted.toArray
    indexOf = blocks.zipWithIndex.toMap
    nF = math.min(nB, featureSpace)
    featOf =
      if (nF == nB) Array.tabulate(nB)(identity) // identity: exact model
      else blocks.map(hashFeat)
    val dense = sequence.map(indexOf).toArray
    // examples: (context most-recent-FIRST as feature buckets, label);
    // short heads keep their truncated context (position beyond
    // history contributes 0)
    val examples = (1 until dense.length).map { t =>
      val ctx = (1 to math.min(order, t)).map(j => featOf(dense(t - j))).toArray
      (ctx, dense(t))
    }
    val nW = order * nF * nB + nB
    val n = examples.size
    weights = new Array[Double](nW)
    if (n == 0) return this
    // partition count scales with the example count (integer-scaled
    // gradients make the sum partition-independent, so this is purely
    // a task-overhead knob: 64 near-empty partitions cost ~64 task
    // launches PER EPOCH on a replay of a few hundred accesses)
    val parts = math.max(1, math.min(64, n / 64))
    val rdd = spark.sparkContext.parallelize(examples, parts).cache()
    val B = nB
    val F = nF
    val ord = order
    val scale = Scale
    (1 to epochs).foreach { _ =>
      val wB = spark.sparkContext.broadcast(weights)
      val grad = rdd.mapPartitions { it =>
        val w = wB.value
        val g = new Array[Double](nW)
        val logits = new Array[Double](B)
        it.foreach { case (ctx, y) =>
          var c = 0
          while (c < B) {
            var z = w(ord * F * B + c) // bias
            var p = 0
            while (p < ctx.length) { z += w((p * F + ctx(p)) * B + c); p += 1 }
            logits(c) = z
            c += 1
          }
          // softmax (max-shifted for stability)
          var mx = logits(0); c = 1
          while (c < B) { if (logits(c) > mx) mx = logits(c); c += 1 }
          var sum = 0.0; c = 0
          while (c < B) { logits(c) = math.exp(logits(c) - mx); sum += logits(c); c += 1 }
          c = 0
          while (c < B) {
            val d = logits(c) / sum - (if (c == y) 1.0 else 0.0)
            g(ord * F * B + c) += d
            var p = 0
            while (p < ctx.length) { g((p * F + ctx(p)) * B + c) += d; p += 1 }
            c += 1
          }
        }
        // integer-scaled partial gradient: exact, order-independent sums
        Iterator.single(g.map(v => math.rint(v * scale).toLong))
      }.reduce { (a, b) =>
        val out = new Array[Long](a.length)
        var i = 0
        while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
        out
      }
      wB.destroy()
      val step = lr / n
      var i = 0
      while (i < nW) { weights(i) -= step * (grad(i) / scale); i += 1 }
    }
    rdd.unpersist(blocking = false)
    this
  }

  override def suggest(recent: Seq[Int], k: Int): Seq[Int] =
    suggestScored(recent, k).map(_._1)

  /** Softmax over the class scores: the model trains as a softmax
    * classifier, so exp-normalized logits ARE its next-block
    * probabilities — the confidences the thresholded service gates on. */
  override def suggestScored(recent: Seq[Int], k: Int): Seq[(Int, Double)] = {
    if (recent.isEmpty || nB == 0) return Seq.empty
    // context most-recent-first, unknown blocks skipped (no feature)
    val ctx = recent.reverse.take(order)
      .flatMap(indexOf.get).map(featOf).toArray
    val zs = new Array[Double](nB)
    var c = 0
    while (c < nB) {
      var z = weights(bIdx(c))
      var p = 0
      while (p < ctx.length) { z += weights(wIdx(p, ctx(p), c)); p += 1 }
      zs(c) = z
      c += 1
    }
    val zMax = zs.max
    val exps = zs.map(z => math.exp(z - zMax))
    val norm = exps.sum
    (0 until nB).map(i => (blocks(i), exps(i) / norm))
      .sortBy { case (b, pr) => (-pr, b) }.take(k)
  }

  /** Persist the fitted weights + block mapping (the reference's
    * trained_model.pt + trained_mappings.json contract,
    * run_with_prefetch_loop.py:17-22). Weights ride as parquet DOUBLE
    * columns — IEEE bits round-trip exactly, so a restored model
    * scores bit-identically. */
  def save(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(blocks.toSeq.zipWithIndex.map { case (b, i) => (i, b) })
      .toDF("idx", "block")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/blocks.parquet")
    spark.createDataset(weights.toSeq.zipWithIndex.map { case (w, i) => (i, w) })
      .toDF("idx", "w")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/weights.parquet")
    ModelIO.writeMeta(spark, dir,
      s"""{"model":"logistic","order":$order,"featureSpace":$featureSpace,"nF":$nF}""")
  }

  /** Restore a model written by [[save]] into this instance. The
    * feature mapping is NOT stored — it is recomputed from (blocks,
    * nF), which is deterministic (identity below the hash bound,
    * splitmix64 above), and the meta's recorded nF cross-checks the
    * recomputation. */
  def restore(spark: SparkSession, dir: String): LogisticPrefetcher = {
    val meta = ModelIO.readMeta(spark, dir)
    val storedOrder = ModelIO.intField(meta, "order")
    val storedF = ModelIO.intField(meta, "featureSpace")
    require(storedOrder == order && storedF == featureSpace,
      s"stored (order=$storedOrder, featureSpace=$storedF) != " +
        s"this instance's (order=$order, featureSpace=$featureSpace)")
    blocks = spark.read.parquet(s"$dir/blocks.parquet")
      .select("idx", "block").collect()
      .sortBy(_.getInt(0)).map(_.getInt(1))
    indexOf = blocks.zipWithIndex.toMap
    nF = math.min(nB, featureSpace)
    require(nF == ModelIO.intField(meta, "nF"),
      s"recomputed nF $nF != stored ${ModelIO.intField(meta, "nF")}")
    featOf =
      if (nF == nB) Array.tabulate(nB)(identity)
      else blocks.map(hashFeat)
    weights = spark.read.parquet(s"$dir/weights.parquet")
      .select("idx", "w").collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    require(weights.length == order * nF * nB + nB,
      s"weight vector length ${weights.length} != expected ${order * nF * nB + nB}")
    this
  }
}

object LogisticPrefetcher {
  /** Load a model from disk, hyperparameters taken from the sidecar. */
  def load(spark: SparkSession, dir: String): LogisticPrefetcher = {
    val meta = ModelIO.readMeta(spark, dir)
    new LogisticPrefetcher(
      order = ModelIO.intField(meta, "order"),
      featureSpace = ModelIO.intField(meta, "featureSpace"))
      .restore(spark, dir)
  }
}
