package graft.engine

import org.apache.spark.sql.SparkSession

/** Pure GRU math over a flat weight array — kept in a static object so
  * Spark closures ship only (B, H) and the broadcast weights, never a
  * model instance.
  *
  * Flat layout: Uz | Ur | Uh (B×H each) | Wz | Wr | Wh (H×H each)
  *            | bz | br | bh (H each) | V (B×H) | c (B).
  */
private[graft] object GruMath {
  def oU(B: Int, H: Int, gate: Int): Int = gate * B * H
  def oW(B: Int, H: Int, gate: Int): Int = 3 * B * H + gate * H * H
  def oB(B: Int, H: Int, gate: Int): Int = 3 * B * H + 3 * H * H + gate * H
  def oV(B: Int, H: Int): Int = 3 * B * H + 3 * H * H + 3 * H
  def oC(B: Int, H: Int): Int = oV(B, H) + B * H
  def nW(B: Int, H: Int): Int = oC(B, H) + B

  /** Forward one window from h=0. `cache` (length 5·T, or null to skip)
    * receives per-step (z, r, g, h_{t-1}, h_t) for BPTT. Returns the
    * final hidden state. */
  def forward(w: Array[Double], B: Int, H: Int, xs: Array[Int],
      cache: Array[Array[Double]]): Array[Double] = {
    var h = new Array[Double](H)
    var t = 0
    while (t < xs.length) {
      val x = xs(t)
      val z = new Array[Double](H); val r = new Array[Double](H)
      val g = new Array[Double](H); val h2 = new Array[Double](H)
      var i = 0
      while (i < H) {
        var az = w(oU(B, H, 0) + x * H + i) + w(oB(B, H, 0) + i)
        var ar = w(oU(B, H, 1) + x * H + i) + w(oB(B, H, 1) + i)
        var j = 0
        while (j < H) {
          az += w(oW(B, H, 0) + i * H + j) * h(j)
          ar += w(oW(B, H, 1) + i * H + j) * h(j)
          j += 1
        }
        z(i) = 1.0 / (1.0 + math.exp(-az))
        r(i) = 1.0 / (1.0 + math.exp(-ar))
        i += 1
      }
      i = 0
      while (i < H) {
        var ag = w(oU(B, H, 2) + x * H + i) + w(oB(B, H, 2) + i)
        var j = 0
        while (j < H) { ag += w(oW(B, H, 2) + i * H + j) * (r(j) * h(j)); j += 1 }
        g(i) = math.tanh(ag)
        h2(i) = (1.0 - z(i)) * h(i) + z(i) * g(i)
        i += 1
      }
      if (cache != null) {
        cache(5 * t) = z; cache(5 * t + 1) = r; cache(5 * t + 2) = g
        cache(5 * t + 3) = h; cache(5 * t + 4) = h2
      }
      h = h2
      t += 1
    }
    h
  }

  /** Next-block logits from a hidden state. */
  def logits(w: Array[Double], B: Int, H: Int, h: Array[Double]): Array[Double] = {
    val out = new Array[Double](B)
    var c = 0
    while (c < B) {
      var v = w(oC(B, H) + c)
      var i = 0
      while (i < H) { v += w(oV(B, H) + c * H + i) * h(i); i += 1 }
      out(c) = v
      c += 1
    }
    out
  }

  /** Accumulate one window's softmax-CE + BPTT gradient into `gr`. */
  def windowGrad(w: Array[Double], B: Int, H: Int, win: Array[Int],
      gr: Array[Double]): Unit = {
    val T = win.length - 1
    val xs = java.util.Arrays.copyOfRange(win, 0, T)
    val cache = new Array[Array[Double]](5 * T)
    forward(w, B, H, xs, cache)
    val dh = new Array[Double](H)
    var t = T - 1
    while (t >= 0) {
      val y = win(t + 1); val x = xs(t)
      val z = cache(5 * t); val r = cache(5 * t + 1)
      val g = cache(5 * t + 2); val hPrev = cache(5 * t + 3)
      val h = cache(5 * t + 4)
      // softmax CE at this step: dlogits = p - onehot(y)
      val lg = logits(w, B, H, h)
      var mx = Double.NegativeInfinity
      var c = 0
      while (c < B) { if (lg(c) > mx) mx = lg(c); c += 1 }
      var sum = 0.0; c = 0
      while (c < B) { lg(c) = math.exp(lg(c) - mx); sum += lg(c); c += 1 }
      c = 0
      while (c < B) {
        val d = lg(c) / sum - (if (c == y) 1.0 else 0.0)
        gr(oC(B, H) + c) += d
        var i = 0
        while (i < H) {
          gr(oV(B, H) + c * H + i) += d * h(i)
          dh(i) += w(oV(B, H) + c * H + i) * d
          i += 1
        }
        c += 1
      }
      // h_t = (1-z)∘h_{t-1} + z∘g
      val dg = new Array[Double](H); val dz = new Array[Double](H)
      val dhP = new Array[Double](H)
      var i = 0
      while (i < H) {
        dg(i) = dh(i) * z(i)
        dz(i) = dh(i) * (g(i) - hPrev(i))
        dhP(i) = dh(i) * (1.0 - z(i))
        i += 1
      }
      // g = tanh(ag): da_g = dg ∘ (1 - g²); d(r∘h_{t-1}) = Wh^T·da_g
      val dag = new Array[Double](H)
      i = 0
      while (i < H) { dag(i) = dg(i) * (1.0 - g(i) * g(i)); i += 1 }
      val drh = new Array[Double](H)
      i = 0
      while (i < H) {
        gr(oU(B, H, 2) + x * H + i) += dag(i)
        gr(oB(B, H, 2) + i) += dag(i)
        var j = 0
        while (j < H) {
          gr(oW(B, H, 2) + i * H + j) += dag(i) * (r(j) * hPrev(j))
          drh(j) += w(oW(B, H, 2) + i * H + j) * dag(i)
          j += 1
        }
        i += 1
      }
      val dr = new Array[Double](H)
      i = 0
      while (i < H) {
        dr(i) = drh(i) * hPrev(i)
        dhP(i) += drh(i) * r(i)
        i += 1
      }
      // sigmoid gates: da = d ∘ s(1-s)
      i = 0
      while (i < H) {
        val daz = dz(i) * z(i) * (1.0 - z(i))
        val dar = dr(i) * r(i) * (1.0 - r(i))
        gr(oU(B, H, 0) + x * H + i) += daz
        gr(oU(B, H, 1) + x * H + i) += dar
        gr(oB(B, H, 0) + i) += daz
        gr(oB(B, H, 1) + i) += dar
        var j = 0
        while (j < H) {
          gr(oW(B, H, 0) + i * H + j) += daz * hPrev(j)
          gr(oW(B, H, 1) + i * H + j) += dar * hPrev(j)
          dhP(j) += w(oW(B, H, 0) + i * H + j) * daz +
            w(oW(B, H, 1) + i * H + j) * dar
          j += 1
        }
        i += 1
      }
      System.arraycopy(dhP, 0, dh, 0, H)
      t -= 1
    }
  }
}

/** RECURRENT sequence predictor — the structural twin of the
  * reference's LSTM prefetch model (model.py:1-342). The sandbox has
  * no torch, so the net is a minimal pure-JVM single-layer GRU (Cho
  * et al. '14 — public knowledge; GRU over LSTM for half the gate
  * math at the same sequence-modeling shape):
  *
  *   z_t = σ(Uz·x_t + Wz·h_{t-1} + bz)        update gate
  *   r_t = σ(Ur·x_t + Wr·h_{t-1} + br)        reset gate
  *   g_t = tanh(Uh·x_t + Wh·(r_t∘h_{t-1}) + bh)
  *   h_t = (1-z_t)∘h_{t-1} + z_t∘g_t
  *   logits_t = V·h_t + c   → softmax over the next block
  *
  * x_t is the one-hot of the current block's dense index, so every
  * U·x_t is a row lookup (an embedding by another name) and the
  * per-step cost is O(H² + B·H).
  *
  * Training is truncated BPTT (windows of `window`+1 accesses, stride
  * `window`, so every transition is trained exactly once per epoch;
  * hidden state resets per window — the standard truncation) by
  * full-batch gradient descent: windows live in an RDD, each partition
  * accumulates its local gradient into one flat array, and partial
  * gradients reduce as 2⁻²⁴-scaled LONGS — exact integer addition,
  * deterministic under any partitioning or combine order (the same
  * discipline as the IVF k-means means).
  * Initial weights come from a fixed splitmix64 stream, so fit() is
  * bit-reproducible.
  *
  * Unlike the Markov table (exact context match), the GRU carries
  * STATE across the whole recent window — the reference's
  * architectural reason for an RNN: periodic multi-block scan cycles longer than any fixed
  * context order are representable in H hidden units.
  *
  * Scale shape: weights are (4B·H + 3H² + 3H + B) doubles — LINEAR in
  * the block count — broadcast once per epoch; gradient traffic is one
  * reduce of the same size. The access-log replay is metadata-scale
  * (thousands of accesses), so epochs are cheap; at a 100 TB table's
  * block count the model stays broadcastable and H bounds the
  * sequential math, not the table size.
  */
final class GruPrefetcher(
    hidden: Int = 24, window: Int = 8, epochs: Int = 60, lr: Double = 0.4,
    seed: Long = 0x67726166745F38L) extends Prefetcher {
  require(hidden >= 1 && window >= 1, "hidden and window must be >= 1")

  private val Scale = (1L << 24).toDouble

  private var blocks: Array[Int] = Array.empty    // dense idx -> block id
  private var indexOf: Map[Int, Int] = Map.empty  // block id -> dense idx
  private var weights: Array[Double] = Array.empty

  private def nB: Int = blocks.length

  /** Fitted weight-vector size (test hook). */
  def weightCount: Int = weights.length
  def fitted: Boolean = weights.nonEmpty

  private def initWeights(): Array[Double] = {
    val B = nB; val H = hidden
    val w = new Array[Double](GruMath.nW(B, H))
    var s = seed
    var i = 0
    val a = 0.18
    // biases (gate biases + output bias) start at zero; the rest small
    // uniform(-a, a) from the deterministic splitmix stream
    while (i < w.length) {
      val isBias = (i >= GruMath.oB(B, H, 0) && i < GruMath.oB(B, H, 0) + 3 * H) ||
        i >= GruMath.oC(B, H)
      if (!isBias) {
        s = s + 0x9E3779B97F4A7C15L
        var z = s
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        w(i) = ((z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0) * a
      }
      i += 1
    }
    w
  }

  def fitSeq(spark: SparkSession, blocks: Seq[Int]): GruPrefetcher = fit(spark, blocks)

  /** Fit from an access sequence (block ids in visit order). */
  def fit(spark: SparkSession, sequence: Seq[Int]): GruPrefetcher = {
    blocks = sequence.distinct.sorted.toArray
    indexOf = blocks.zipWithIndex.toMap
    weights = initWeights()
    val dense = sequence.map(indexOf).toArray
    if (dense.length < 2) return this
    val wins = dense.sliding(window + 1, window).filter(_.length >= 2)
      .map(_.toArray).toArray
    val totalPreds = wins.map(_.length - 1).sum
    val parts = math.max(1, math.min(64, wins.length))
    val rdd = spark.sparkContext.parallelize(wins.toSeq, parts).cache()
    val B = nB; val H = hidden
    val scale = Scale
    val nWeights = GruMath.nW(B, H)
    (1 to epochs).foreach { _ =>
      val wBc = spark.sparkContext.broadcast(weights)
      val grad = rdd.mapPartitions { it =>
        val w = wBc.value
        val gr = new Array[Double](nWeights)
        it.foreach(win => GruMath.windowGrad(w, B, H, win, gr))
        // integer-scaled partial gradient: exact, order-independent sums
        Iterator.single(gr.map(v => math.rint(v * scale).toLong))
      }.reduce { (a, b) =>
        val out = new Array[Long](a.length)
        var i = 0
        while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
        out
      }
      wBc.destroy()
      val step = lr / totalPreds
      var i = 0
      while (i < nWeights) { weights(i) -= step * (grad(i) / scale); i += 1 }
    }
    rdd.unpersist(blocking = false)
    this
  }

  override def suggest(recent: Seq[Int], k: Int): Seq[Int] =
    suggestScored(recent, k).map(_._1)

  /** Softmax over the output logits — the training objective's own
    * probabilities, serving as the thresholded service's confidences. */
  override def suggestScored(recent: Seq[Int], k: Int): Seq[(Int, Double)] = {
    if (recent.isEmpty || nB == 0 || weights.isEmpty) return Seq.empty
    // run the net over the known-block suffix of the recent window
    val xs = recent.flatMap(indexOf.get).takeRight(window).toArray
    if (xs.isEmpty) return Seq.empty
    val h = GruMath.forward(weights, nB, hidden, xs, null)
    val lg = GruMath.logits(weights, nB, hidden, h)
    val m = lg.max
    val exps = lg.map(v => math.exp(v - m))
    val norm = exps.sum
    (0 until nB).map(c => (blocks(c), exps(c) / norm))
      .sortBy { case (b, pr) => (-pr, b) }.take(k)
  }

  /** Persist weights + block mapping (the reference's trained_model.pt
    * + trained_mappings.json contract). IEEE doubles round-trip via
    * parquet exactly, so a restored model scores bit-identically. */
  def save(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(blocks.toSeq.zipWithIndex.map { case (b, i) => (i, b) })
      .toDF("idx", "block")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/blocks.parquet")
    spark.createDataset(weights.toSeq.zipWithIndex.map { case (w, i) => (i, w) })
      .toDF("idx", "w")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/weights.parquet")
    ModelIO.writeMeta(spark, dir,
      s"""{"model":"gru","hidden":$hidden,"window":$window}""")
  }

  /** Restore a model written by [[save]] into this instance. */
  def restore(spark: SparkSession, dir: String): GruPrefetcher = {
    val meta = ModelIO.readMeta(spark, dir)
    val storedH = ModelIO.intField(meta, "hidden")
    val storedW = ModelIO.intField(meta, "window")
    require(storedH == hidden && storedW == window,
      s"stored (hidden=$storedH, window=$storedW) != " +
        s"this instance's (hidden=$hidden, window=$window)")
    blocks = spark.read.parquet(s"$dir/blocks.parquet")
      .select("idx", "block").collect()
      .sortBy(_.getInt(0)).map(_.getInt(1))
    indexOf = blocks.zipWithIndex.toMap
    weights = spark.read.parquet(s"$dir/weights.parquet")
      .select("idx", "w").collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    require(weights.length == GruMath.nW(nB, hidden),
      s"weight vector length ${weights.length} != expected ${GruMath.nW(nB, hidden)}")
    this
  }
}

object GruPrefetcher {
  /** Load a model from disk, hyperparameters taken from the sidecar. */
  def load(spark: SparkSession, dir: String): GruPrefetcher = {
    val meta = ModelIO.readMeta(spark, dir)
    new GruPrefetcher(
      hidden = ModelIO.intField(meta, "hidden"),
      window = ModelIO.intField(meta, "window"))
      .restore(spark, dir)
  }
}
