package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scaling proof for the LLM-data-pipeline operators: the
  * plan audits pin the SHAPES (no cartesians, bounded buckets, single
  * shuffles); this harness pins the SLOPE — wall-time must grow
  * ~linearly in corpus size, or some hidden quadratic (pair blow-up,
  * driver collect, unsplittable stage) is lying in wait at 100 TB.
  *
  * The scaled corpus is `factor` copies of sf0.1's documents with
  * doc_ids re-based and every token suffixed `_c<i>` per copy — copy
  * vocabularies are DISJOINT, so no shingle/chunk/gram/band key ever
  * matches across copies and the true duplicate structure (planted
  * near-dups included) replicates exactly ×factor. That makes linear
  * wall-time the CORRECT asymptote to test for: the work genuinely is
  * factor × the base work, with no cross-copy interaction. Embeddings
  * are copied with vec_ids re-based and dimension 0 perturbed per
  * copy (keeps ANN candidate structure copy-local rather than
  * creating 100-way exact ties).
  *
  * Usage: runMain graft.LlmScale [factor] [reps] [srcDir]
  * Writes one JSON line + target/llm_scale_x<factor>.json.
  */
object LlmScale {

  val DefaultOps: Seq[String] = Seq(
    "dd_exact", "dd_para", "dd_minhash_lsh", "dd_span", "dd_semantic",
    "dd_semantic_scaledk", "dd_bloom", "dd_bloom_scaledm",
    "ta_lm", "ta_winnow", "pipe_pack", "pipe_shuffle", "ann_ivf", "ann_pq",
    "ta_gopher", "ann_sq",
    // round-8 operators (round-9 ask: their scale claims were
    // plan-audited but unmeasured): the incremental store shape, the
    // leakage-safe split, the composed production pipeline, IVFADC
    "dd_incremental", "pipe_split", "pipe_full", "ann_ivfpq")

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val vSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val scaledDocs = (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(dSpan * i)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_c$i").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    val scaledEmb = (0 until factor).map { i =>
      emb.select(
        (col("vec_id") + lit(vSpan * i)).as("vec_id"),
        transform(col("embedding"),
          (x, j) => when(j === 0, x + lit(i * 0.001f)).otherwise(x)).as("embedding"))
    }.reduce(_ unionAll _)
    // file counts sized so scan parallelism >= cores at every factor
    scaledDocs.repartition(math.max(8, 4 * factor))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    scaledEmb.repartition(math.max(4, 2 * factor))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 10
    val reps = if (args.length > 1) args(1).toInt else 3
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = BenchWindow.session()

    val dir =
      if (factor == 1) src
      else {
        val out = s"target/docs_scale_x$factor"
        if (!new java.io.File(s"$out/documents.parquet/_SUCCESS").exists()) {
          println(s"[llm-scale] generating x$factor corpus into $out")
          generate(spark, src, out, factor)
        }
        out
      }
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()

    // optional 4th arg: comma-list restricting which ops to measure
    // (for re-measuring one op without repeating the sweep)
    val ops =
      if (args.length > 3) DefaultOps.filter(args(3).split(',').toSet)
      else DefaultOps
    // "dd_semantic_scaledk" is the SIZING lesson the fixed-parameter
    // dd_semantic query teaches at x100: with ivfK fixed, cluster
    // SIZE grows with the corpus and within-cluster pair generation
    // is quadratic. Production SemDeDup keeps cluster size constant
    // (ivfK ∝ n); this variant measures exactly that and should
    // restore the ~linear slope.
    // noop sink, NOT count(): under count() window/projection-shaped
    // ops (pipe_shuffle, pipe_pack, ta_* stats) time as bare row counts
    import BenchWindow.sink
    def runScaledK(): Unit =
      sink(graft.operators.DedupOps.semanticPairs(
          spark.read.parquet(s"$dir/embeddings.parquet"),
          ivfK = 32 * factor, iters = 2)
        .orderBy(org.apache.spark.sql.functions.col("cosine").desc,
          org.apache.spark.sql.functions.col("vec_a"),
          org.apache.spark.sql.functions.col("vec_b"))
        .limit(50))
    // "dd_bloom_scaledm" is the bitmap twin of the SemDeDup sizing
    // lesson: the registered dd_bloom keeps mBits fixed at 2^17, so a
    // ×factor eval set saturates the bitmap (per-shingle FP rate → 1)
    // and the exact-verify stage degrades toward full
    // dd_decontaminate traffic. Production sizing holds n/m constant:
    // mBits rounds up to the next power of two ≥ 2^17 × factor (the
    // position mod stays a bit-mask; 2^k | 2^64 keeps the oracle
    // replay exact at every size).
    def runScaledM(): Unit = {
      val target = (1L << 17) * factor
      var m = 1L << 17
      while (m < target) m <<= 1
      require(m <= (1L << 30), s"scaled mBits $m exceeds the Int bitmap bound")
      sink(graft.operators.DedupOps.bloomDecontaminate(
          spark.read.parquet(s"$dir/documents.parquet"),
          isEval = pmod(col("doc_id"), lit(53)) === 0, k = 4, mBits = m.toInt))
    }
    val probeStart = BenchWindow.probe(spark)
    val results = ops.map { name =>
      val body: () => Unit =
        if (name == "dd_semantic_scaledk") () => runScaledK()
        else if (name == "dd_bloom_scaledm") () => runScaledM()
        else { val q = SparkEntry.queries(name); () => sink(q(spark, dir)) }
      val r = BenchWindow.timed(spark, reps)(body())
      println(f"[llm-scale] $name x$factor: ${r.median}%.2fs (reps ${r.sorted.map(t => f"$t%.2f").mkString(",")})")
      name -> r.median
    }
    val probeEnd = BenchWindow.probe(spark)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    BenchWindow.emit(
      s"""{"factor":$factor,"n_docs":$nDocs,"reps":$reps,"stat":"median","probe_start_sec":$probeStart,"probe_end_sec":$probeEnd,"queries":$qs}""",
      s"target/llm_scale_x$factor.json")
    spark.stop()
  }
}
