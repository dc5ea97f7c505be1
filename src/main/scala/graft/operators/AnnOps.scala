package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** DataFrame-level similarity-search operators (SURVEY.md §2c
  * ann37/38/52/53) — the library surface behind the ANN queries.
  *
  * Input contract: a corpus DataFrame with `vec_id` (long) and
  * `embedding` (array<float|double>); queries are the `numQueries`
  * lowest vec_ids. All top-k outputs share the shape
  * (query_id, neighbor_id, cosine, rank).
  */
object AnnOps {

  /** (vec_id, embedding, nrm), repartitioned for CPU-heavy per-row
    * stages and persisted — callers running several methods (recall
    * eval) thread ONE base through all of them instead of re-scanning.
    * Not unpersisted (lazy results) — loops should clearCache between
    * runs, as Bench/Verify do. */
  def prep(vecs: DataFrame): DataFrame =
    Par.repart(vecs)
      .select(col("vec_id"), col("embedding"), l2norm(col("embedding")).as("nrm"))
      .persist()

  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    pairs
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineFromDot(dot(col("embedding"), col("q_emb")), col("nrm"), col("q_nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private def queriesOf(base: DataFrame, numQueries: Int): DataFrame =
    base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))

  /** Brute-force cosine top-k — the exact baseline. The query side is
    * tiny and broadcast; the corpus streams through one narrow scan,
    * so the cost is one pass over the data per query batch (the right
    * plan at any scale when queries ≪ corpus). `base` from [[prep]]. */
  def bruteforceTopK(base: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val queries = queriesOf(base, numQueries)
    rankTopK(
      base.crossJoin(broadcast(queries)).filter(col("vec_id") =!= col("query_id")), k)
  }

  /** Multi-table random-hyperplane LSH top-k — candidates share ANY of
    * the `tables` bucket keys; exact cosine only on candidates. Only
    * the NARROW (vec_id, bucket-keys) projection is persisted — base
    * already caches the vectors. The multi-bucket dedup runs on bare
    * (query_id, vec_id) id pairs; embeddings and norms re-attach from
    * base AFTER the distinct, so the shuffle moves two longs per
    * candidate, not two vectors. */
  def lshTopK(base: DataFrame, bits: Int, tables: Int,
      numQueries: Int, k: Int): DataFrame = {
    val keys = base.select(col("vec_id"),
      hyperplaneBucketKeys(col("embedding"), bits, tables).as("bkeys")).persist()
    val corpusKeys = keys.select(col("vec_id"), explode(col("bkeys")).as("bkey"))
    val queryKeys = keys.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), explode(col("bkeys")).as("q_bkey"))
    val candIds = corpusKeys.join(broadcast(queryKeys),
        col("bkey") === col("q_bkey") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct() // a pair sharing several tables counts once
    rankTopK(
      candIds
        .join(base.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
        .join(broadcast(queriesOf(base, numQueries)), "query_id"), k)
  }

  /** Per-row nearest-centroid (cosine, lowest-tie) projection over a
    * driver-side centroid matrix shipped in the plan. */
  private def nearestCentroidCol(cents: Seq[(Int, Seq[Double])]) =
    graft.functions.TextExpressions.nearest_centroid(
      col("embedding"), cents.map(_._1), cents.map(_._2))

  /** Spherical k-means centroids (the Lloyd loop shared by [[ivfTopK]]
    * and [[kmeansAssign]]). Deterministic by construction: init = the
    * first `ivfK` vectors by vec_id; per-dimension means via exact
    * floor-scaled integer sums (order-independent), so centroids are
    * identical run-to-run regardless of shuffle order. Driver holds
    * only k×dim doubles; every step is one distributed aggregation. */
  def kmeansCentroids(base: DataFrame, ivfK: Int, iters: Int,
      scale: Double): Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] = base.filter(col("vec_id") < ivfK)
      .orderBy("vec_id")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      .toSeq
    val dim = cents.head._2.length
    for (_ <- 1 to iters) {
      // deterministic means via exact integer sums: each element is
      // floor-scaled to a long (2^24 keeps float precision), summed
      // order-independently, divided once in double — reproducible in
      // the DuckDB oracle with no decimal rounding-mode edge cases.
      val sums = (0 until dim).map(i =>
        sum(floor(element_at(col("embedding"), i + 1).cast("double") * scale)).as(s"s$i"))
      cents = base
        .groupBy(nearestCentroidCol(cents).as("cluster"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .collect()
        .map { r =>
          val n = r.getAs[Long]("cnt")
          (r.getAs[Int]("cluster"),
            (0 until dim).map(i => r.getLong(i + 2) / (n * scale)).toSeq)
        }
        .toSeq.sortBy(_._1)
    }
    cents
  }

  /** vec → k-means cluster assignment over a [[prep]]-shaped frame:
    * (vec_id, embedding, nrm, cluster). The clustering substrate for
    * IVF serving and semantic dedup. */
  def kmeansAssign(rawBase: DataFrame, ivfK: Int, iters: Int,
      scale: Double): DataFrame = {
    val base =
      if (rawBase.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        rawBase.persist()
      else rawBase
    base.withColumn("cluster",
      nearestCentroidCol(kmeansCentroids(base, ivfK, iters, scale)))
  }

  /** IVF (inverted-file) top-k: spherical k-means centroids, then each
    * query searches only its `nprobe` nearest clusters.
    *
    * Deterministic by construction: init = the first `ivfK` vectors by
    * vec_id; per-dimension means go through exact floor-scaled integer
    * sums (order-independent), so centroids are identical run-to-run
    * regardless of shuffle order. The Lloyd loop is driver-side but
    * each step is one distributed aggregation pass — assignment is the
    * per-row native [[graft.functions.NearestCentroid]] projection
    * over the plan-shipped k×dim centroid matrix, so nothing corpus-
    * sized ever reaches the driver. */
  def ivfTopK(rawBase: DataFrame, ivfK: Int, iters: Int, nprobe: Int,
      scale: Double, numQueries: Int, k: Int): DataFrame = {
    // The Lloyd loop below runs `iters` sequential distributed
    // aggregations over the corpus: if the caller handed us an
    // unpersisted frame, every iteration would re-scan the source.
    // [[prep]] already persists; this guard makes the operator
    // self-sufficient for direct library callers too. The init
    // collect() right after is the materializing action, so iterations
    // 1..iters aggregate in-memory columnar batches.
    val base =
      if (rawBase.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        rawBase.persist()
      else rawBase
    val s = base.sparkSession
    import s.implicits._

    def centroidDf(cents: Seq[(Int, Seq[Double])]) =
      cents.toDF("cluster", "c_emb")
        .select(col("cluster"), col("c_emb"), l2norm(col("c_emb")).as("c_nrm"))

    val cents = kmeansCentroids(base, ivfK, iters, scale)
    val assigned = base.withColumn("cluster", nearestCentroidCol(cents)).persist()
    // probe list: each query's nprobe nearest centroids
    val wq = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cluster"))
    val probes = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .crossJoin(broadcast(centroidDf(cents)))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cluster"),
        cosineFromDot(dot(col("q_emb"), col("c_emb")), col("q_nrm"), col("c_nrm")).as("ccos"))
      .withColumn("prn", row_number().over(wq))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cluster"))
    // exact cosine only within probed clusters
    rankTopK(
      assigned.join(broadcast(probes), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** Product-quantization top-k (Jegou et al. '11): the corpus
    * compresses to m codebook indices per vector (here m·log2(ksub)
    * bits — a 64-dim float vector becomes m bytes), queries score
    * against codes via asymmetric distance (ADC): exact query
    * subvector vs the neighbor's assigned centroid per subspace,
    * summed in fixed subspace order.
    *
    * Deterministic by the same construction as [[ivfTopK]]: vectors
    * L2-normalize first (unit vectors make squared-L2 rank like
    * cosine), each subspace trains k-means with first-ksub init and
    * floor-scaled integer mean sums, assignment is the native
    * [[graft.functions.NearestCentroidL2]] projection (lowest-id
    * ties). At scale: codebooks are m·ksub·dsub driver-side constants
    * shipped in the plan; encoding and ADC are scan-local projections,
    * and the only shuffle is the per-query top-k cut. Output:
    * (query_id, neighbor_id, adist, rank) — adist ascending (an
    * approximate squared L2 on unit vectors, = 2 - 2·cos_approx). */
  /** Unit-normalized view of `embedding` (zero-norm guard mirrors
    * cosine's 0 convention). Native single-loop expression (round 17)
    * — replaces the per-element interpreted `transform(...)` lambda;
    * VecExpressionsSpec pins bit-equality with the higher-order tree. */
  private def unitCol =
    graft.functions.VecExprs.unit_vec(col("embedding"), col("nrm"))

  private def subCol(mi: Int, dsub: Int) = slice(col("u"), mi * dsub + 1, dsub)

  private def nearestSub(mi: Int, dsub: Int, cents: Seq[(Int, Seq[Double])]) =
    graft.functions.TextExpressions.nearest_centroid_l2(
      subCol(mi, dsub), cents.map(_._1), cents.map(_._2))

  /** Per-subspace PQ codebooks over a frame with a unit-vector column
    * `u`: first-ksub init, `iters` Lloyd passes with exact
    * floor-scaled integer mean sums (order-independent). All m
    * subspaces train in ONE aggregation per Lloyd iteration: each row
    * inline-explodes to (mi, cluster, sv) triples and the sums group
    * by (mi, cluster) — same math as training each subspace alone, but
    * `iters` distributed jobs instead of m*iters. At 100 TB the corpus
    * is scanned `iters` times total, not m*iters times. Shared by
    * [[pqTopK]] and [[ivfPqTopK]] (identical codebooks for either). */
  private[graft] def trainPqCodebooks(withU: DataFrame, m: Int, dsub: Int,
      ksub: Int, iters: Int, scale: Double): Map[Int, Seq[(Int, Seq[Double])]] = {
    val init: Map[Int, Seq[(Int, Seq[Double])]] = {
      val rows = withU.filter(col("vec_id") < ksub).orderBy("vec_id")
        .select(col("vec_id"), col("u")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))
      (0 until m).map(mi =>
        mi -> rows.map { case (id, u) =>
          (id, u.slice(mi * dsub, (mi + 1) * dsub))
        }.toSeq).toMap
    }
    var cbs: IndexedSeq[Seq[(Int, Seq[Double])]] = (0 until m).map(init)
    for (_ <- 1 to iters) {
      val stacked = withU.select(inline(array((0 until m).map(mi =>
        struct(lit(mi).as("mi"), nearestSub(mi, dsub, cbs(mi)).as("cluster"),
          subCol(mi, dsub).as("sv"))): _*)))
      val sums = (0 until dsub).map(i =>
        sum(floor(element_at(col("sv"), i + 1) * scale)).as(s"s$i"))
      val byMi = stacked.groupBy(col("mi"), col("cluster"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .collect()
        .groupBy(_.getInt(0))
      cbs = (0 until m).map { mi =>
        byMi(mi).map { r =>
          val n = r.getAs[Long]("cnt")
          (r.getAs[Int]("cluster"),
            (0 until dsub).map(i => r.getLong(i + 3) / (n * scale)).toSeq)
        }.toSeq.sortBy(_._1)
      }
    }
    (0 until m).map(mi => mi -> cbs(mi)).toMap
  }

  def pqTopK(rawBase: DataFrame, m: Int, ksub: Int, iters: Int,
      scale: Double, numQueries: Int, k: Int): DataFrame = {
    val base =
      if (rawBase.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        rawBase.persist()
      else rawBase
    val s = base.sparkSession
    val dim = base.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m

    val withU = base.select(col("vec_id"), col("nrm"), unitCol.as("u"))
      .persist()
    def nearest(mi: Int, cents: Seq[(Int, Seq[Double])]) =
      nearestSub(mi, dsub, cents)

    // per-subspace codebooks: first-ksub init, `iters` Lloyd passes
    // with exact floor-scaled integer mean sums (order-independent)
    val codebooks = trainPqCodebooks(withU, m, dsub, ksub, iters, scale)

    // encode: m codebook indices per vector — scan-local projection
    val coded = withU.select(
      col("vec_id") +: col("u").as("u") +:
        (0 until m).map(mi => nearest(mi, codebooks(mi)).as(s"code_$mi")): _*)
      .persist()

    // ADC: queries ride broadcast with their unit vectors; the m
    // partial distances add in FIXED subspace order (deterministic
    // double sum — the fused scorer slices subspaces internally)
    val queries = coded.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("u").as("q_u"))
    adcRank(coded.crossJoin(broadcast(queries)), codebooks, m, k)
  }

  /** ADC score + per-query top-k over joined (corpus `vec_id`/`code_*`
    * × query `query_id`/`q_u`) pairs: each neighbor's centroid per
    * subspace comes from the plan-shipped codebook constants, the m
    * partial squared-L2 folds add in fixed subspace order, and the cut
    * is the query_id window (adist asc, neighbor_id ties). The ONE
    * scoring definition behind [[pqTopK]] and [[ivfPqTopK]] —
    * mirroring the oracle side's shared pqAdcParts. Round 17: the
    * per-subspace `aggregate(zip_with(...))` trees (interpreted per
    * element, per candidate pair — the measured ann_pq/ann_ivfpq
    * per-task hotspot) fused into one native expression with
    * bit-identical IEEE fold order (VecExpressionsSpec). */
  private def adcRank(pairs: DataFrame,
      codebooks: Map[Int, Seq[(Int, Seq[Double])]], m: Int, k: Int): DataFrame = {
    val adist = graft.functions.VecExprs.pq_adc_dist(
      col("q_u"), (0 until m).map(mi => col(s"code_$mi")),
      (0 until m).map(mi => codebooks(mi).map(_._1)),
      (0 until m).map(mi => codebooks(mi).map(_._2)))
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
    pairs
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adist.as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Two-stage ANN serving: PQ ADC shortlist, then EXACT cosine
    * re-rank of only the shortlist pairs — the standard
    * compressed-index + refine architecture (Jegou et al. '11 §V).
    * Stage 1 runs entirely in the compressed domain (raw vectors never
    * shuffle); stage 2 touches shortlist·queries pairs, so the exact
    * math costs O(S·Q·dim) regardless of corpus size. Recall
    * approaches exact for modest S because re-ranking fixes ADC's
    * within-shortlist ordering errors — only the compressed cut can
    * lose a true neighbor. */
  def pqRefineTopK(rawBase: DataFrame, m: Int, ksub: Int, iters: Int,
      scale: Double, numQueries: Int, shortlist: Int, k: Int): DataFrame = {
    val base =
      if (rawBase.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        rawBase.persist()
      else rawBase
    // the shortlist is S·Q rows by construction — broadcast it
    // EXPLICITLY so the corpus side never shuffles (auto-broadcast at
    // toy SF picks the corpus side, which inverts at 100 TB)
    val short = broadcast(pqTopK(base, m, ksub, iters, scale, numQueries, shortlist)
      .select(col("query_id"), col("neighbor_id")))
    val pairs = short
      .join(base, base("vec_id") === short("neighbor_id"))
      .drop("neighbor_id")
      .join(broadcast(queriesOf(base, numQueries)), "query_id")
    rankTopK(pairs, k)
  }

  /** IVF+PQ top-k — the composed production ANN architecture (Jegou
    * '11 IVFADC; the FAISS big-corpus default): a coarse k-means
    * quantizer cuts the search to `nprobe` of `ivfK` cluster lists,
    * and inside the probed lists candidates score by PQ asymmetric
    * distance in the compressed domain. Memory = m codes + one cluster
    * id per vector; per-query work = (nprobe/ivfK) of the corpus, in
    * codes; raw vectors appear nowhere after indexing. The coarse
    * quantizer is [[kmeansCentroids]] (identical to [[ivfTopK]]'s) and
    * the codebooks are [[trainPqCodebooks]] (identical to
    * [[pqTopK]]'s), so the composed index is oracle-replayable from
    * the two already-verified unrolled loops. Output: (query_id,
    * neighbor_id, adist, rank) — adist ascending over probed
    * candidates only. */
  def ivfPqTopK(rawBase: DataFrame, ivfK: Int, ivfIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int, scale: Double,
      numQueries: Int, k: Int): DataFrame = {
    val base =
      if (rawBase.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        rawBase.persist()
      else rawBase
    val s = base.sparkSession
    import s.implicits._
    val dim = base.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val dsub = dim / m

    // coarse quantizer: the ivfTopK loop, verbatim
    val cents = kmeansCentroids(base, ivfK, ivfIters, scale)
    val centroidDf = cents.toDF("cluster", "c_emb")
      .select(col("cluster"), col("c_emb"), l2norm(col("c_emb")).as("c_nrm"))
    val withU = base
      .withColumn("cluster", nearestCentroidCol(cents))
      .select(col("vec_id"), col("cluster"), unitCol.as("u"))
      .persist()

    // fine quantizer: the pqTopK codebooks, verbatim (no residuals —
    // codes are comparable across clusters, so one codebook set serves
    // the whole corpus and the ADC math matches ann_pq's oracle)
    val codebooks = trainPqCodebooks(withU, m, dsub, ksub, pqIters, scale)
    // persisted: the corpus-side index is codes + cluster id ONLY — the
    // raw unit vector stays out of the persisted index (the operator's
    // memory model: m codes + one cluster id per vector); the
    // query-subvector side derives from the already-persisted withU
    val coded = withU.select(
      col("vec_id") +: col("cluster") +:
        (0 until m).map(mi => nearestSub(mi, dsub, codebooks(mi)).as(s"code_$mi")): _*)
      .persist()

    // probe list: each query's nprobe nearest centroids (ivfTopK's cut)
    val wq = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cluster"))
    val probes = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
      .crossJoin(broadcast(centroidDf))
      .select(col("query_id"), col("cluster"),
        cosineFromDot(dot(col("q_emb"), col("c_emb")), col("q_nrm"), col("c_nrm")).as("ccos"))
      .withColumn("prn", row_number().over(wq))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("cluster"))
    val queries = withU.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("u").as("q_u"))
    // nprobe×Q rows: ride a broadcast so the coded corpus never shuffles
    val probeQ = broadcast(probes.join(queries, "query_id"))
    adcRank(coded.join(probeQ, Seq("cluster")), codebooks, m, k)
  }

  /** Scalar-quantization (SQ8) top-k: every unit-vector dimension
    * compresses to one byte on a per-dimension uniform [min,max] grid —
    * the classic 4× vector-memory cut (vs PQ's 96×) that keeps recall
    * near-exact because each dimension keeps its own resolution.
    *
    * The grid trains in ONE order-independent MIN/MAX aggregation pass
    * (map-side combined; only 2·dim doubles reach the driver — at
    * 100 TB the corpus is scanned once and nothing data-sized moves).
    * Encoding is a scan-local projection against the plan-shipped grid
    * literals; scoring is asymmetric (exact query values vs midpoint
    * dequantization of the neighbor's codes), squared-L2 summed in
    * fixed array order, so Spark and the DuckDB oracle agree
    * bit-for-bit. Only the per-query top-k cut shuffles. Output:
    * (query_id, neighbor_id, adist, rank) — adist ascending, the same
    * approximate-squared-L2-on-unit-vectors scale as [[pqTopK]]. */
  def sqTopK(rawBase: DataFrame, levels: Int, numQueries: Int, k: Int): DataFrame = {
    // no persist guard on the raw frame: unlike the Lloyd-loop
    // operators, SQ reads the source exactly once (everything after —
    // dim, grid stats, encoding, scoring — reads the persisted withU)
    val withU = rawBase.select(col("vec_id"), unitCol.as("u")).persist()
    val dim = withU.select(size(col("u"))).head.getInt(0)

    // per-dimension [min,max]: MIN/MAX are order-independent, so the
    // learned grid itself is cross-engine exact (unlike means, no
    // integer-scaling trick is needed)
    val statRows = withU.select(posexplode(col("u")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val minsSeq = (0 until dim).map(i => statRows(i)._1)
    val maxsSeq = (0 until dim).map(i => statRows(i)._2)

    // encode: code_d = clamp(floor((u_d - min_d) / (max_d - min_d) * L))
    // — scan-local; a constant dimension (max == min) codes to 0.
    // Round 17: fused native expression (was a per-element interpreted
    // transform(...) with two element_at grid lookups per slot);
    // VecExpressionsSpec pins bit-equality with the higher-order tree.
    val coded = withU.select(col("vec_id"), col("u"),
      graft.functions.VecExprs.sq_encode(col("u"), minsSeq, maxsSeq, levels)
        .as("codes"))

    // ADC scoring: midpoint dequantization of the neighbor codes vs the
    // exact query vector, squared-L2 left-folded in array order. Fused
    // native expression (round 17): the old dequantize-transform +
    // zip_with + aggregate tree evaluated interpreted lambdas per
    // ELEMENT per candidate PAIR — the measured ann_sq per-task
    // hotspot (anti-scaling 8>32 cores at sf0.1).
    val queries = coded.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("u").as("q_u"))
    val adist = graft.functions.VecExprs.sq_adc_dist(
      col("q_u"), col("codes"), minsSeq, maxsSeq, levels)
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
    coded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adist.as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The largest approx side [[recallAtK]] broadcasts: 4 Mi rows. */
  private val RecallBroadcastMaxRows: Long = 4L << 20

  /** recall@K of an approximate method against the exact baseline:
    * per-query rows plus a macro-average row (query_id = -1).
    *
    * `approxRowsHint`: the CALLER-KNOWN upper bound on the approx
    * side's rows (numQueries·k for any per-query top-k cut — the
    * caller has both numbers statically; this method does not). The
    * explicit broadcast below bypasses Spark's 10 MB estimate check,
    * so it is cost-gated on the hint (same pattern as the
    * driverEdgeMax collect gate): within [[RecallBroadcastMaxRows]] →
    * broadcast; above it or unknown (< 0) → plain join, which degrades
    * to a shuffle join instead of an unbounded driver collect
    * (ADVICE r16). */
  def recallAtK(method: String, exact: DataFrame, approx: DataFrame, k: Int,
      approxRowsHint: Long = -1L): DataFrame = {
    // The approx side is ≤ numQueries·k rows BY CONSTRUCTION (it is a
    // per-query top-k cut), but its Catalyst size estimate is the
    // corpus-sized pipeline behind it, so the planner picks a
    // SortMergeJoin — two exchanges + two sorts; and because callers
    // persist these frames, the SMJ is frozen into the cached plan
    // where AQE cannot convert it at runtime (guide §3.1: broadcast
    // the side you KNOW is small). One explicit broadcast removes both
    // exchanges; the exact side then streams with no shuffle at all.
    val approxSlim =
      approx.select(col("query_id").as("a_query"), col("neighbor_id").as("a_neighbor"))
    val buildSide =
      if (approxRowsHint >= 0 && approxRowsHint <= RecallBroadcastMaxRows)
        broadcast(approxSlim)
      else approxSlim
    val hits = exact.join(
        buildSide,
        col("query_id") === col("a_query") && col("neighbor_id") === col("a_neighbor"),
        "left")
      .groupBy("query_id")
      .agg((count(col("a_neighbor")).cast("double") / k).as("recall_at_k"))
      .persist()
    // exact DECIMAL(18,4) sum -> deterministic macro average across
    // shuffle orders (the operators package must not reach back into
    // the query harness, so the cast is spelled here directly)
    hits.select(lit(method).as("method"), col("query_id"), col("recall_at_k"))
      .unionAll(hits.agg(lit(method).as("method"), lit(-1L).as("query_id"),
        (sum(col("recall_at_k").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double") / count(lit(1))).as("recall_at_k")))
  }
}
