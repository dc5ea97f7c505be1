package graft.engine

import org.apache.spark.sql.SparkSession
import graft.plans.Pred

/** The reference's THESIS, composed into one measured A/B: prediction →
  * warmer cache → faster queries. The reference argues it with
  * `run_with_prefetch_loop.py` + `benchmark.py` (a query loop with the
  * background `PrefetchService` warming the LRU between queries);
  * graft until round 9 argued it by parts — predictors at MRR 1.0
  * (PrefetchEval), an LRU with hit counters (BlockCacheManager), a
  * warm-vs-cold serve A/B (PruningBench) — but nothing closed the
  * chain. This harness does: the same replayed workload served with
  * the prefetch loop ON (one arm per model class) vs OFF, cold cache
  * both, reporting serving wall-time AND cache hit-rate per arm.
  *
  * Honesty rules baked in:
  *   - the cache is CAPACITY-LIMITED below the workload's working set,
  *     so the OFF arm keeps missing at steady state — the regime where
  *     prefetching matters forever, not just on the first pass (with a
  *     cache bigger than the data, every arm converges to all-hits and
  *     the A/B measures nothing);
  *   - warming cost is NOT hidden: `warm_sec` reports the synchronous
  *     tick time separately from `serve_sec` (in production the service
  *     warms concurrently during think-time; a single-box A/B has no
  *     think-time to hide it in, so it is reported, not discarded);
  *   - ticks run BEFORE each query, predicting from history that ends
  *     at the PREVIOUS query's blocks — the causal order the background
  *     service has, never this query's own access;
  *   - an UNPREDICTABLE workload (seeded shuffle of the same queries)
  *     runs through every arm too, so the artifact shows what the loop
  *     buys when prediction cannot work, not just when it can;
  *   - per-arm row counts are reported and must agree — a warm path
  *     that serves different rows is a bug, not a speedup.
  */
object PrefetchLoopBench {

  final case class ArmResult(
      workload: String, arm: String,
      serveSec: Double, warmSec: Double,
      hits: Long, misses: Long, hitRate: Double,
      prefetched: Long, rows: Long)

  /** One overlapped-loop arm: `wallSec` is end-to-end wall time of the
    * replay INCLUDING think-time gaps, with warming running
    * concurrently on the service's background thread — the
    * production loop shape (the reference's run_with_prefetch_loop.py
    * sleeps between queries while its service warms). */
  final case class OverlappedResult(
      workload: String, arm: String, thinkMs: Long,
      wallSec: Double, serveSec: Double,
      hits: Long, misses: Long, hitRate: Double,
      prefetched: Long, rows: Long)

  /** Index of the median element by `key` — used to report ALL of a
    * rep's statistics from ONE (the median) rep, so counters and
    * timings in the artifact come from the same run instead of mixing
    * a median timing with the last rep's counters. */
  private def medianIdx[A](xs: Seq[A])(key: A => Double): Int =
    xs.zipWithIndex.sortBy(t => key(t._1)).apply(xs.size / 2)._2

  /** Fit the three model classes on `trainBlocks` (the flattened block
    * sequence of the training replay). Hyperparameters are the
    * mb_prefetch_eval-probed ones. */
  def fitModels(spark: SparkSession, trainBlocks: Seq[Int])
      : Seq[(String, Prefetcher)] = Seq(
    "markov" -> new MarkovPrefetcher(1).fitSeq(spark, trainBlocks),
    "logistic" -> new LogisticPrefetcher(order = 2, epochs = 25)
      .fit(spark, trainBlocks),
    "gru" -> new GruPrefetcher(hidden = 24, window = 8, epochs = 120, lr = 0.8)
      .fit(spark, trainBlocks))

  /** Training replay + model fit: run `trainPasses` passes of the
    * cycle to populate the access log (the reference's "run the
    * workload, then retrain" loop), then fit the three model classes
    * on the blocks logged by those passes. Also pre-computes the
    * pruning decisions every replay arm will reuse. */
  def train(spark: SparkSession, engine: GraftEngine, cycle: Seq[Pred],
      trainPasses: Int = 2): Seq[(String, Prefetcher)] = {
    // one decision job for every shape the replay will serve
    engine.candidatesMany(cycle.distinct)
    val trainStart = engine.accessLog.all.size
    (1 to trainPasses).foreach(_ =>
      cycle.foreach(p => engine.query(p).count()))
    fitModels(spark, engine.accessLog.all.drop(trainStart).flatMap(_.blocks))
  }

  /** Run the A/B. `engine` should be built with a cache capacity below
    * the workload's working-set file count (see class doc). `cycle` is
    * the distinct query cycle; the periodic eval replay is
    * `evalPasses` repetitions of it in order, the unpredictable one a
    * seeded shuffle of the same multiset. */
  def run(spark: SparkSession, engine: GraftEngine, cycle: Seq[Pred],
      trainPasses: Int = 2, evalPasses: Int = 3, reps: Int = 3,
      topK: Int = 4, historyLen: Int = 4): Seq[ArmResult] = {

    val models = train(spark, engine, cycle, trainPasses)

    val periodic = Seq.fill(evalPasses)(cycle).flatten
    val rnd = new scala.util.Random(42)
    val randomized = rnd.shuffle(periodic)

    def arm(workloadName: String, preds: Seq[Pred], armName: String,
        model: Option[Prefetcher], threshold: Double = 0.0): ArmResult = {
      val service = model.map(m => new PrefetchService(
        engine.accessLog, () => m, engine.cache, engine.loadBlock _,
        engine.keyOf _, topK, historyLen, threshold = threshold))
      final case class Rep(serve: Double, warm: Double,
          hits: Long, misses: Long, prefetched: Long, rows: Long)
      val repRows = (1 to reps).map { _ =>
        engine.cache.clear()
        System.gc() // measure the rep, not the previous rep's GC debt
        val h0 = engine.cache.hits; val m0 = engine.cache.misses
        val p0 = service.map(_.prefetched).getOrElse(0L)
        var serve = 0.0; var warm = 0.0; var n = 0L
        preds.foreach { p =>
          service.foreach { s =>
            val t0 = System.nanoTime()
            s.tick()
            warm += (System.nanoTime() - t0) / 1e9
          }
          val t0 = System.nanoTime()
          n += engine.query(p).count()
          serve += (System.nanoTime() - t0) / 1e9
        }
        Rep(serve, warm, engine.cache.hits - h0, engine.cache.misses - m0,
          service.map(_.prefetched - p0).getOrElse(0L), n)
      }
      // every reported field comes from the SAME rep — the one with
      // the median serve time — so counters and timings are one
      // coherent run, never a median timing next to another rep's
      // hit counts
      val r = repRows(medianIdx(repRows)(_.serve))
      ArmResult(workloadName, armName, r.serve, r.warm,
        r.hits, r.misses,
        if (r.hits + r.misses == 0) 0.0
        else r.hits.toDouble / (r.hits + r.misses),
        r.prefetched, r.rows)
    }

    // the THRESHOLDED arm (reference parity: prefetch_scheduler.py's
    // prefetch_threshold=0.6): the same best model gated on its own
    // confidence. On the periodic workload it should serve ~unchanged
    // (a learned cycle is high-confidence); on the random workload it
    // should stop paying warm_sec for guesses that cannot be right —
    // the cache-pollution regime the gate exists for.
    val arms: Seq[(String, Option[Prefetcher], Double)] =
      (("off", Option.empty[Prefetcher], 0.0) +:
        models.map { case (n, m) => (n, Option(m), 0.0) }) :+
        (("markov_t60", models.collectFirst {
          case ("markov", m) => m }, 0.6))
    for {
      (wname, preds) <- Seq("periodic" -> periodic, "random" -> randomized)
      (aname, model, thr) <- arms
    } yield arm(wname, preds, aname, model, thr)
  }

  /** The OVERLAPPED arm — the experiment the synchronous A/B could not
    * run: the service warms on its own background thread (tick every
    * `tickMs`) while the loop sleeps `thinkMs` between queries, the
    * reference's actual loop shape (run_with_prefetch_loop.py sleeps
    * between queries while PrefetchService warms concurrently). The
    * reported `wallSec` is END-TO-END (serving + gaps, warming
    * concurrent): if warming truly hides in think-time, wall(on) <
    * wall(off) at EQUAL think-time; if it doesn't, the artifact says
    * so. Only the periodic workload runs here — the regime where
    * prediction can work at all (the synchronous A/B carries the
    * random-order control).
    *
    * Causality note: the background thread reads the access log, which
    * a query writes at submission — the service may see the current
    * query's entry mid-serve, exactly the information a production
    * background warmer has. */
  def runOverlapped(spark: SparkSession, engine: GraftEngine,
      cycle: Seq[Pred], trainPasses: Int = 2, evalPasses: Int = 3,
      reps: Int = 3, topK: Int = 4, historyLen: Int = 4,
      thinkMs: Long = 200L, tickMs: Long = 50L): Seq[OverlappedResult] = {
    val models = train(spark, engine, cycle, trainPasses)
    val periodic = Seq.fill(evalPasses)(cycle).flatten
    val arms: Seq[(String, Option[Prefetcher])] =
      ("off", Option.empty[Prefetcher]) +:
        models.map { case (n, m) => (n, Option(m)) }
    arms.map { case (aname, model) =>
      val service = model.map(m => new PrefetchService(
        engine.accessLog, () => m, engine.cache, engine.loadBlock _,
        engine.keyOf _, topK, historyLen, intervalMillis = tickMs))
      final case class Rep(wall: Double, serve: Double,
          hits: Long, misses: Long, prefetched: Long, rows: Long)
      val repRows = (1 to reps).map { _ =>
        engine.cache.clear()
        System.gc()
        val h0 = engine.cache.hits; val m0 = engine.cache.misses
        val p0 = service.map(_.prefetched).getOrElse(0L)
        var serve = 0.0; var n = 0L
        service.foreach(_.start())
        val w0 = System.nanoTime()
        periodic.foreach { p =>
          val t0 = System.nanoTime()
          n += engine.query(p).count()
          serve += (System.nanoTime() - t0) / 1e9
          Thread.sleep(thinkMs) // think-time: where warming hides
        }
        val wall = (System.nanoTime() - w0) / 1e9
        service.foreach(_.stop())
        Rep(wall, serve, engine.cache.hits - h0, engine.cache.misses - m0,
          service.map(_.prefetched - p0).getOrElse(0L), n)
      }
      val r = repRows(medianIdx(repRows)(_.wall)) // one coherent rep
      OverlappedResult("periodic", aname, thinkMs, r.wall, r.serve,
        r.hits, r.misses,
        if (r.hits + r.misses == 0) 0.0
        else r.hits.toDouble / (r.hits + r.misses),
        r.prefetched, r.rows)
    }
  }

  /** One JSON array for the artifact line. */
  def toJson(rows: Seq[ArmResult]): String =
    rows.map { r =>
      s"""{"workload":"${r.workload}","arm":"${r.arm}"""" +
        s""","serve_sec":${r.serveSec},"warm_sec":${r.warmSec}""" +
        s""","hits":${r.hits},"misses":${r.misses},"hit_rate":${r.hitRate}""" +
        s""","prefetched":${r.prefetched},"rows":${r.rows}}"""
    }.mkString("[", ",", "]")

  /** JSON array for the overlapped arms. */
  def toJsonOverlapped(rows: Seq[OverlappedResult]): String =
    rows.map { r =>
      s"""{"workload":"${r.workload}","arm":"${r.arm}","think_ms":${r.thinkMs}""" +
        s""","wall_sec":${r.wallSec},"serve_sec":${r.serveSec}""" +
        s""","hits":${r.hits},"misses":${r.misses},"hit_rate":${r.hitRate}""" +
        s""","prefetched":${r.prefetched},"rows":${r.rows}}"""
    }.mkString("[", ",", "]")
}
