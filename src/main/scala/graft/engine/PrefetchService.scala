package graft.engine

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import org.apache.spark.rdd.RDD

/** Background prefetching: periodically asks the predictor for the
  * blocks likely to be touched next and warms the cache with them.
  *
  * Same loop as the reference's `PrefetchService`
  * (prefetch_service.py:1-95): wake → read recent history → model
  * top-K → load missing blocks into the cache. Loading here means
  * persisting + materializing the block's RDD in Spark's block
  * manager, so "warm" = resident in executor storage cluster-wide.
  */
final class PrefetchService[T](
    log: AccessLog,
    prefetcher: () => Prefetcher,
    cache: BlockCacheManager[T],
    loadBlock: Int => RDD[T],
    keyFor: Int => String = b => s"block-$b",
    topK: Int = 3,
    historyLen: Int = 8,
    intervalMillis: Long = 1000L,
    tickBudgetMillis: Long = 0L,
    threshold: Double = 0.0,
    retrainEveryTicks: Int = 0,
    retrain: () => Unit = () => ()) {

  @volatile private var prefetchedCount = 0L
  @volatile private var retrainCountV = 0L
  @volatile private var tickCountV = 0L
  @volatile private var tickMillisTotalV = 0L
  @volatile private var overBudgetCountV = 0L
  private var exec: ScheduledExecutorService = _

  /** One prediction+warm cycle (also callable synchronously in tests).
    *
    * TICK BUDGET (round 11, the PREFETCH_AB overlapped lesson): under
    * concurrent serving a tick races the query stream — a model whose
    * predict+warm cycle outruns the deployment's think-time degrades
    * end-to-end even when its SYNC hit-rate is best (round 11 measured
    * the GRU at 0.84 sync but 0.53 overlapped hit-rate at 100 ms think;
    * since a warm is one job, the GRU posts the best overlapped wall
    * too, PREFETCH_AB.json). `tickBudgetMillis > 0` declares that
    * think-time; the service tracks how often ticks exceed it
    * ([[overBudgetFraction]]) so the operator-facing rule is measurable
    * in production, not just in the A/B: a sustained over-budget
    * fraction says "swap to the cheaper model class", the Markov table
    * (`\model` in the shell, [[GraftEngine.prefetcher]]).
    * The budget never truncates a warm mid-flight — a half-warmed
    * cache entry would be a wasted load; it only meters. */
  def tick(): Seq[Int] = {
    val t0 = System.nanoTime()
    maybeRetrain()
    val recent = log.recent(historyLen)
    val model = prefetcher() // re-read each cycle: \model swaps live
    if (recent.isEmpty || !model.fitted) {
      // an idle tick advances the RETRAIN cadence (the unfitted model
      // is exactly what the retrain hook replaces) but must not dilute
      // the serving-tick metrics — meanTickMillis/overBudgetFraction
      // feed the operator's model-swap rule and an 80%-idle service
      // would under-report a consistently over-budget serving tick 5×
      cadenceTickV += 1
      return Seq.empty
    }
    // CONFIDENCE GATE (reference parity: prefetch_scheduler.py:19
    // `prefetch_threshold=0.6`): a weak model's low-probability
    // guesses are cache pollution — every wrong warm evicts something
    // a real query wanted. Candidates below the threshold are dropped
    // BEFORE any load; threshold 0.0 (default) admits everything,
    // preserving the unthresholded behavior for unscored models
    // (their default confidence is 1.0).
    val predicted = model.suggestScored(recent, topK)
      .filter(_._2 >= threshold).map(_._1)
    // peek, not get: the existence probe is not a serving access and
    // must not count toward the cache's hit/miss serving metrics
    val warmed = predicted.filter(b => !cache.peek(keyFor(b)))
    warmed.foreach { b =>
      // persist + materialize: one no-op pass (a job that plans no query)
      // builds the block's cached partitions, so the next query hits
      cache.put(keyFor(b), loadBlock(b)).foreachPartition(_ => ())
      prefetchedCount += 1
    }
    val ms = (System.nanoTime() - t0) / 1000000L
    tickCountV += 1
    cadenceTickV += 1
    tickMillisTotalV += ms
    if (tickBudgetMillis > 0 && ms > tickBudgetMillis) overBudgetCountV += 1
    warmed
  }

  /** Ticks run / mean tick ms / fraction of ticks over the declared
    * budget (0 when no budget set) — the serving-time signal behind
    * the model-choice rule (SURVEY §6 overlapped-prefetch caveat). */
  def tickCount: Long = tickCountV
  def meanTickMillis: Double =
    if (tickCountV == 0) 0.0 else tickMillisTotalV.toDouble / tickCountV
  def overBudgetFraction: Double =
    if (tickCountV == 0) 0.0 else overBudgetCountV.toDouble / tickCountV

  def start(): Unit = synchronized {
    if (exec == null) {
      exec = Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-prefetch"); t.setDaemon(true); t
      }
      exec.scheduleWithFixedDelay(() => {
        try tick()
        catch { case _: Throwable => () } // background warm-ups must never kill the service
      }, intervalMillis, intervalMillis, TimeUnit.MILLISECONDS)
    }
  }

  def stop(): Unit = synchronized {
    if (exec != null) { exec.shutdownNow(); exec = null }
  }

  def prefetched: Long = prefetchedCount

  /** Scheduled retraining (reference parity: retrain_model.py as a
    * periodic job): every `retrainEveryTicks` ticks the service
    * invokes the caller's retrain hook — typically
    * [[GraftEngine.retrain]], which refits the CURRENT model class
    * from the full access log and hot-swaps it (the same path the
    * shell's `\retrain` drives by hand). 0 disables. Failures are
    * swallowed like any background tick failure: a broken retrain
    * must not kill serving on the stale-but-working model. */
  private def maybeRetrain(): Unit =
    if (retrainEveryTicks > 0 && cadenceTickV > 0 &&
        cadenceTickV % retrainEveryTicks == 0 &&
        lastRetrainTick != cadenceTickV) {
      lastRetrainTick = cadenceTickV
      try { retrain(); retrainCountV += 1 }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  @volatile private var lastRetrainTick = -1L
  // every tick, idle included — the retrain schedule's clock, kept
  // apart from the serving metrics' tickCountV
  @volatile private var cadenceTickV = 0L

  def retrains: Long = retrainCountV
}
