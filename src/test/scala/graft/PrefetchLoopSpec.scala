package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{GraftEngine, GraftSession, PrefetchLoopBench}
import graft.queries.MicroBlockQueries

/** The composed prefetch loop — the reference's thesis (prediction →
  * warmer cache → faster queries) as one measured A/B instead of an
  * argument by parts. On the predictable periodic replay, the learned
  * arms must RAISE the cache hit-rate above the no-prefetch arm and
  * serve in less wall-time; on the seeded-random replay the harness
  * must report honestly (no assertion that prefetch wins — it can't).
  */
class PrefetchLoopSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(cores = 8, appName = "graft-prefetch-ab-test")
  // sf0.01 (60k rows / 16 blocks): enough data that the timing signal
  // clears per-job noise (the PruningBenchSpec calibration)
  private val dir = "/root/testdata/sf0.01"

  private def freshEngine(): GraftEngine =
    new GraftEngine(spark, MicroBlockQueries.microPath(spark, dir),
      "lineitem", cacheCapacity = 6)

  test("prefetch ON raises hit-rate and lowers serve time on the periodic replay") {
    def measure() = PrefetchLoopBench
      .run(spark, freshEngine(), MicroBlockQueries.workload.distinct,
        trainPasses = 2, evalPasses = 3, reps = 3)
      .map(r => (r.workload, r.arm) -> r).toMap
    val ab = measure()
    val off = ab(("periodic", "off"))

    // every arm of a workload serves the identical row multiset
    for (w <- Seq("periodic", "random")) {
      val counts = ab.collect { case ((`w`, _), r) => r.rows }.toSeq.distinct
      assert(counts.size == 1, s"$w arms disagree on rows: $counts")
      assert(counts.head > 0)
    }

    // the capacity-limited cache keeps the OFF arm missing at steady
    // state — the regime where the prefetch loop matters
    assert(off.misses > 0, "off arm never missed: cache not capacity-limited")

    for (arm <- Seq("gru")) {
      val on = ab(("periodic", arm))
      assert(on.prefetched > 0, s"$arm never warmed anything")
      assert(on.hitRate > off.hitRate,
        s"$arm hit-rate ${on.hitRate} must beat off ${off.hitRate}")
    }

    // wall-time: medians of 3; external load can invert one window
    // (the PruningBenchSpec rule), so an arm passes if it beats off in
    // EITHER window — only arms that failed the first window re-judge
    // against the retry (an arm that already won must not re-roll)
    val slower = Seq("gru").filter(a =>
      ab(("periodic", a)).serveSec >= off.serveSec)
    if (slower.nonEmpty) {
      val retry = measure()
      val off2 = retry(("periodic", "off"))
      for (arm <- slower) {
        val on2 = retry(("periodic", arm))
        assert(on2.serveSec < off2.serveSec,
          s"$arm serve median not below off in either window: " +
            s"first ${ab(("periodic", arm)).serveSec} vs ${off.serveSec}, " +
            s"retry ${on2.serveSec} vs ${off2.serveSec}")
      }
    }

    // honesty control: shuffling the query order must HURT prediction.
    // (It does not zero it — blocks WITHIN a query are still logged
    // adjacently, so intra-query transitions stay predictable even
    // when the inter-query order is random; measured at sf0.01 the
    // gru's uplift drops 0.65 → 0.28.) If the random-order uplift ever
    // matched the periodic one, the "random" workload would not
    // actually be breaking the signal the loop claims to exploit.
    val offR = ab(("random", "off"))
    for (arm <- Seq("markov", "gru")) {
      val upPeriodic = ab(("periodic", arm)).hitRate - off.hitRate
      val upRandom = ab(("random", arm)).hitRate - offR.hitRate
      assert(upRandom < upPeriodic,
        s"$arm random-order uplift $upRandom not below periodic $upPeriodic")
    }
  }
}
