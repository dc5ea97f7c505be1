package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** The model-agnostic serving stack: any Prefetcher class loads at
  * startup by sidecar dispatch, serves through PrefetchService, and
  * retrains in place — the reference's run_with_prefetch_loop contract
  * for whatever model was trained.
  */
class PrefetchServeSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 4, appName = "graft-serve-test")

  private val pattern: Seq[Int] = Seq.fill(10)(Seq(0, 1, 2, 3)).flatten

  test("PrefetchModels.load dispatches on the sidecar's model kind") {
    val base = "target/scratch/models/dispatch"
    new MarkovPrefetcher(1).fitSeq(spark, pattern).save(spark, s"$base/m")
    new GruPrefetcher(hidden = 8, window = 4, epochs = 15).fit(spark, pattern).save(spark, s"$base/g")
    assert(PrefetchModels.load(spark, s"$base/m").isInstanceOf[MarkovPrefetcher])
    assert(PrefetchModels.load(spark, s"$base/g").isInstanceOf[GruPrefetcher])
    // every loaded class predicts (trait surface only)
    for (sub <- Seq("m", "g")) {
      val p = PrefetchModels.load(spark, s"$base/$sub")
      assert(p.fitted && p.suggest(Seq(0, 1), 2).nonEmpty, s"model $sub must serve")
    }
    ModelIO.writeMeta(spark, s"$base/bad", """{"model":"mystery"}""")
    assertThrows[IllegalArgumentException](PrefetchModels.load(spark, s"$base/bad"))
  }

  test("a GRU serves the prefetch loop: tick warms the predicted next block") {
    val log = new AccessLog()
    pattern.foreach(b => log.log("t", Seq(b)))
    val gru = new GruPrefetcher(hidden = 8, window = 6, epochs = 60, lr = 0.6)
      .fit(spark, pattern)
    val cache = new BlockCacheManager[Long](8)
    val svc = new PrefetchService(log, () => gru, cache,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1)
    val warmed = svc.tick()
    // history ends ...2,3 in a 0,1,2,3 cycle: the next block is 0
    assert(warmed == Seq(0), s"expected the cycle's next block, got $warmed")
    assert(cache.get("block-0").nonEmpty)
    // a second tick predicts the same block and warms nothing new
    assert(svc.tick().isEmpty && svc.prefetched == 1)
  }

  test("tick budget meters over-budget ticks without truncating warms") {
    // the PREFETCH_AB overlapped lesson made operational: a declared
    // think-time budget + the over-budget fraction is the in-production
    // signal for "swap to the cheaper model class"
    val log = new AccessLog()
    pattern.foreach(b => log.log("t", Seq(b)))
    val gru = new GruPrefetcher(hidden = 8, window = 6, epochs = 60, lr = 0.6)
      .fit(spark, pattern)
    val cache = new BlockCacheManager[Long](8)
    // budget of 0 ms is "unset": nothing ever counts over-budget
    val unmetered = new PrefetchService(log, () => gru, cache,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1)
    assert(unmetered.tick().nonEmpty)
    assert(unmetered.tickCount == 1 && unmetered.overBudgetFraction == 0.0)
    // a 1 ms budget: the warm-included tick (a Spark job) must exceed
    // it — and the warm still completed (budget meters, never truncates)
    val cache2 = new BlockCacheManager[Long](8)
    val metered = new PrefetchService(log, () => gru, cache2,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1,
      tickBudgetMillis = 1L)
    val warmed = metered.tick()
    assert(warmed.nonEmpty && cache2.get(s"block-${warmed.head}").nonEmpty,
      "the over-budget tick must still complete its warm")
    assert(metered.overBudgetFraction == 1.0 && metered.meanTickMillis > 1.0)
  }

  test("the service follows a LIVE model swap (thunk, not captured reference)") {
    val log = new AccessLog()
    pattern.foreach(b => log.log("t", Seq(b)))
    @volatile var model: Prefetcher = new MarkovPrefetcher(1) // unfitted
    val cache = new BlockCacheManager[Long](8)
    val svc = new PrefetchService(log, () => model, cache,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1)
    assert(svc.tick().isEmpty) // unfitted model: no predictions
    model = new GruPrefetcher(hidden = 8, window = 6, epochs = 60, lr = 0.6)
      .fit(spark, pattern)
    assert(svc.tick() == Seq(0)) // swapped model serves immediately
  }

  test("confidence threshold: a weak model stops polluting the cache; a confident one serves") {
    val log = new AccessLog()
    pattern.foreach(b => log.log("t", Seq(b)))
    // weak arm: a hand-rolled scorer whose best guess is 30% sure —
    // under the reference's 0.6 gate it must warm NOTHING
    val weak = new Prefetcher {
      def suggest(recent: Seq[Int], k: Int): Seq[Int] = Seq(7)
      override def suggestScored(recent: Seq[Int], k: Int) = Seq((7, 0.3))
      def fitted = true
      def fitSeq(s: org.apache.spark.sql.SparkSession, b: Seq[Int]) = this
      def save(s: org.apache.spark.sql.SparkSession, d: String): Unit = ()
    }
    val cache = new BlockCacheManager[Long](8)
    val gated = new PrefetchService(log, () => weak, cache,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1,
      threshold = 0.6)
    assert(gated.tick().isEmpty && gated.prefetched == 0,
      "sub-threshold guesses must never load")
    // ungated service with the same weak model pollutes (the behavior
    // the gate exists to stop)
    val ungated = new PrefetchService(log, () => weak, cache,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1)
    assert(ungated.tick() == Seq(7))
    // a well-trained model on a deterministic cycle clears the gate
    val gru = new GruPrefetcher(hidden = 8, window = 6, epochs = 60, lr = 0.6)
      .fit(spark, pattern)
    assert(gru.suggestScored(log.recent(8), 1).head._2 >= 0.6,
      "fixture: the trained model must actually be confident")
    val cache2 = new BlockCacheManager[Long](8)
    val confident = new PrefetchService(log, () => gru, cache2,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1,
      threshold = 0.6)
    assert(confident.tick() == Seq(0))
  }

  test("scheduled retrain fires every N ticks and hot-swaps the refit model") {
    val log = new AccessLog()
    pattern.foreach(b => log.log("t", Seq(b)))
    @volatile var model: Prefetcher = new MarkovPrefetcher(1) // unfitted
    var retrained = 0
    val cache = new BlockCacheManager[Long](8)
    val svc = new PrefetchService(log, () => model, cache,
      id => spark.sparkContext.range(id * 10L, id * 10L + 10), topK = 1,
      retrainEveryTicks = 2,
      retrain = () => {
        retrained += 1
        model = new MarkovPrefetcher(1).fitSeq(spark,
          log.all.flatMap(_.blocks))
      })
    assert(svc.tick().isEmpty) // tick 1: unfitted, no retrain yet
    assert(svc.tick().isEmpty) // tick 2 ran BEFORE the scheduled refit
    val third = svc.tick()     // tick 3: the tick-2 boundary refit model serves
    assert(retrained >= 1 && svc.retrains == retrained.toLong)
    assert(third == Seq(0), s"the refit model must serve, got $third")
  }

  test("engine.retrain refits whatever model class is installed") {
    import org.apache.spark.sql.functions.col
    val mbPath = "target/scratch/test/serve-engine"
    graft.sources.MicroBlockWriter.write(
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem"),
      mbPath, "l_shipdate", 4)
    val e = new GraftEngine(spark, mbPath, "lineitem")
    // drive a few pruning queries so the log has a sequence
    (1 to 3).foreach { _ =>
      e.query(graft.plans.Between("l_shipdate",
        graft.plans.PredValue.ts("1995-01-01"), graft.plans.PredValue.ts("1997-01-01"))).count()
      e.query(graft.plans.Between("l_shipdate",
        graft.plans.PredValue.ts("1999-01-01"), graft.plans.PredValue.ts("2001-01-01"))).count()
    }
    e.prefetcher = new GruPrefetcher(hidden = 8, window = 4, epochs = 30)
    assert(!e.prefetcher.fitted)
    e.retrain()
    assert(e.prefetcher.fitted, "retrain must fit the installed GRU")
    assert(e.prefetcher.suggest(e.accessLog.recent(4), 2).nonEmpty)
  }
}
