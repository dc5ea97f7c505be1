package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{GraftSession, MarkovPrefetcher}

/** Trained-prefetcher persistence — the reference reloads its fitted
  * model from disk at service start (run_with_prefetch_loop.py:17-22:
  * trained_model.pt + trained_mappings.json); a reloaded graft model
  * must predict identically to the instance that was saved.
  */
class PrefetchPersistenceSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 4, appName = "graft-persist-test")

  // a replay with enough structure that rankings are non-trivial
  private val pattern: Seq[Int] =
    Seq.fill(6)(Seq(0, 1, 2, 3)).flatten ++ Seq(0, 1, 5, 0, 1, 5, 2, 9)

  private val contexts: Seq[Seq[Int]] =
    Seq(Seq(0), Seq(1), Seq(0, 1), Seq(2, 3), Seq(5), Seq(9, 0), Seq(7))

  test("markov: save -> load predicts identically (all context lengths)") {
    val dir = "target/scratch/models/markov"
    val fitted = new MarkovPrefetcher(2).fitSeq(spark, pattern)
    fitted.save(spark, dir)
    val loaded = MarkovPrefetcher.load(spark, dir)
    assert(loaded.fitted)
    for (ctx <- contexts; k <- Seq(1, 3, 8))
      assert(loaded.suggest(ctx, k) == fitted.suggest(ctx, k),
        s"ctx=$ctx k=$k diverged after reload")
    assert(loaded.modelRows.toSet == fitted.modelRows.toSet)
  }

  test("markov: restore into an engine-held instance; order mismatch refuses") {
    val dir = "target/scratch/models/markov2"
    new MarkovPrefetcher(1).fitSeq(spark, pattern).save(spark, dir)
    val fresh = new MarkovPrefetcher(1)
    assert(!fresh.fitted)
    fresh.restore(spark, dir)
    assert(fresh.fitted)
    assert(fresh.suggest(Seq(0), 2) ==
      new MarkovPrefetcher(1).fitSeq(spark, pattern).suggest(Seq(0), 2))
    val wrongOrder = new MarkovPrefetcher(2)
    assertThrows[IllegalArgumentException](wrongOrder.restore(spark, dir))
  }
}
