package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{GraftSession, Tables, MarkovPrefetcher, BlockCacheManager, AccessLog, PrefetchService}
import graft.plans._
import graft.sources.{MicroBlockIndex, MicroBlockWriter}

class MicroBlockSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 8, appName = "graft-mb-test")
  private val dir = "/root/testdata/sf0.001"
  private lazy val mbPath = {
    val out = "target/scratch/test/microblocks-lineitem"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), out, "l_shipdate", 8)
    out
  }

  test("index covers all rows and columns") {
    val stats = MicroBlockIndex.build(spark, mbPath, "lineitem").collect()
    val blocks = stats.map(_.blockId).distinct
    assert(blocks.length == 8)
    val totalRows = stats.groupBy(_.blockId).map(_._2.head.rows).sum
    assert(totalRows == 6000L)
    assert(stats.map(_.column).distinct.length == 11)
    // clustered on l_shipdate: block ranges must be non-overlapping
    val shipStats = stats.filter(_.column == "l_shipdate").sortBy(_.blockId)
    shipStats.sliding(2).foreach {
      case Array(a, b) => assert(a.maxNum.get <= b.minNum.get)
      case _ =>
    }
  }

  test("compaction merges the small-file tail; data and query results survive") {
    val out = "target/scratch/test/microblocks-compact"
    val li = Tables.load(spark, dir, "lineitem")
    // 24 blocks of 6000 rows = 250 rows each — all "small" vs minRows=1000
    MicroBlockWriter.write(li, out, "l_shipdate", 24)
    val before = MicroBlockIndex.listParquetFiles(out)
    assert(before.size == 24)
    val pre = spark.read.parquet(out)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
      .collect().head
    val st = MicroBlockWriter.compact(spark, out, "l_shipdate",
      minRows = 1000L, targetRows = 1500L)
    assert(st.smallFiles == 24 && st.rowsMoved == 6000L)
    val after = MicroBlockIndex.listParquetFiles(out)
    assert(after.size == st.mergedFiles && after.size < before.size)
    // every byte survives: same count, same exact quantity sum
    val post = spark.read.parquet(out)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
      .collect().head
    assert(post == pre)
    // rebuilt index is consistent and zone ranges still prune:
    // clustered rewrite keeps non-overlapping l_shipdate ranges
    val stats = MicroBlockIndex.build(spark, out, "lineitem").collect()
    assert(stats.groupBy(_.blockId).map(_._2.head.rows).sum == 6000L)
    val ship = stats.filter(_.column == "l_shipdate").sortBy(_.blockId)
    ship.sliding(2).foreach {
      case Array(a, b) => assert(a.maxNum.get <= b.minNum.get)
      case _ =>
    }
    // mixed layout: a second compaction with nothing small is a no-op
    val st2 = MicroBlockWriter.compact(spark, out, "l_shipdate",
      minRows = 1000L, targetRows = 1500L)
    assert(st2.mergedFiles == 0)
    assert(MicroBlockIndex.listParquetFiles(out).size == after.size)
  }

  test("engine construction reuses a fresh sidecar index; any doubt rebuilds") {
    import graft.engine.GraftEngine
    val out = "target/scratch/test/mb-sidecar-reuse"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), out, "l_shipdate", 8)
    // a sidecar-LOADED index plans as a file relation; a footer-swept
    // build comes from an RDD — the observable discriminator
    def isLoaded(ds: org.apache.spark.sql.Dataset[graft.sources.BlockStat]) =
      ds.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }.nonEmpty
    val e1 = new GraftEngine(spark, out, "li_sidecar1")
    assert(!isLoaded(e1.index), "no sidecar yet: must footer-sweep")
    e1.saveIndexSidecar()
    val e2 = new GraftEngine(spark, out, "li_sidecar2")
    assert(isLoaded(e2.index), "fresh sidecar must be reused, not rebuilt")
    def snap(ds: org.apache.spark.sql.Dataset[graft.sources.BlockStat]) =
      ds.collect().map(b => (b.file, b.blockId, b.column,
        b.rowStart, b.rowEnd, b.minNum, b.maxNum, b.minStr, b.maxStr)).toSet
    assert(snap(e2.index) == snap(e1.index))
    assert(e2.index.head().table == "li_sidecar2",
      "loaded entries must carry the constructing engine's table name")
    // the reused index SERVES exactly
    val expected = spark.read.parquet(out).filter(col("l_quantity") > 45).count()
    assert(e2.sql(
      "SELECT count(*) AS n FROM li_sidecar2 WHERE l_quantity > 45")
      .collect().head.getLong(0) == expected)
    // file-set mismatch rebuilds even when every mtime looks fresh:
    // append files, then date them OLDER than the sidecar — the mtime
    // guard alone would wrongly accept, the set-equality guard refuses
    val before = MicroBlockIndex.listParquetFiles(out).toSet
    Tables.load(spark, dir, "lineitem").limit(10)
      .write.mode("append").parquet(out)
    val added = MicroBlockIndex.listParquetFiles(out).toSet -- before
    assert(added.nonEmpty)
    added.foreach { f =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(ZoneMapPruneRule.normFile(f)),
        java.nio.file.attribute.FileTime.fromMillis(1000L))
    }
    val e3 = new GraftEngine(spark, out, "li_sidecar3")
    assert(!isLoaded(e3.index), "file-set mismatch must rebuild")
    assert(e3.sql("SELECT count(*) AS n FROM li_sidecar3")
      .collect().head.getLong(0) == spark.read.parquet(out).count())
  }

  test("index save/load round-trips (save_metadata.py parity)") {
    val idx = MicroBlockIndex.build(spark, mbPath, "lineitem")
    val path = "target/scratch/test/index-saved"
    MicroBlockIndex.save(idx, path)
    val loaded = MicroBlockIndex.load(spark, path).collect()
    assert(loaded.sortBy(b => (b.blockId, b.column)).toSeq ==
      idx.collect().sortBy(b => (b.blockId, b.column)).toSeq)
  }

  test("pruning is conservative and effective on the cluster key") {
    val idx = MicroBlockIndex.build(spark, mbPath, "lineitem").toDF()
    val pred = Between("l_shipdate", PredValue.ts("2000-01-01"), PredValue.ts("2000-07-01"))
    val (files, kept) = new ZoneSnapshot(_ => idx).keptFiles(spark, pred)
    assert(kept.nonEmpty && kept.size < files.size,
      "range predicate on cluster key must prune some blocks")
    // correctness: pruned scan result == full scan + filter
    val pruned = spark.read.parquet(kept.toSeq: _*).filter(pred.toColumn).count()
    val full = spark.read.parquet(mbPath).filter(pred.toColumn).count()
    assert(pruned == full)
  }

  test("pruning semantics mirror the reference on all node types") {
    val stats = Map("x" -> ColStats(Some(10.0), Some(20.0), None, None))
    assert(ZoneMapPruner.mayMatch(Cmp("=", "x", PredValue(15.0)), stats))
    assert(!ZoneMapPruner.mayMatch(Cmp("=", "x", PredValue(25.0)), stats))
    assert(ZoneMapPruner.mayMatch(Cmp("!=", "x", PredValue(15.0)), stats))
    assert(!ZoneMapPruner.mayMatch(Cmp(">", "x", PredValue(20.0)), stats))
    assert(ZoneMapPruner.mayMatch(Cmp(">=", "x", PredValue(20.0)), stats))
    assert(!ZoneMapPruner.mayMatch(Cmp("<", "x", PredValue(10.0)), stats))
    assert(!ZoneMapPruner.mayMatch(Between("x", PredValue(21.0), PredValue(30.0)), stats))
    assert(!ZoneMapPruner.mayMatch(In("x", Seq(PredValue(1.0), PredValue(25.0))), stats))
    assert(ZoneMapPruner.mayMatch(In("x", Seq(PredValue(1.0), PredValue(12.0))), stats))
    // AND prunes if either side prunes; OR only if both do
    val dead = Cmp("=", "x", PredValue(99.0))
    val alive = Cmp("=", "x", PredValue(15.0))
    assert(!ZoneMapPruner.mayMatch(And(dead, alive), stats))
    assert(ZoneMapPruner.mayMatch(Or(dead, alive), stats))
    // unknown column: conservative keep
    assert(ZoneMapPruner.mayMatch(Cmp("=", "y", PredValue(1.0)), stats))
  }

  test("block cache LRU semantics + hit/miss accounting") {
    val cache = new BlockCacheManager[Long](2)
    val df = spark.sparkContext.range(0, 10)
    cache.put("a", df); cache.put("b", df)
    assert(cache.get("a").isDefined)      // a now most-recent
    cache.put("c", df)                    // evicts b
    assert(cache.get("b").isEmpty)
    assert(cache.get("a").isDefined && cache.get("c").isDefined)
    assert(cache.hits == 3 && cache.misses == 1)
    cache.clear()
  }

  test("markov prefetcher learns a cyclic access pattern") {
    val pattern = Seq.fill(10)(Seq(1, 2, 3, 4)).flatten
    val m = new MarkovPrefetcher(1).fitSeq(spark, pattern)
    assert(m.suggest(Seq(1), 1) == Seq(2))
    assert(m.suggest(Seq(4), 1) == Seq(1))
    assert(m.suggest(Seq(3), 2).head == 4)
  }

  test("order-2 markov backs off to shorter contexts") {
    val pattern = Seq.fill(10)(Seq(1, 2, 3, 4)).flatten
    val m = new MarkovPrefetcher(2).fitSeq(spark, pattern)
    // full 2-context hit
    assert(m.suggest(Seq(1, 2), 1) == Seq(3))
    // history shorter than order: must back off to the 1-context model
    assert(m.suggest(Seq(3), 1) == Seq(4))
    // unseen 2-context backs off to the last element's 1-context
    assert(m.suggest(Seq(9, 2), 1) == Seq(3))
  }

  test("learned model >= markov hit-rate on the same split (LSTM-parity contract)") {
    // a workload with deterministic structure: rising runs per 'query'
    val pattern = Seq.fill(6)(Seq(0, 1, 2, 5, 6, 7, 3, 4)).flatten
    val (train, test) = pattern.splitAt(pattern.size * 2 / 3)
    val markov = new MarkovPrefetcher(1).fitSeq(spark, train)
    val learned = new graft.engine.GruPrefetcher(
      hidden = 24, window = 8, epochs = 120, lr = 0.8).fit(spark, train)
    def hitRate(m: graft.engine.Prefetcher): Double = {
      val evals = graft.engine.PrefetchEval.replay(m, test, k = 3)
      evals.count(_.hit).toDouble / evals.size
    }
    val (hm, hl) = (hitRate(markov), hitRate(learned))
    assert(hl >= hm, s"learned hit-rate $hl below markov $hm")
    assert(hl > 0.9, s"learned model failed to learn a deterministic cycle: $hl")
  }

  test("prefetch eval: MRR scores rank-1 hits above deep hits and misses") {
    import graft.engine.PrefetchEval.StepEval
    // ranks: 1st, 2nd, miss, empty prediction -> (1 + 1/2 + 0 + 0) / 4
    val evals = Seq(
      StepEval(1, 7, Seq(7, 8, 9), hit = true),
      StepEval(2, 8, Seq(7, 8, 9), hit = true),
      StepEval(3, 5, Seq(7, 8, 9), hit = false),
      StepEval(4, 6, Seq(), hit = false))
    assert(graft.engine.PrefetchEval.mrr(evals) == (1.0 + 0.5) / 4)
    val row = graft.engine.PrefetchEval.summarize(spark, evals, k = 3).collect().head
    assert(row.getAs[Double]("mrr") == 0.375)
    assert(row.getAs[Double]("hit_rate") == 0.5)
    // degenerate: no steps
    assert(graft.engine.PrefetchEval.mrr(Nil) == 0.0)
  }

  test("prefetch service warms predicted blocks into the cache") {
    val log = new AccessLog()
    val cache = new BlockCacheManager[Long](8)
    val m = new MarkovPrefetcher(1).fitSeq(spark, Seq.fill(5)(Seq(0, 1, 2)).flatten)
    val svc = new PrefetchService(log, () => m, cache, id => spark.sparkContext.range(id * 10L, id * 10L + 10))
    log.log("t", Seq(0, 1))
    val warmed = svc.tick()
    assert(warmed.contains(2), s"expected block 2 prefetched, got $warmed")
    assert(cache.get("block-2").isDefined)
    cache.clear()
  }

  test("end-to-end: engine query path = prune + log + cache + execute") {
    val e = new graft.engine.GraftEngine(spark, mbPath, "lineitem")
    val pred = Between("l_shipdate", PredValue.ts("1996-01-01"), PredValue.ts("1997-01-01"))
    val viaEngine = e.query(pred).count()
    val direct = spark.read.parquet(mbPath).filter(pred.toColumn).count()
    assert(viaEngine == direct)
    assert(e.accessLog.all.nonEmpty)
    assert(e.cache.size > 0)
    // second run: all candidate blocks come from cache
    val missesBefore = e.cache.misses
    e.query(pred).count()
    assert(e.cache.misses == missesBefore, "second identical query must be all cache hits")
  }
}
