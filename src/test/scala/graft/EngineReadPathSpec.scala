package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.engine.{GraftEngine, GraftSession, Prefetcher, Tables}
import graft.plans._
import graft.sources.{BlockStat, MicroBlockIndex, MicroBlockWriter}

/** The engine's read path launches only the jobs its own execution
  * needs: pruning decisions run on the driver over memoized column
  * stats and must agree with the distributed [[IndexPruning.decide]];
  * block reads are pinned to the table's schema; a prefetch warm is one
  * job and no SQL execution; a one-block aggregate hit is one job with
  * no exchange; each engine owns its resident blocks; and an analyzed
  * BETWEEN prunes like its `>=`/`<=` twin. */
class EngineReadPathSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 4, appName = "graft-readpath-test")
  private val dir = "/root/testdata/sf0.001"
  private lazy val mbPath = {
    val out = "target/scratch/test/readpath-lineitem"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), out, "l_shipdate", 8)
    out
  }

  /** Jobs and SQL executions started while `body` runs. */
  private def launchedDuring[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftTestBus.drain(sc)
      (out, jobs.get(), executions.get())
    } finally sc.removeSparkListener(l)
  }

  /** Jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val (out, jobs, _) = launchedDuring(body)
    (out, jobs)
  }

  /** Every node of an executed plan, through adaptive query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** WARN-or-worse log messages emitted while `body` runs. */
  private def warningsDuring(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-readpath-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body
    finally {
      root.removeAppender(appender)
      appender.stop()
    }
    seen.asScala.toSeq
  }

  /** (block id -> keep) from the distributed decision over `index`. */
  private def distributed(index: DataFrame, p: Pred): Map[Int, Boolean] =
    IndexPruning.decide(index, p).collect().map(r => r.getInt(0) -> r.getBoolean(5)).toMap

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def filterOf(sql: String): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.sql(sql).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.get

  test("an analyzed BETWEEN converts exactly like its >= / <= twin") {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_between")
    def both(between: String, twin: String): Unit = {
      val b = filterOf(s"SELECT * FROM li_between WHERE $between")
      val t = filterOf(s"SELECT * FROM li_between WHERE $twin")
      assert(PredicateExtractor.convert(b).nonEmpty, s"$between must convert")
      assert(PredicateExtractor.convert(b) == PredicateExtractor.convert(t), between)
      assert(PredicateExtractor.convertComplete(b) == PredicateExtractor.convertComplete(t), between)
      assert(PredicateExtractor.convertComplete(b) == PredicateExtractor.convert(b), between)
    }
    both("l_quantity BETWEEN 18 AND 24", "l_quantity >= 18 AND l_quantity <= 24")
    both("l_extendedprice BETWEEN 1000.5 AND 2000.25",
      "l_extendedprice >= 1000.5 AND l_extendedprice <= 2000.25")
    both("l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-06-30 00:00:00'",
      "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate <= TIMESTAMP '1996-06-30 00:00:00'")
    assert(PredicateExtractor.convert(filterOf(
      "SELECT * FROM li_between WHERE l_quantity BETWEEN 18 AND 24")).contains(
      And(Cmp(">=", "l_quantity", PredValue(18.0)), Cmp("<=", "l_quantity", PredValue(24.0)))))
    // a BETWEEN beside an unconvertible conjunct keeps its own bounds
    val mixed = PredicateExtractor.convert(filterOf(
      "SELECT * FROM li_between WHERE l_quantity BETWEEN 18 AND 24 AND length(l_returnflag) = 1"))
    assert(mixed.contains(
      And(Cmp(">=", "l_quantity", PredValue(18.0)), Cmp("<=", "l_quantity", PredValue(24.0)))))
  }

  test("engine.sql: a timestamp BETWEEN serves exactly its twin's candidate blocks") {
    val lo = "TIMESTAMP '1995-03-01 00:00:00'"
    val hi = "TIMESTAMP '1995-09-30 00:00:00'"
    val q = "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem WHERE %s GROUP BY l_returnflag"
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val viaBetween = rows(e.sql(q.format(s"l_shipdate BETWEEN $lo AND $hi")))
    val betweenBlocks = e.accessLog.all.last.blocks
    val viaTwin = rows(e.sql(q.format(s"l_shipdate >= $lo AND l_shipdate <= $hi")))
    val twinBlocks = e.accessLog.all.last.blocks
    assert(viaBetween == viaTwin)
    assert(betweenBlocks == twinBlocks)
    assert(betweenBlocks == e.candidates(Between("l_shipdate",
      PredValue.ts("1995-03-01"), PredValue.ts("1995-09-30"))))
    assert(betweenBlocks.size < e.blockIds.size, "the BETWEEN read must prune")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_plain")
    assert(viaBetween == rows(spark.sql(
      q.format(s"l_shipdate BETWEEN $lo AND $hi").replace("FROM lineitem", "FROM li_plain"))))
  }

  test("driver-side decisions equal the distributed decide() on the real layout") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val preds: Seq[Pred] = Seq(
      Between("l_shipdate", PredValue.ts("1996-01-01"), PredValue.ts("1997-01-01")),
      Cmp(">", "l_quantity", PredValue(45.0)),
      Cmp("<", "l_shipdate", PredValue.ts("1995-06-01")),
      Cmp("=", "l_returnflag", PredValue("R")),
      Cmp(">=", "l_linestatus", PredValue("O")),
      In("l_linestatus", Seq(PredValue("F"), PredValue("Q"))),
      NullCheck("l_returnflag", negated = false),
      Or(Cmp("<", "l_shipdate", PredValue.ts("1995-06-01")),
        Cmp(">", "l_shipdate", PredValue.ts("2001-06-01"))),
      And(Cmp(">=", "l_shipdate", PredValue.ts("2001-01-01")),
        Cmp("<", "l_quantity", PredValue(10.0))),
      Cmp("=", "no_such_column", PredValue(1.0)))
    preds.foreach { p =>
      val want = distributed(e.index.toDF(), p)
      val got = e.decisions(p)
      assert(got.map(_._1) == e.blockIds)
      assert(got.map(d => d._1 -> d._4).toMap == want, s"decisions diverge for $p")
      assert(e.candidates(p) == want.filter(_._2).keys.toSeq.sorted, s"candidates diverge for $p")
    }
    assert(preds.exists(p => e.candidates(p).size < e.blockIds.size), "some predicate must prune")
  }

  test("driver-side decisions equal the distributed decide() on random stats") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def value(): Double = math.floor(rnd.between(-100.0, 100.0) * 4) / 4
    val pool = Vector("a", "zebra", "中文", "日本語", "😀emoji", "Zz", "")
    def leaf(): Pred = rnd.nextInt(7) match {
      case 0 => Cmp(Seq("=", "!=", "<", "<=", ">", ">=")(rnd.nextInt(6)), "s",
        PredValue(pool(rnd.nextInt(pool.size))))
      case 1 => NullCheck(Seq("x", "s", "y", "z")(rnd.nextInt(4)), negated = rnd.nextBoolean())
      case 2 =>
        val (a, b) = (value(), value())
        Between("x", PredValue(math.min(a, b)), PredValue(math.max(a, b)))
      case 3 => In("x", Seq.fill(rnd.nextInt(4))(PredValue(value())))
      case _ => Cmp(Seq("=", "!=", "<", "<=", ">", ">=")(rnd.nextInt(6)), "x", PredValue(value()))
    }
    def pred(): Pred = rnd.nextInt(4) match {
      case 0 => leaf()
      case 1 => And(leaf(), leaf())
      case 2 => Or(leaf(), leaf())
      case _ => And(Or(leaf(), leaf()), leaf())
    }
    // a real table of 40 one-row-group files; its sidecar index holds
    // random stats for them, which a fresh engine adopts as its index
    val path = "target/scratch/test/readpath-random-stats"
    spark.range(0, 400, 1, 40).write.mode("overwrite").parquet(path)
    val files = MicroBlockIndex.listParquetFiles(path).sorted
    val entries = files.zipWithIndex.flatMap { case (f, id) =>
      // null counts: none / some / all-null / footer-omitted (-1)
      def nc(): Long = Seq(0L, rnd.between(1L, 10L), 10L, -1L)(rnd.nextInt(4))
      def stat(c: String, mn: Option[Double], mx: Option[Double],
          ms: Option[String], xs: Option[String], nan: Option[Boolean] = Some(false)) =
        BlockStat("t", f, id, id * 10L, id * 10L + 9, c, 10L, nc(), 100L, "SNAPPY",
          mn, mx, ms, xs, nanRisk = nan)
      val (a, b) = (value(), value())
      // NaN-risky: float stats whose max may hide a NaN row (true), or
      // of unknown provenance (None)
      val nan = Seq(Some(false), Some(true), None)(rnd.nextInt(3))
      val x =
        if (rnd.nextInt(6) == 0) stat("x", None, None, None, None)
        else if (rnd.nextInt(8) == 0)
          stat("x", Some(if (rnd.nextBoolean()) Double.NaN else math.min(a, b)),
            Some(Double.NaN), None, None)
        else stat("x", Some(math.min(a, b)), Some(math.max(a, b)), None, None, nan)
      val ss = Seq.fill(2)(pool(rnd.nextInt(pool.size)))
        .sortWith((p, q) => ZoneMapPruner.u8cmp(p, q) < 0)
      val s =
        if (rnd.nextInt(6) == 0) stat("s", None, None, None, None)
        else stat("s", None, None, Some(ss.head), Some(ss.last))
      // no stats row for x at all on some blocks (schema-evolved file)
      (if (rnd.nextInt(8) == 0) Nil else Seq(x)) ++
        Seq(s, stat("y", Some(0.0), Some(1.0), None, None))
    }
    MicroBlockIndex.saveSidecar(spark.createDataset(entries), path)
    val e = new GraftEngine(spark, path, "t")
    assert(e.blockIds == files.indices)
    val index = e.index.toDF()
    for (_ <- 1 to 40) {
      val p = pred()
      val want = distributed(index, p)
      assert(e.decisions(p).map(d => d._1 -> d._4).toMap == want, s"decisions diverge for $p")
    }
  }

  test("a new literal over memoized columns launches no Spark job") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    def shape(day: String, qty: Double): Pred = And(
      Cmp(">=", "l_shipdate", PredValue.ts(day)), Cmp("<", "l_quantity", PredValue(qty)))
    val (_, first) = jobsDuring(e.candidates(shape("1995-01-01", 20)))
    assert(first >= 1, "the first sight of a column collects its stats")
    val (c, again) = jobsDuring(e.candidates(shape("1997-06-01", 35)))
    assert(again == 0, s"a memoized decision launched $again jobs")
    val (d, again2) = jobsDuring(e.decisions(Between("l_shipdate",
      PredValue.ts("1994-01-01"), PredValue.ts("1994-03-01"))))
    assert(again2 == 0, s"a memoized decision launched $again2 jobs")
    assert(c == e.candidates(shape("1997-06-01", 35)) && d.nonEmpty)
  }

  test("a prefetch warm is one job and leaves the block's cache built") {
    spark.catalog.clearCache()
    val e = new GraftEngine(spark, mbPath, "li_warm")
    e.sql("SELECT COUNT(*) FROM li_warm WHERE l_shipdate < TIMESTAMP '1995-03-01 00:00:00'").collect()
    val target = e.blockIds.last
    e.prefetcher = fixed(Seq(target))
    val (warmed, jobs, executions) = launchedDuring(e.service.tick())
    assert(warmed == Seq(target))
    assert(jobs == 1, s"warming one block launched $jobs jobs")
    assert(executions == 0, s"warming one block ran $executions SQL executions")
    val entry = e.cache.get(s"file-${e.blocks.find(_.blockId == target).get.file}").get
    assert(fullyCached(entry), "the warmed block's RDD must have all partitions cached")
  }

  private def fullyCached(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists(i =>
      i.id == rdd.id && i.numPartitions > 0 && i.numCachedPartitions == i.numPartitions)

  test("a GROUP BY read that hits one resident block is one job with no exchange") {
    val e = new GraftEngine(spark, mbPath, "li_onehit")
    val blk = e.blocks(e.blocks.size / 2)
    val (lo, hi) = spark.read.parquet(blk.file)
      .agg(min("l_shipdate").cast("string"), max("l_shipdate").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).head
    val q = s"""SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM li_onehit
               |WHERE l_shipdate > TIMESTAMP '$lo' AND l_shipdate < TIMESTAMP '$hi'
               |GROUP BY l_returnflag""".stripMargin
    val plain = spark.read.parquet(mbPath)
    plain.createOrReplaceTempView("li_onehit_plain")
    val want = rows(spark.sql(q.replace("FROM li_onehit", "FROM li_onehit_plain")))
    assert(rows(e.sql(q)) == want) // the miss makes the block resident
    assert(e.accessLog.all.last.blocks == Seq(blk.blockId), "fixture: one candidate block")
    val hit = e.sql(q)
    val (got, jobs) = jobsDuring(rows(hit))
    assert(got == want)
    assert(e.cache.hits == 1)
    assert(jobs == 1, s"a one-block hit launched $jobs jobs")
    val executed = nodes(hit.queryExecution.executedPlan)
    assert(!executed.exists(_.isInstanceOf[Exchange]), s"exchange in\n${hit.queryExecution.executedPlan}")
    assert(!executed.exists(_.isInstanceOf[FileSourceScanExec]))
  }

  test("two engines over the same files own their blocks: one's eviction leaves the other's hits off parquet") {
    val path = "target/scratch/test/readpath-two-engines"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), path, "l_shipdate", 4)
    val a = new GraftEngine(spark, path, "li_two_a", cacheCapacity = 1)
    val b = new GraftEngine(spark, path, "li_two_b")
    val (blk, other) = (a.blocks.head, a.blocks.last)
    def read(e: GraftEngine, m: graft.sources.BlockMeta) = e.scanRange(m.rowStart, m.rowEnd)
    val moved = Paths.get(path + "-moved.parquet")
    val warned = warningsDuring {
      // both engines read the block, then warm another one, which A's
      // one-entry LRU makes room for by evicting the block
      val want = rows(read(b, blk))
      assert(rows(read(a, blk)) == want)
      Seq(a, b).foreach { e =>
        e.prefetcher = fixed(Seq(other.blockId))
        assert(e.service.tick() == Seq(other.blockId))
      }
      assert(rows(b.sql("SELECT COUNT(*) FROM li_two_b")) == Seq("[6000]"))
      val key = s"file-${blk.file}"
      assert(!a.cache.peek(key) && b.cache.peek(key))
      // with the block's file gone, only a resident block can serve it
      Files.move(Paths.get(new java.net.URI(blk.file)), moved)
      try {
        val (h, m) = (b.cache.hits, b.cache.misses)
        val hit = read(b, blk)
        assert(rows(hit) == want)
        assert(b.cache.hits == h + 1 && b.cache.misses == m)
        assert(!nodes(hit.queryExecution.executedPlan).exists(_.isInstanceOf[FileSourceScanExec]))
      } finally Files.move(moved, Paths.get(new java.net.URI(blk.file)))
    }
    val doubled = warned.filter(_.contains("Asked to cache already cached data"))
    assert(doubled.isEmpty, s"the engines shared a cache entry: $doubled")
  }

  /** A prefetcher that always suggests `ids`. */
  private def fixed(ids: Seq[Int]): Prefetcher = new Prefetcher {
    def suggest(recent: Seq[Int], k: Int): Seq[Int] = ids.take(k)
    def fitted: Boolean = true
    def fitSeq(spark: SparkSession, blocks: Seq[Int]): Prefetcher = this
    def save(spark: SparkSession, dir: String): Unit = ()
  }

  test("reads pinned to the table schema: hits, misses and prefetch warms over evolved files") {
    val li = Tables.load(spark, dir, "lineitem")
    // newer files add a nullable column; the plain read takes its schema
    // from the first file by path, so an "a-" name widens the table's
    // schema and a "z-" name leaves it narrow — both must serve alike
    for (prefix <- Seq("a", "z")) {
      spark.catalog.clearCache()
      val path = s"target/scratch/test/readpath-evolved-$prefix"
      val batch = s"$path-batch"
      MicroBlockWriter.write(li, path, "l_shipdate", 6)
      li.filter(col("l_shipdate") >= "2000-06-01")
        .withColumn("l_note", when(col("l_linenumber") % 2 === 0, concat(lit("n"), col("l_orderkey"))))
        .repartition(2).write.mode("overwrite").parquet(batch)
      MicroBlockIndex.listParquetFiles(batch).zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(java.nio.file.Paths.get(new java.net.URI(f)),
          java.nio.file.Paths.get(path, s"$prefix-evolved-$i.parquet"))
      }
      val plain = spark.read.parquet(path)
      assert(plain.columns.contains("l_note") == (prefix == "a"))
      plain.createOrReplaceTempView("evo_plain")
      val q = "SELECT * FROM evo WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'"
      val want = rows(spark.sql(q.replace("FROM evo", "FROM evo_plain")))
      assert(want.nonEmpty)

      val e = new GraftEngine(spark, path, "evo")
      val ids = e.candidates(Cmp(">=", "l_shipdate", PredValue.ts("2001-01-01")))
      val evolved = e.blocks
        .filter(b => new org.apache.hadoop.fs.Path(b.file).getName.startsWith(s"$prefix-evolved-"))
        .map(_.blockId)
      assert(evolved.size == 2 && evolved.forall(ids.contains) && ids.size == 3,
        s"the range must span one old file and both new ones, got $ids")
      // misses
      assert(rows(e.sql(q)) == want, prefix)
      assert(e.cache.misses == ids.size && e.cache.hits == 0)
      // hits
      assert(rows(e.sql(q)) == want, prefix)
      assert(e.cache.hits == ids.size)
      e.cache.clear()

      // prefetch warms: a fresh engine warms the range's blocks, then
      // serves the read from them alone
      val w = new GraftEngine(spark, path, "evo")
      w.sql("SELECT COUNT(*) FROM evo WHERE l_shipdate < TIMESTAMP '1995-03-01 00:00:00'").collect()
      w.prefetcher = fixed(ids)
      assert(w.service.tick() == ids)
      val (h, m) = (w.cache.hits, w.cache.misses)
      assert(rows(w.sql(q)) == want, prefix)
      assert(w.cache.hits - h == ids.size && w.cache.misses == m)
      w.cache.clear()
    }
  }
}
