package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{GraftSession, GraftEngine, Tables}
import graft.plans._
import graft.sources.MicroBlockWriter

class SqlEngineSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 8, appName = "graft-sql-test")
  private val dir = "/root/testdata/sf0.001"
  private lazy val mbPath = {
    val out = "target/scratch/test/sqlengine-lineitem"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), out, "l_shipdate", 8)
    out
  }

  test("predicate extraction from analyzed plans") {
    val li = Tables.load(spark, dir, "lineitem")

    val p1 = PredicateExtractor.fromDataFrame(
      li.filter(col("l_quantity").between(18, 24)))
    assert(p1.contains(And(
      Cmp(">=", "l_quantity", PredValue(18.0)), Cmp("<=", "l_quantity", PredValue(24.0)))))

    val p2 = PredicateExtractor.fromDataFrame(
      li.filter(col("l_returnflag") === "A" || col("l_quantity") < 5))
    assert(p2.contains(Or(
      Cmp("=", "l_returnflag", PredValue("A")), Cmp("<", "l_quantity", PredValue(5.0)))))

    val p3 = PredicateExtractor.fromDataFrame(
      li.filter(col("l_returnflag").isin("A", "N")))
    assert(p3.contains(In("l_returnflag", Seq(PredValue("A"), PredValue("N")))))

    // timestamp literal keeps both numeric (micros) and string views
    val p4 = PredicateExtractor.fromDataFrame(
      li.filter(col("l_shipdate") >= "1996-01-01 00:00:00"))
    p4 match {
      case Some(Cmp(">=", "l_shipdate", v)) =>
        assert(v.tsStr.contains("1996-01-01 00:00:00"))
        assert(v.num.isDefined)
      case other => fail(s"unexpected: $other")
    }

    // unknown conjunct degrades conservatively, unknown OR poisons
    val p5 = PredicateExtractor.fromDataFrame(
      li.filter(col("l_quantity") > 5 && length(col("l_returnflag")) === 1))
    assert(p5.contains(Cmp(">", "l_quantity", PredValue(5.0))))
    val p6 = PredicateExtractor.fromDataFrame(
      li.filter(col("l_quantity") > 5 || length(col("l_returnflag")) === 1))
    assert(p6.isEmpty)
  }

  test("engine.sql == direct spark.sql on the same data") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val sql =
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity > 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    val viaEngine = e.sql(sql).collect().map(_.toString).toSeq

    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem_raw")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM lineitem_raw"))
      .collect().map(_.toString).toSeq
    assert(viaEngine == direct)
    // the date predicate must actually have pruned blocks
    val logged = e.accessLog.all.head.blocks
    assert(logged.size < e.blockIds.size, s"expected pruning, got all ${logged.size}")
  }

  test("engine.sql serves COUNT(DISTINCT) and DISTINCT from dictionary pages") {
    val e = new GraftEngine(spark, mbPath, "li_dictserve")
    val li = spark.read.parquet(mbPath)
    def noDataScan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.isEmpty

    // single count-distinct: exact, and served without a data scan
    val exp1 = li.select(count_distinct(col("l_suppkey"))).first.getLong(0)
    val r1 = e.sql("SELECT count(DISTINCT l_suppkey) AS n FROM li_dictserve")
    assert(r1.collect().head.getLong(0) == exp1)
    assert(noDataScan(r1), "count-distinct serve must be metadata-only")

    // several count-distincts in one statement: one row, all exact
    val exp2 = li.select(count_distinct(col("l_returnflag"))).first.getLong(0)
    val r2 = e.sql("SELECT count(DISTINCT l_suppkey) AS a, " +
      "count(DISTINCT l_returnflag) AS b FROM li_dictserve").collect().head
    assert((r2.getLong(0), r2.getLong(1)) == ((exp1, exp2)))

    // DISTINCT col: same value set as the direct query, typed like it
    val direct = li.select(col("l_returnflag")).distinct()
    val rd = e.sql("SELECT DISTINCT l_returnflag FROM li_dictserve")
    assert(rd.schema == direct.schema)
    assert(rd.collect().map(_.getString(0)).sorted.toSeq ==
      direct.collect().map(_.getString(0)).sorted.toSeq)
    assert(noDataScan(rd), "distinct serve must be metadata-only on a covered column")

    // a WHERE clause disqualifies the metadata serve — the block path
    // answers, still exactly
    val expW = li.filter(col("l_quantity") > 25)
      .select(count_distinct(col("l_suppkey"))).first.getLong(0)
    val rw = e.sql("SELECT count(DISTINCT l_suppkey) AS n " +
      "FROM li_dictserve WHERE l_quantity > 25")
    assert(rw.collect().head.getLong(0) == expW)

    // mixing in a non-distinct aggregate disqualifies too
    val rm = e.sql("SELECT count(DISTINCT l_suppkey) AS a, count(*) AS b " +
      "FROM li_dictserve").collect().head
    assert(rm.getLong(0) == exp1 && rm.getLong(1) == li.count())

    // a timestamp DISTINCT stays on the SQL path (cast from raw micros
    // would shift the domain) and stays exact
    val rt = e.sql("SELECT DISTINCT l_shipdate FROM li_dictserve")
    assert(rt.count() == li.select(col("l_shipdate")).distinct().count())
  }

  test("DISTINCT serve restores the NULL row a plain scan returns") {
    // dictionaries hold no nulls — round 10's serve silently dropped
    // the NULL row on nullable columns; footer null counts now decide
    val out = "target/scratch/test/sqlengine/nulldistinct"
    import spark.implicits._
    Seq(Option("a"), Option("b"), None, Option("a"), None, Option("c"))
      .toDF("s").coalesce(1).write.mode("overwrite").parquet(out)
    val e = new GraftEngine(spark, out, "li_nulldistinct")
    val served = e.sql("SELECT DISTINCT s FROM li_nulldistinct")
    // metadata-only: the null row comes from footer stats, not a scan
    assert(served.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.isEmpty, "null-aware distinct serve must stay metadata-only")
    val direct = spark.read.parquet(out).select("s").distinct()
    assert(served.collect().map(r => Option(r.getString(0))).toSet ==
      direct.collect().map(r => Option(r.getString(0))).toSet)
    assert(served.count() == 4, "a, b, c and the NULL row")
  }

  test("engine.sql: union of disjoint filters is NOT and-pruned") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val sql =
      """SELECT COUNT(*) AS n FROM (
        |  SELECT l_orderkey FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  UNION ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00') u""".stripMargin
    val viaEngine = e.sql(sql).collect().head.getLong(0)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check"))
      .collect().head.getLong(0)
    assert(viaEngine == direct && viaEngine > 0,
      s"union branches must not be and-pruned: $viaEngine vs $direct")
    // multi-filter plans conservatively serve all blocks
    assert(e.accessLog.all.head.blocks.size == e.blockIds.size)
  }

  test("engine.sql: join filter on the other table doesn't break or mis-filter") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_v")
    val sql =
      """SELECT COUNT(*) AS n FROM lineitem
        |JOIN orders_v ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 100000""".stripMargin
    val viaEngine = e.sql(sql).collect().head.getLong(0)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check"))
      .collect().head.getLong(0)
    assert(viaEngine == direct && viaEngine > 0)
  }

  test("engine.sql: filtered two-table join prunes the engine table's scan") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_j")
    // WHERE mixes a lineitem-local conjunct (prunable) with an orders
    // conjunct (not ours) — the lineitem scan must still shed blocks
    val sql =
      """SELECT COUNT(*) AS n FROM lineitem
        |JOIN orders_j ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_totalprice > 1000""".stripMargin
    val viaEngine = e.sql(sql).collect().head.getLong(0)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check"))
      .collect().head.getLong(0)
    assert(viaEngine == direct && viaEngine > 0)
    val logged = e.accessLog.all.head.blocks
    assert(logged.size < e.blockIds.size,
      s"join query lost pruning: served ${logged.size}/${e.blockIds.size} blocks")
  }

  test("engine.sql: table-local filter inside a join subquery prunes") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_j2")
    val sql =
      """SELECT COUNT(*) AS n FROM (
        |  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00') l
        |JOIN orders_j2 ON l.l_orderkey = o_orderkey""".stripMargin
    val viaEngine = e.sql(sql).collect().head.getLong(0)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check"))
      .collect().head.getLong(0)
    assert(viaEngine == direct && viaEngine > 0)
    assert(e.accessLog.all.head.blocks.size < e.blockIds.size)
  }

  test("engine.sql: HAVING on a pass-through grouping column prunes") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val sql =
      """SELECT l_shipdate, COUNT(*) AS n FROM lineitem GROUP BY l_shipdate
        |HAVING l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY l_shipdate""".stripMargin
    val viaEngine = e.sql(sql).collect().map(_.toString).toSeq
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check"))
      .collect().map(_.toString).toSeq
    assert(viaEngine == direct && viaEngine.nonEmpty)
    assert(e.accessLog.all.head.blocks.size < e.blockIds.size,
      "grouping-column HAVING commutes with the aggregate and must prune")
  }

  test("engine.sql: our table on the null-extended side of an outer join stays unpruned") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_o")
    // lineitem is the RIGHT side of a LEFT OUTER: its rows can be
    // null-extended below the filter, so the conjunct must not prune
    val sql =
      """SELECT COUNT(*) AS n FROM orders_o
        |LEFT JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'""".stripMargin
    val viaEngine = e.sql(sql).collect().head.getLong(0)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("JOIN lineitem", "JOIN li_check"))
      .collect().head.getLong(0)
    assert(viaEngine == direct && viaEngine > 0)
    assert(e.accessLog.all.head.blocks.size == e.blockIds.size)
  }

  test("engine.sql: a window below the filter disqualifies pruning (frames would shift)") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val sql =
      """SELECT rn FROM (
        |  SELECT l_shipdate, ROW_NUMBER() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY rn LIMIT 20""".stripMargin
    val viaEngine = e.sql(sql).collect().map(_.getInt(0)).toSeq
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check"))
      .collect().map(_.getInt(0)).toSeq
    // row numbers are computed over ALL rows — pruning would renumber
    assert(viaEngine == direct && viaEngine.nonEmpty)
    assert(e.accessLog.all.head.blocks.size == e.blockIds.size)
  }

  test("engine.sql: filter on an aggregate-derived alias must not prune raw rows") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    // alias shadows a base column name; raw l_quantity never exceeds 50
    val sql =
      """SELECT l_returnflag, l_quantity FROM (
        |  SELECT l_returnflag, SUM(l_quantity) AS l_quantity
        |  FROM lineitem GROUP BY l_returnflag) t
        |WHERE l_quantity > 1000 ORDER BY l_returnflag""".stripMargin
    val viaEngine = e.sql(sql).collect()
    assert(viaEngine.nonEmpty, "derived-column filter wrongly pruned everything")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check")).collect()
    assert(viaEngine.map(_.toString).toSeq == direct.map(_.toString).toSeq)
  }

  test("engine.sql: self-join must not prune the shared serving view") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val sql =
      """SELECT COUNT(*) AS n FROM lineitem a JOIN lineitem b
        |ON a.l_orderkey = b.l_orderkey
        |WHERE b.l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'""".stripMargin
    val viaEngine = e.sql(sql).collect().head.getLong(0)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val direct = spark.sql(sql
        .replace("FROM lineitem a", "FROM li_check a")
        .replace("JOIN lineitem b", "JOIN li_check b"))
      .collect().head.getLong(0)
    assert(viaEngine == direct && viaEngine > 0)
    // the shared view must have served ALL blocks
    assert(e.accessLog.all.head.blocks.size == e.blockIds.size)
  }

  test("engine.sql restores the full-table view binding afterwards") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    e.sql("SELECT COUNT(*) AS n FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'")
    val after = spark.sql("SELECT COUNT(*) FROM lineitem").collect().head.getLong(0)
    assert(after == 6000L, s"view must be rebound to the full table, saw $after")
  }

  test("engine.sql: concurrent calls on one engine race neither the view swap nor results") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    // two shapes with different prunings and different answers; each
    // thread checks its own expected count, so a binding leaked from
    // the other shape's swap would fail loudly
    val shapes = Seq(
      "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity BETWEEN 18 AND 24",
      "SELECT COUNT(*) AS n FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'")
    val raw = spark.read.parquet(mbPath)
    val expected = Seq(
      raw.filter(col("l_quantity").between(18, 24)).count(),
      raw.filter(col("l_shipdate") >= "1998-01-01 00:00:00").count())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = (0 until 12).map { i =>
        new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            e.sql(shapes(i % 2)).collect().head.getLong(0) == expected(i % 2)
        }
      }
      val ok = pool.invokeAll(tasks.asJava).asScala.map(_.get())
      assert(ok.forall(identity), "a concurrent sql() returned the wrong count")
    } finally pool.shutdown()
    // and the public binding is back to the full table
    assert(spark.sql("SELECT COUNT(*) FROM lineitem").collect().head.getLong(0) == 6000L)
  }

  test("candidatesMany: one batched decision job matches per-predicate candidates") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val preds: Seq[Pred] = Seq(
      Between("l_shipdate", PredValue.ts("1996-01-01"), PredValue.ts("1997-01-01")),
      Cmp(">", "l_quantity", PredValue(45.0)),
      And(Cmp(">=", "l_shipdate", PredValue.ts("1999-01-01")),
        Cmp("<", "l_quantity", PredValue(10.0))))
    val batched = e.candidatesMany(preds)
    // a FRESH engine's per-predicate path (its memo is unprimed)
    val e2 = new GraftEngine(spark, mbPath, "lineitem")
    preds.zip(batched).foreach { case (p, got) =>
      assert(got == e2.candidates(p), s"batched candidates diverge for $p")
    }
  }

  test("engine.sql without a WHERE clause serves all blocks") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val n = e.sql("SELECT COUNT(*) AS n FROM lineitem").collect().head.getLong(0)
    assert(n == 6000L)
    assert(e.accessLog.all.head.blocks.size == e.blockIds.size)
  }

  test("scanRange serves exactly the blocks overlapping a row-offset range") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val blocks = e.blocks
    val total = blocks.map(_.rows).sum
    assert(total == 6000L)
    // a mid-table range: served rows are the covering blocks' rows
    val (lo, hi) = (total / 3, 2 * total / 3)
    var off = 0L
    val expected = blocks.flatMap { b =>
      val s = off; off += b.rows
      if (s <= hi && lo < off) Some(b.rows) else None
    }.sum
    assert(expected >= hi - lo + 1)
    assert(e.scanRange(lo, hi).count() == expected)
    // degenerate ranges
    assert(e.scanRange(0, total - 1).count() == total)
    assert(e.scanRange(total, total + 10).count() == 0L)
  }

  test("scanRange covering-blocks property over random ranges") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val blocks = e.blocks.map(b => (b.rowStart, b.rowEnd, b.rows))
    val total = blocks.map(_._3).sum
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 8) {
      val lo = rnd.nextLong(total)
      val hi = math.min(total - 1, lo + rnd.nextLong(total / 2 + 1))
      val expected = blocks.collect {
        case (s, en, rows) if s <= hi && lo <= en => rows
      }.sum
      assert(e.scanRange(lo, hi).count() == expected, s"range [$lo, $hi]")
    }
  }

  test("multi-row-group files are served once, not once per block id") {
    // per-BLOCK cache keys would union/read a multi-RG file once per
    // row group (duplicate rows); serving is file-granular
    val path = "target/scratch/test/sqlengine-multirg"
    Tables.load(spark, dir, "lineitem")
      .repartitionByRange(2, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(path)
    val e = new GraftEngine(spark, path, "lineitem")
    val nFiles = e.blocks.map(_.file).distinct.size
    assert(e.blockIds.size > nFiles, "need >1 row group per file")
    val n = e.sql("SELECT COUNT(*) AS n FROM lineitem").collect().head.getLong(0)
    assert(n == 6000L, s"multi-RG files must be read once, got $n")
    assert(e.scanRange(0, Long.MaxValue).count() == 6000L)
    assert(e.query(Between("l_shipdate",
      PredValue.ts("1990-01-01"), PredValue.ts("2030-01-01"))).count() == 6000L)
  }

  test("zone-map top-k: few blocks on the cluster key, full scan when unclustered") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val tb = Seq("l_orderkey", "l_linenumber")
    def want(c: String, k: Int) = spark.read.parquet(mbPath)
      .filter(col(c).isNotNull)
      .orderBy(col(c).desc +: tb.map(col(_).asc): _*).limit(k).collect().toSeq
    // clustered column: only the top max-ordered blocks are scanned
    val got = e.topK("l_shipdate", 10, tb).collect().toSeq
    assert(got == want("l_shipdate", 10))
    assert(e.accessLog.all.last.blocks.size < e.blockIds.size,
      s"expected a pruned top-k scan, got ${e.accessLog.all.last.blocks.size} blocks")
    // unclustered column (every block's max ties): degrades to a full
    // scan but stays correct
    val got2 = e.topK("l_quantity", 5, tb).collect().toSeq
    assert(got2 == want("l_quantity", 5))
    assert(e.accessLog.all.last.blocks.size == e.blockIds.size)
  }

  test("zone-map top-k: ascending variant reads the stats-min blocks") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val tb = Seq("l_orderkey", "l_linenumber")
    val want = spark.read.parquet(mbPath)
      .filter(col("l_shipdate").isNotNull)
      .orderBy(col("l_shipdate").asc +: tb.map(col(_).asc): _*).limit(10)
      .collect().toSeq
    val got = e.topK("l_shipdate", 10, tb, ascending = true).collect().toSeq
    assert(got == want)
    assert(e.accessLog.all.last.blocks.size < e.blockIds.size,
      s"expected a pruned bottom-k scan, got ${e.accessLog.all.last.blocks.size} blocks")
  }

  test("topKDirect returns the same rows as topK without touching the LRU") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val tb = Seq("l_orderkey", "l_linenumber")
    for (asc <- Seq(false, true)) {
      val cached = e.topK("l_shipdate", 10, tb, ascending = asc).collect().toSeq
      e.cache.clear()
      val direct = e.topKDirect("l_shipdate", 10, tb, ascending = asc).collect().toSeq
      assert(direct == cached, s"ascending=$asc")
      assert(e.cache.size == 0, "direct serve must not populate the cache")
      assert(e.accessLog.all.last.blocks.size < e.blockIds.size,
        "direct serve still prunes via the zone maps")
    }
  }

  test("topK on an absent column errors instead of returning empty") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    // unindexed column -> full-scan fallback -> the column reference
    // itself fails analysis loudly (previously: silently zero rows)
    intercept[Exception](e.topK("no_such_column", 5).collect())
  }

  test("engine.sql recognizes ORDER BY + LIMIT and serves the top-k block set") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    for (dir9 <- Seq("DESC", "ASC")) {
      val sql =
        s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
           |ORDER BY l_shipdate $dir9, l_orderkey, l_linenumber LIMIT 10""".stripMargin
      val viaEngine = e.sql(sql).collect().map(_.toString).toSeq
      val direct = spark.sql(sql.replace("FROM lineitem", "FROM li_check"))
        .collect().map(_.toString).toSeq
      assert(viaEngine == direct, s"top-k via engine diverged ($dir9)")
      assert(e.accessLog.all.last.blocks.size < e.blockIds.size,
        s"$dir9: expected a top-k-pruned serve, got ${e.accessLog.all.last.blocks.size} blocks")
    }
    // a filter alongside the sort still goes through predicate pruning,
    // not the top-k path — and stays correct
    val sqlF =
      """SELECT l_orderkey, l_quantity FROM lineitem
        |WHERE l_quantity > 30
        |ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin
    assert(e.sql(sqlF).collect().map(_.toString).toSeq ==
      spark.sql(sqlF.replace("FROM lineitem", "FROM li_check")).collect().map(_.toString).toSeq)
  }

  test("an all-block serve is one plan leaf returning the plain rows") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    val sql = """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem
                |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    val served = e.sql(sql)
    assert(e.accessLog.all.last.blocks.size == e.blockIds.size)
    // one leaf however many blocks are served: the plan stays O(1)
    val leaves = served.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1 && leaves.head.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"expected one serve leaf, got ${leaves.map(_.nodeName)}")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    assert(served.collect().map(_.toString).toSeq ==
      spark.sql(sql.replace("FROM lineitem", "FROM li_check")).collect().map(_.toString).toSeq)
    assert(e.cache.size == e.blockIds.size)
  }

  test("engine.sql equals plain spark.sql for subqueries and a self-join over the same table") {
    val e = new GraftEngine(spark, mbPath, "lineitem")
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("li_check")
    val range = "l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'"
    val queries = Seq(
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         |WHERE $range AND l_extendedprice >= (SELECT MAX(l_extendedprice) FROM lineitem)""",
      s"""SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem
         |WHERE $range AND l_orderkey IN (SELECT l_orderkey FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '2000-06-01 00:00:00' AND l_quantity > 45)""",
      """SELECT a.l_returnflag, COUNT(*) AS n, SUM(b.l_quantity) AS q
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber + 1
        |WHERE a.l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY a.l_returnflag""")
    for (q <- queries.map(_.stripMargin)) {
      val want = spark.sql(q.replace("FROM lineitem", "FROM li_check")
        .replace("JOIN lineitem", "JOIN li_check")).collect().map(_.toString).toSeq.sorted
      assert(want.nonEmpty && !want.contains("[0,null]"), s"fixture: empty result for $q")
      assert(e.sql(q).collect().map(_.toString).toSeq.sorted == want, q)
    }
  }

  test("mass-cold serve collapses misses into one scan, then runs warm per-block") {
    // missUnionMax=2 forces the mass-cold path on the first (all-cold)
    // query of 8 blocks; results must match the plain path and the
    // second query must be served from the now-warm per-block cache
    val e = new GraftEngine(spark, mbPath, "lineitem", missUnionMax = 2)
    val sql = "SELECT COUNT(*) AS n FROM lineitem"
    val cold = e.sql(sql).collect().head.getLong(0)
    assert(cold == 6000L)
    assert(e.cache.size == e.blockIds.size, "misses must still enter the LRU")
    val warm = e.sql(sql)
    assert(warm.collect().head.getLong(0) == 6000L)
    // warm plan unions the cached per-block scans: all hits, no misses
    assert(e.cache.hits >= e.blockIds.size)
  }
}
