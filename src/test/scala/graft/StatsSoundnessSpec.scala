package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.GraftSession
import graft.plans._
import graft.sources.{BlockStat, MicroBlockIndex}

/** Round-14 soundness gates on the stats views (the r13 ADVICE items).
  *
  *   - WRONG-DOMAIN stats are nulled at index build: decimal footer
  *     min/max are UNSCALED and non-MICROS timestamps are in the wrong
  *     epoch unit — comparing them against scaled/micros literals
  *     falsely proved files all-match/all-miss and served wrong
  *     COUNT/MIN/MAX (the r13 high-severity advice scenario, pinned
  *     end-to-end here).
  *   - NaN-BLIND float stats (arrow excludes NaN from min/max while
  *     Spark orders NaN above everything) may neither refute `>`/`>=`
  *     nor prove any from-above claim: `nanRisk` is recorded at build
  *     from the writer (parquet-mr propagates NaN into max — measured;
  *     arrow hides it) and gates exactly those leaves.
  *   - NaN-VALUED stats (parquet-mr NaN files) keep conservatively in
  *     both the Column algebra (Spark's NaN-largest semantics) and the
  *     driver-side Scala mirror (explicit isNaN guards — Scala IEEE
  *     comparisons would silently prune).
  *   - refresh() drops DELETED files' entries so the value-serving
  *     layers' index==live gate can re-open without a full rebuild.
  */
class StatsSoundnessSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(cores = 8, appName = "graft-stats-sound")

  private def scratch(tag: String) = s"target/scratch/test/statssound/$tag"

  // ---------------------------------------------------------------
  // build-time flags
  // ---------------------------------------------------------------

  test("arrow-written floats get nanRisk=true; ints false; micros timestamps keep the integral view") {
    val idx = MicroBlockIndex.build(spark,
      "/root/testdata/sf0.001/lineitem.parquet", "li").collect()
    val qty = idx.filter(_.column == "l_quantity")
    val key = idx.filter(_.column == "l_orderkey")
    val ship = idx.filter(_.column == "l_shipdate")
    assert(qty.nonEmpty && qty.forall(_.nanRisk.contains(true)),
      "arrow double stats may hide NaN")
    assert(key.nonEmpty && key.forall(_.nanRisk.contains(false)))
    assert(ship.nonEmpty && ship.forall(b =>
      b.nanRisk.contains(false) && b.minLong.isDefined && b.minNum.isDefined),
      "micros timestamps keep both numeric views")
  }

  test("decimal stats are nulled in every numeric view at build") {
    val out = scratch("dec")
    spark.sql(
      "SELECT CAST(id + 300 AS DECIMAL(12,2)) / 100 AS price FROM range(200)")
      .coalesce(1).write.mode("overwrite").parquet(out)
    val idx = MicroBlockIndex.build(spark, out, "dec").collect()
    val price = idx.filter(_.column == "price")
    assert(price.nonEmpty)
    assert(price.forall(b => b.minNum.isEmpty && b.maxNum.isEmpty &&
      b.minLong.isEmpty && b.maxLong.isEmpty && b.minStr.isEmpty),
      s"decimal footer stats are unscaled — must not enter any view: $price")
  }

  test("MILLIS-timestamp stats are nulled (wrong epoch unit vs micros literals)") {
    val out = scratch("millis")
    val old = spark.conf.get("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try
      spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL '1' HOUR AS ts FROM range(100)")
        .coalesce(1).write.mode("overwrite").parquet(out)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    val idx = MicroBlockIndex.build(spark, out, "ms").collect()
    val ts = idx.filter(_.column == "ts")
    assert(ts.nonEmpty)
    assert(ts.forall(b => b.minNum.isEmpty && b.minLong.isEmpty),
      s"millis stats must not pose as micros: $ts")
  }

  // ---------------------------------------------------------------
  // the r13 advice wrong-answer scenario, end-to-end through the serve
  // ---------------------------------------------------------------

  test("COUNT(*) over a decimal predicate answers correctly (unscaled stats must not prove all-match)") {
    val out = scratch("decserve")
    // decimal(12,2) values 3.00..5.00 — physical int64 300..500; the
    // pre-fix numeric view proved `price > 250.00` all-match and
    // served every row
    spark.sql(
      "SELECT CAST((id % 3) + 3 AS DECIMAL(12,2)) AS price FROM range(1000)")
      .coalesce(2).write.mode("overwrite").parquet(out)
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "decs"), out)
    spark.read.parquet(out).createOrReplaceTempView("dec_serve_t")
    val n = spark.sql(
      "SELECT COUNT(*) AS n FROM dec_serve_t WHERE price > 250.00")
      .collect().head.getLong(0)
    assert(n == 0L, s"price tops out at 5.00 — got $n")
    val m = spark.sql(
      "SELECT COUNT(*) AS n FROM dec_serve_t WHERE price >= 4.00")
      .collect().head.getLong(0)
    assert(m == spark.read.parquet(out)
      .filter(col("price") >= 4.00).count())
  }

  test("COUNT(*) over a MILLIS-timestamp predicate answers correctly") {
    val out = scratch("msserve")
    val old = spark.conf.get("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try
      spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL '1' HOUR AS ts FROM range(240)")
        .coalesce(2).write.mode("overwrite").parquet(out)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "mss"), out)
    spark.read.parquet(out).createOrReplaceTempView("ms_serve_t")
    // millis stats (~1.7e12) sit far below the micros literal
    // (~1.7e15): the pre-fix view falsely refuted every file → served 0
    val n = spark.sql(
      """SELECT COUNT(*) AS n FROM ms_serve_t
        |WHERE ts > TIMESTAMP '2024-01-03 00:00:00'""".stripMargin)
      .collect().head.getLong(0)
    assert(n == spark.read.parquet(out)
      .filter(col("ts") > lit(java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
      .count())
    assert(n > 0L)
  }

  // ---------------------------------------------------------------
  // NaN gates at the proof layer
  // ---------------------------------------------------------------

  private def nanBlindEntry(file: String, nanRisk: Option[Boolean]) =
    BlockStat("t", file, 0, 0L, 2L, "d", rows = 3L, nullCount = 0L,
      bytes = 100L, codec = "SNAPPY",
      minNum = Some(1.0), maxNum = Some(2.0), minStr = None, maxStr = None,
      nanRisk = nanRisk)

  test("NaN-blind stats refuse `>` refutation and from-above T-proofs; faithful stats keep them") {
    import spark.implicits._
    val risky = spark.createDataset(Seq(nanBlindEntry("f0", Some(true)))).toDF()
    val safe  = spark.createDataset(Seq(nanBlindEntry("f0", Some(false)))).toDF()
    val legacy = safe.drop("nanRisk") // sidecar predating the flag
    val gt = Cmp(">", "d", PredValue(5.0))
    val le = Cmp("<=", "d", PredValue(5.0))
    // refutation of `>` uses max as an upper bound — NaN-blind must keep
    assert(IndexPruning.skippedFiles(risky, gt).isEmpty)
    assert(IndexPruning.skippedFiles(legacy, gt).isEmpty)
    assert(IndexPruning.skippedFiles(safe, gt) == Seq("f0"))
    // `<` refutes through min — NaN cannot hide there
    assert(IndexPruning.skippedFiles(risky, Cmp("<", "d", PredValue(0.5))) == Seq("f0"))
    // T-proof of `<=` claims an upper bound on every row (the driver
    // tri-state the rules decide by)
    def allTrue(idx: org.apache.spark.sql.DataFrame, p: Pred = le) =
      new ZoneSnapshot(_ => idx).triState(spark, p)._1.contains("f0")
    assert(!allTrue(risky))
    assert(!allTrue(legacy))
    assert(allTrue(safe))
    // T-proof of `>` leans on min only — sound even NaN-blind
    assert(allTrue(risky, Cmp(">", "d", PredValue(0.5))))
    // driver-side mirror agrees
    val st = Map("d" -> ColStats(Some(1.0), Some(2.0), None, None,
      Some(0L), Some(3L), Some(true)))
    assert(ZoneMapPruner.mayMatch(gt, st), "NaN-blind stats may not refute >")
    val stSafe = Map("d" -> ColStats(Some(1.0), Some(2.0), None, None,
      Some(0L), Some(3L), Some(false)))
    assert(!ZoneMapPruner.mayMatch(gt, stSafe))
  }

  test("a Spark-written NaN file keeps its NaN row through transparent pruning") {
    val out = scratch("nanmr")
    spark.sql("SELECT CAST(v AS DOUBLE) AS d FROM VALUES (1.0), (2.0), (CAST('NaN' AS DOUBLE)) t(v)")
      .coalesce(1).write.mode("overwrite").parquet(out)
    val idx = MicroBlockIndex.build(spark, out, "nan")
    val entries = idx.collect().filter(_.column == "d")
    // parquet-mr WRITES NaN into max (measured: footer max = NaN) and
    // its READER then drops float/double min/max containing NaN
    // (PARQUET-1246) — so a parquet-mr NaN file arrives with NO
    // numeric stats at all: unprunable, unprovable, fully
    // conservative. That is exactly why parquet-mr float stats that
    // DO arrive are NaN-free and earn nanRisk=false.
    assert(entries.forall(_.nanRisk.contains(false)))
    assert(entries.forall(b => b.minNum.isEmpty && b.maxNum.isEmpty))
    val gt = Cmp(">", "d", PredValue(5.0))
    assert(IndexPruning.skippedFiles(idx.toDF(), gt).isEmpty,
      "the NaN row matches d > 5 under Spark semantics")
    // defense-in-depth: NaN-VALUED bounds (should another stats source
    // ever supply them) keep in the driver-side mirror too
    val st = Map("d" -> ColStats(Some(1.0), Some(Double.NaN),
      None, None, Some(0L), Some(3L), Some(false)))
    assert(ZoneMapPruner.mayMatch(gt, st))
    assert(ZoneMapPruner.mayMatch(Cmp("=", "d", PredValue(1.5)), st))
  }

  test("top-k cut refuses NaN-risk blocks") {
    import spark.implicits._
    val risky = spark.createDataset(Seq(nanBlindEntry("f0", Some(true)),
      nanBlindEntry("f1", Some(true)).copy(blockId = 1, minNum = Some(10.0),
        maxNum = Some(20.0)))).toDF()
    def cut(idx: org.apache.spark.sql.DataFrame) = ZoneSnapshot.topKSkippedFiles(spark,
      Seq(new ZoneSnapshot(_ => idx)), "d", 1, ascending = false, nullsFirst = false)
    assert(cut(risky).isEmpty)
    val safe = spark.createDataset(Seq(nanBlindEntry("f0", Some(false)),
      nanBlindEntry("f1", Some(false)).copy(blockId = 1, minNum = Some(10.0),
        maxNum = Some(20.0)))).toDF()
    assert(cut(safe) == Set("f0"))
  }

  // ---------------------------------------------------------------
  // refresh drops deleted files
  // ---------------------------------------------------------------

  test("refresh drops deleted files' entries so the index==live gate re-opens") {
    val out = scratch("refresh")
    spark.range(1000).withColumn("v", col("id") * 2)
      .repartition(2).write.mode("overwrite").parquet(out)
    // persist through a sidecar save+load: a live build() Dataset
    // re-reads footers on every action and would crash on the deleted
    // file — the refresh contract is over a MATERIALIZED index
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "rt"), out)
    val idx = MicroBlockIndex.load(spark, MicroBlockIndex.sidecarPath(out))
    val files = MicroBlockIndex.listParquetFiles(out)
    assert(files.size == 2)
    // delete one data file in place
    val p = new org.apache.hadoop.fs.Path(files.head)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    val live = MicroBlockIndex.listParquetFiles(out).toSet
    assert(live.size == 1)
    val refreshed = MicroBlockIndex.refresh(spark, out, "rt", idx)
    val indexed = refreshed.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    assert(indexed == live, s"index must match the live listing: $indexed vs $live")
  }
}
