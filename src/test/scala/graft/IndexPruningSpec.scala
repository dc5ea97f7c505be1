package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.GraftSession
import graft.plans._
import graft.sources.BlockStat

/** The distributed pruner ([[graft.plans.IndexPruning]]) must agree
  * with the driver-side spec ([[graft.plans.ZoneMapPruner.mayMatch]])
  * on EVERY block — including missing stats, string-vs-numeric
  * mismatches and the conservative fallthroughs — and must scale:
  * decisions over a 10k-file index run as one aggregation, with only
  * the per-file skip list reaching the driver.
  */
class IndexPruningSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(cores = 8, appName = "graft-idx-test")

  private val rnd = new scala.util.Random(7)
  private def value(): Double = math.floor(rnd.between(-100.0, 100.0) * 4) / 4

  private val pool = Vector("a", "zebra", "中文", "日本語", "😀emoji", "Zz", "")

  private def numLeaf(): Pred = rnd.nextInt(3) match {
    case 0 => Cmp(Seq("=", "!=", "<", "<=", ">", ">=")(rnd.nextInt(6)), "x", PredValue(value()))
    case 1 =>
      val (a, b) = (value(), value())
      Between("x", PredValue(math.min(a, b)), PredValue(math.max(a, b)))
    case _ => In("x", Seq.fill(rnd.nextInt(4))(PredValue(value())))
  }

  private def strLeaf(): Pred = Cmp(
    Seq("=", "!=", "<", "<=", ">", ">=")(rnd.nextInt(6)),
    "s", PredValue(pool(rnd.nextInt(pool.size))))

  private def nullLeaf(): Pred =
    NullCheck(Seq("x", "s", "y", "z")(rnd.nextInt(4)), negated = rnd.nextBoolean())

  private def leaf(): Pred = rnd.nextInt(8) match {
    case 0 | 1 => strLeaf()
    case 2     => nullLeaf()
    case _     => numLeaf()
  }

  private def pred(): Pred = rnd.nextInt(4) match {
    case 0 => leaf()
    case 1 => And(leaf(), leaf())
    case 2 => Or(leaf(), leaf())
    case _ => And(Or(leaf(), leaf()), leaf())
  }

  /** One random block's index entries: numeric col x, string col s,
    * and an unrelated col y; stats sometimes missing entirely. */
  private def blockEntries(id: Int): Seq[BlockStat] = {
    // null counts: none / some / all-null / footer-omitted (-1)
    def nc(): Long = Seq(0L, rnd.between(1L, 10L), 10L, -1L)(rnd.nextInt(4))
    def stat(column: String, mn: Option[Double], mx: Option[Double],
        ms: Option[String], xs: Option[String]) =
      BlockStat("t", s"f$id", id, id * 10L, id * 10L + 9, column,
        10L, nc(), 100L, "SNAPPY", mn, mx, ms, xs)
    val (a, b) = (value(), value())
    val xEntry =
      if (rnd.nextInt(6) == 0) stat("x", None, None, None, None) // no stats
      else if (rnd.nextInt(8) == 0)
        // NaN-POISONED bounds (legacy parquet-mr Math.min/max era,
        // version-blind createdBy ⇒ nanRisk recorded false): the
        // mirror keeps, the distributed side must too (round 15)
        stat("x",
          Some(if (rnd.nextBoolean()) Double.NaN else math.min(a, b)),
          Some(Double.NaN), None, None)
      else stat("x", Some(math.min(a, b)), Some(math.max(a, b)), None, None)
    val ss = Seq.fill(2)(pool(rnd.nextInt(pool.size)))
      .sortWith((p, q) => ZoneMapPruner.u8cmp(p, q) < 0)
    val sEntry =
      if (rnd.nextInt(6) == 0) stat("s", None, None, None, None)
      else stat("s", None, None, Some(ss.head), Some(ss.last))
    val maybeX = if (rnd.nextInt(8) == 0) Nil else Seq(xEntry) // column absent
    maybeX ++ Seq(sEntry, stat("y", Some(0.0), Some(1.0), None, None))
  }

  test("distributed decide() == mayMatch on random blocks and predicates") {
    import spark.implicits._
    for (_ <- 1 to 12) {
      val blocks = (0 until 120).map(id => id -> blockEntries(id))
      val index = spark.createDataset(blocks.flatMap(_._2)).toDF()
      val p = pred()
      val got = IndexPruning.decide(index, p)
        .collect().map(r => r.getInt(0) -> r.getBoolean(5)).toMap
      blocks.foreach { case (id, entries) =>
        val stats = entries.map(e =>
          e.column -> ColStats(e.minNum, e.maxNum, e.minStr, e.maxStr,
            Some(e.nullCount).filter(_ >= 0), Some(e.rows))).toMap
        assert(got(id) == ZoneMapPruner.mayMatch(p, stats),
          s"block $id disagrees for $p (stats=$stats)")
      }
    }
  }

  test("NaN-valued bounds with nanRisk=false never refute (the round-15 advice scenario)") {
    import spark.implicits._
    // a legacy parquet-mr (Math.min/max era) float entry: NaN poisoned
    // min/max, but the version-blind createdBy check recorded
    // nanRisk=false. Spark's NaN-greatest ordering makes `NaN < 5`
    // false — the pre-fix keepColumn refuted and skipped a file whose
    // finite rows match.
    val poisoned = BlockStat("t", "fNaN", 0, 0L, 9L, "x",
      10L, 0L, 100L, "SNAPPY",
      Some(Double.NaN), Some(Double.NaN), None, None)
    val index = spark.createDataset(Seq(poisoned)).toDF()
    for (p <- Seq[Pred](
        Cmp("<", "x", PredValue(5.0)),
        Cmp("<=", "x", PredValue(5.0)),
        Cmp("=", "x", PredValue(5.0)),
        Cmp(">", "x", PredValue(5.0)),
        Cmp(">=", "x", PredValue(5.0)),
        Between("x", PredValue(1.0), PredValue(5.0)),
        In("x", Seq(PredValue(5.0))))) {
      val kept = IndexPruning.decide(index, p)
        .collect().map(_.getBoolean(5))
      assert(kept.forall(identity),
        s"NaN-valued bounds must keep conservatively for $p")
      assert(IndexPruning.skippedFiles(index, p).isEmpty)
      // and the driver tri-state stays unproven (the ±2^53 certificate
      // rejects NaN)
      val (allTrue, allFalse) = new ZoneSnapshot(_ => index).triState(spark, p)
      assert(allTrue.isEmpty && allFalse.isEmpty)
    }
  }

  test("index build prefix-sum: dense ids + contiguous offsets across partition boundaries") {
    // 40 real files over 8 partitions = 5 files per partition: block
    // ids and row offsets must chain correctly WITHIN a partition and
    // ACROSS the partition-base handoff of the two-pass prefix sum
    val path = "target/scratch/test/idx-prefix-sum"
    spark.range(0, 4000).select(col("id"), (col("id") % 97).as("v"))
      .repartition(40).write.mode("overwrite").parquet(path)
    val blocks = graft.sources.MicroBlockIndex
      .build(spark, path, "t")
      .collect().toSeq
      .groupBy(_.blockId).toSeq.sortBy(_._1)
      .map { case (id, cols) => (id, cols.head.rowStart, cols.head.rowEnd, cols.head.rows) }
    assert(blocks.map(_._1) == blocks.indices.toSeq, "ids must be dense 0..n-1")
    assert(blocks.head._2 == 0L)
    blocks.sliding(2).foreach {
      case Seq((_, _, aEnd, _), (_, bStart, _, _)) =>
        assert(bStart == aEnd + 1, s"offset gap at $bStart")
      case _ =>
    }
    assert(blocks.map(_._4).sum == 4000L)
  }

  test("incremental refresh: only new footers read, old ids/offsets stable") {
    import org.apache.spark.sql.functions._
    val path = "target/scratch/test/idx-refresh"
    spark.range(0, 300).select(col("id"), (col("id") % 7).as("v"))
      .repartition(3).write.mode("overwrite").parquet(path)
    val v1 = graft.sources.MicroBlockIndex.build(spark, path, "t")
    val v1Rows = v1.collect().toSeq
    // append two more files (distinct names — new part- prefixes)
    spark.range(300, 500).select(col("id"), (col("id") % 7).as("v"))
      .repartition(2).write.mode("append").parquet(path)
    val v2 = graft.sources.MicroBlockIndex.refresh(spark, path, "t", v1)
    val v2Rows = v2.collect().toSeq
    // old entries byte-identical (ids, offsets, stats all stable)
    assert(v2Rows.filter(b => v1Rows.map(_.file).contains(b.file)).toSet == v1Rows.toSet)
    // new blocks appended after the old max id with contiguous offsets
    val oldMaxId = v1Rows.map(_.blockId).max
    val oldMaxEnd = v1Rows.map(_.rowEnd).max
    val appended = v2Rows.filterNot(b => v1Rows.map(_.file).contains(b.file))
    assert(appended.nonEmpty && appended.forall(_.blockId > oldMaxId))
    assert(appended.map(_.rowStart).min == oldMaxEnd + 1)
    val total = v2Rows.groupBy(_.blockId).map(_._2.head.rows).sum
    assert(total == 500L)
    // idempotent: nothing new -> same dataset back
    assert(graft.sources.MicroBlockIndex.refresh(spark, path, "t", v2) eq v2)
  }

  test("refresh detects an in-place rewrite (same path, new mtime/size) and re-reads it") {
    import org.apache.spark.sql.functions._
    val root = "target/scratch/test/incr-rewrite"
    def writeAs(name: String, lo: Long, hi: Long): Unit = {
      val stage = s"$root-stage"
      spark.range(lo, hi).select(col("id"), (col("id") % 7).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(root).mkdirs()
      val dst = new java.io.File(s"$root/$name")
      java.nio.file.Files.copy(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // beat filesystem mtime granularity: the rewrite must be newer
      dst.setLastModified(System.currentTimeMillis() + 4000)
    }
    new java.io.File(root).listFiles() match {
      case null => (); case fs => fs.foreach(_.delete())
    }
    writeAs("a.parquet", 0L, 100L)
    writeAs("b.parquet", 100L, 200L)
    val v1 = graft.sources.MicroBlockIndex.build(spark, root, "t")
    val v1Rows = v1.collect().toSeq
    // the advice scenario: b.parquet REWRITTEN IN PLACE — same path,
    // new content (ids 1000..1099), new mtime. The old path-only diff
    // kept the dead entries; a streaming commit then re-stamped the
    // sidecar anchor and re-blessed them for every mtime-gated serve.
    writeAs("b.parquet", 1000L, 1100L)
    val v2 = graft.sources.MicroBlockIndex.refresh(spark, root, "t", v1)
    val v2Rows = v2.collect().toSeq
    val bRows = v2Rows.filter(_.file.endsWith("b.parquet"))
    val aRows = v2Rows.filter(_.file.endsWith("a.parquet"))
    // a.parquet untouched: entries byte-identical
    assert(aRows.toSet == v1Rows.filter(_.file.endsWith("a.parquet")).toSet)
    // b.parquet re-read: stats reflect the NEW data, never the old
    val bId = bRows.filter(_.column == "id")
    assert(bId.nonEmpty && bId.forall(e =>
      e.minLong.contains(1000L) && e.maxLong.contains(1099L)),
      s"rewritten file must carry fresh stats, got $bId")
    // the dead entries are gone and the new ones got NEW (retired-
    // forever) block ids past the old max
    val oldMaxId = v1Rows.map(_.blockId).max
    assert(bRows.forall(_.blockId > oldMaxId))
    assert(v2Rows.map(_.file).toSet == v1Rows.map(_.file).toSet)
    // idempotent after the re-read
    assert(graft.sources.MicroBlockIndex.refresh(spark, root, "t", v2) eq v2)
  }

  test("refresh re-reads legacy entries (no recorded status) once — the nanRisk auto-migration") {
    import org.apache.spark.sql.functions._
    val root = "target/scratch/test/incr-legacy"
    spark.range(0, 200).select(col("id"), (col("id") % 7).as("v"))
      .repartition(2).write.mode("overwrite").parquet(root)
    val fresh = graft.sources.MicroBlockIndex.build(spark, root, "t")
    // simulate a pre-r14 sidecar: no nanRisk, no fileMtime/fileSize
    val legacyPath = s"$root-legacy-sidecar"
    fresh.toDF().drop("nanRisk", "fileMtime", "fileSize", "sumLong")
      .write.mode("overwrite").parquet(legacyPath)
    val legacy = graft.sources.MicroBlockIndex.load(spark, legacyPath)
    assert(legacy.collect().forall(e =>
      e.nanRisk.isEmpty && e.fileMtime.isEmpty && e.fileSize.isEmpty))
    // one refresh = the migration: unknown provenance conservatively
    // re-reads the footers, back-filling nanRisk AND the per-file
    // status, so `>`/`>=` refutation returns without a manual rebuild
    val migrated = graft.sources.MicroBlockIndex.refresh(spark, root, "t", legacy)
    val rows = migrated.collect().toSeq
    assert(rows.nonEmpty && rows.forall(e =>
      e.nanRisk.isDefined && e.fileMtime.isDefined && e.fileSize.isDefined))
    // same coverage as a fresh build
    assert(rows.map(_.file).toSet == fresh.collect().map(_.file).toSet)
    assert(rows.groupBy(_.blockId).map(_._2.head.rows).sum == 200L)
    // and the second refresh is a no-op — the migration is one-time
    assert(graft.sources.MicroBlockIndex.refresh(spark, root, "t", migrated)
      eq migrated)
  }

  test("re-registering a refreshed index invalidates cached skip decisions") {
    import org.apache.spark.sql.functions._
    def syntheticIndex(maxVal: Int) = spark.range(0, 4)
      .select(
        col("id").cast("int").as("blockId"), concat(lit("g"), col("id")).as("file"),
        lit(10L).as("rows"), (col("id") * 10).as("rowStart"), (col("id") * 10 + 9).as("rowEnd"),
        lit("x").as("column"),
        (col("id") * maxVal / 4.0).as("minNum"), ((col("id") + 1) * maxVal / 4.0).as("maxNum"),
        lit(null).cast("string").as("minStr"), lit(null).cast("string").as("maxStr"),
        lit(0L).as("nullCount"),
        // `>` refutation needs recorded NaN-faithful stats (round 14)
        lit(false).as("nanRisk"))
    val pred = graft.plans.Cmp(">", "x", graft.plans.PredValue(150.0))
    def skip(): Set[String] = ZoneSnapshot.skippedFiles(spark,
      ZoneMapPruneRule.zoneFor("memtest-root", spark, Map.empty).toSeq, pred)
    // index says values span [0, 100] -> everything above 150 skippable
    ZoneMapPruneRule.register("memtest-root", syntheticIndex(100))
    try {
      val skip1 = skip()
      assert(skip1.size == 4, s"all 4 files refutable, got $skip1")
      // re-registering a refreshed index -> its fresh stats take effect
      ZoneMapPruneRule.register("memtest-root", syntheticIndex(1000))
      val skip2 = skip()
      assert(skip2.isEmpty, s"refreshed index spans [0,1000]: nothing refutable, got $skip2")
    } finally ZoneMapPruneRule.unregister("memtest-root")
  }

  test("IS NULL / IS NOT NULL prune from real footer null counts, end-to-end") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = "target/scratch/test/nullprune"
    // file A: v never null; file B: v always null; file C: mixed
    (0 until 100).map(i => (i.toLong, Some(i.toDouble)))
      .toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(path)
    (100 until 200).map(i => (i.toLong, Option.empty[Double]))
      .toDF("id", "v").coalesce(1).write.mode("append").parquet(path)
    (200 until 300).map(i => (i.toLong, if (i % 2 == 0) Some(i.toDouble) else None))
      .toDF("id", "v").coalesce(1).write.mode("append").parquet(path)
    val idx = graft.sources.MicroBlockIndex.build(spark, path, "np").toDF

    // the extractor reads IS (NOT) NULL off the analyzed plan
    val raw = spark.read.parquet(path)
    assert(PredicateExtractor.fromDataFrame(raw.filter(col("v").isNull))
      .contains(NullCheck("v", negated = false)))
    assert(PredicateExtractor.fromDataFrame(raw.filter(col("v").isNotNull))
      .contains(NullCheck("v", negated = true)))

    def audit(p: Pred): Unit = {
      val skipped = IndexPruning.skippedFiles(idx, p)
      assert(skipped.nonEmpty, s"$p should prune something")
      // conservativeness: skipped files hold zero matching rows
      assert(spark.read.parquet(skipped: _*).filter(p.toColumn).count() == 0)
      // coverage: kept files serve the full answer
      val kept = IndexPruning.keptFiles(idx, p)
      val full = raw.filter(p.toColumn).count()
      assert(full > 0 &&
        spark.read.parquet(kept: _*).filter(p.toColumn).count() == full)
    }
    audit(NullCheck("v", negated = false)) // skips the no-null file
    audit(NullCheck("v", negated = true))  // skips the all-null file
    // composes with range predicates through And
    audit(And(NullCheck("v", negated = true),
      Between("v", PredValue(0L), PredValue(50L))))
  }

  test("10k-file index: decisions stay distributed, driver gets only the skip list") {
    // synthetic index generated ON EXECUTORS (spark.range), never a
    // driver-side Seq: 10k files x 3 columns = 30k stat entries.
    val index = spark.range(0, 10000)
      .select(
        col("id").cast("int").as("blockId"),
        concat(lit("f"), col("id")).as("file"),
        lit(10L).as("rows"),
        (col("id") * 10).as("rowStart"),
        (col("id") * 10 + 9).as("rowEnd"),
        explode(array(lit("x"), lit("y"), lit("z"))).as("column"))
      .select(col("*"),
        (col("blockId") * 10.0).as("minNum"),
        (col("blockId") * 10.0 + 9.0).as("maxNum"),
        lit(null).cast("string").as("minStr"),
        lit(null).cast("string").as("maxStr"),
        lit(0L).as("nullCount"))
    val p = Between("x", PredValue(500.0), PredValue(999.0))
    val skipped = IndexPruning.skippedFiles(index, p)
    assert(skipped.size == 9950, s"expected 9950 skipped, got ${skipped.size}")
    val kept = IndexPruning.keptFiles(index, p)
    assert(kept.size == 50 && kept.toSet == (50 until 100).map(i => s"f$i").toSet)
    // all-pruned predicate: reference parity keeps everything
    assert(IndexPruning.keptFiles(index, Cmp("=", "x", PredValue(-5.0))).size == 10000)
  }
}
