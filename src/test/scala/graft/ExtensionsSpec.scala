package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.{GraftSession, Tables}
import graft.plans.ZoneMapPruneRule
import graft.sources.{MicroBlockIndex, MicroBlockWriter}

class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // build the session explicitly (not via GraftSession.local) to
    // test the user-facing withExtensions install path in isolation
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.tune(
      SparkSession.builder()
        .master("local[8]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", "target/scratch/warehouse-ext")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  test("injected SQL functions work from plain SQL") {
    val r = spark.sql(
      "SELECT graft_rolling_hash('hello') AS h, graft_simhash64(array('a','b')) AS s")
      .collect().head
    assert(r.getLong(0) ==
      graft.functions.RollingHash.hashBytes("hello".getBytes("UTF-8")))
    assert(r.getLong(1) != 0L)
  }

  test("graft_char_entropy: exact floor-log2 stats, unicode-codepoint counts, codegen path") {
    // 'aaab': counts a=3 b=1 -> n=4, distinct=2,
    // sum = 3*floor(log2 3) + 1*floor(log2 1) = 3*1 + 0 = 3,
    // entropy = 4*floor(log2 4) - 3 = 8 - 3 = 5
    val r = spark.sql(
      "SELECT graft_char_entropy('aaab') AS e").select("e.*").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((4L, 2L, 3L, 5L)))
    // é counts as ONE code point (DuckDB string_split parity), not 2 bytes
    val u = spark.sql(
      "SELECT graft_char_entropy('héé') AS e").select("e.*").collect().head
    assert((u.getLong(0), u.getLong(1), u.getLong(2)) == ((3L, 2L, 2L)))
    // empty input: all zeros, no log of 0
    val z = spark.sql(
      "SELECT graft_char_entropy('') AS e").select("e.*").collect().head
    assert((z.getLong(0), z.getLong(1), z.getLong(2), z.getLong(3)) == ((0L, 0L, 0L, 0L)))
    // runs through a column (codegen'd projection), not just constant folding
    import spark.implicits._
    val fromCol = Seq("aaab").toDF("t")
      .selectExpr("graft_char_entropy(t) AS e").select("e.*").collect().head
    assert(fromCol.getLong(3) == 5L)
    // COMBINING SEQUENCES: the agreed cross-engine domain is CODE
    // POINTS, not grapheme clusters. "éé" (two 'é'
    // rendered glyphs built from e + COMBINING ACUTE) is FOUR code
    // points — two distinct — on both engines: DuckDB
    // string_split(s,'') also splits per code point (verified:
    // string_split('e'||chr(769)||'x','') = ['e', chr(769), 'x']).
    val comb = spark.sql(
      "SELECT graft_char_entropy('e\u0301e\u0301') AS e").select("e.*").collect().head
    // n=4, distinct=2 (e, U+0301), sum = 2*1 + 2*1 = 4,
    // entropy = 4*2 - 4 = 4
    assert((comb.getLong(0), comb.getLong(1), comb.getLong(2), comb.getLong(3))
      == ((4L, 2L, 4L, 4L)))
  }

  test("optimizer rule prunes files transparently for registered tables") {
    val mbPath = "target/scratch/test/ext-microblocks"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), mbPath, "l_shipdate", 8)
    val stats = MicroBlockIndex.build(spark, mbPath, "lineitem").collect().toSeq
    ZoneMapPruneRule.register(mbPath, stats)
    try {
      val df = spark.read.parquet(mbPath)
        .filter(col("l_shipdate") >= "2000-01-01 00:00:00")
      // value correctness vs unregistered raw read
      val expected = Tables.load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= "2000-01-01 00:00:00").count()
      assert(df.count() == expected)
      // the optimized scan must read fewer files than exist
      val scannedFiles = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles.length
        }
      val totalFiles = MicroBlockIndex.listParquetFiles(mbPath).size
      assert(scannedFiles.exists(_ < totalFiles),
        s"expected pruned scan < $totalFiles files, got $scannedFiles")
    } finally ZoneMapPruneRule.unregister(mbPath)
  }

  test("saved sidecar index auto-registers: a fresh session prunes with no engine and no register call") {
    val mbPath = "target/scratch/test/ext-sidecar"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), mbPath, "l_shipdate", 8)
    val built = MicroBlockIndex.build(spark, mbPath, "lineitem")
    MicroBlockIndex.saveSidecar(built, mbPath)
    val totalFiles = MicroBlockIndex.listParquetFiles(mbPath).size
    val expected = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= "2000-01-01 00:00:00").count()
    // the sidecar (underscore dir) must be invisible to the data scan
    assert(spark.read.parquet(mbPath).columns.sorted.toSeq ==
      Tables.load(spark, dir, "lineitem").columns.sorted.toSeq,
      "sidecar files leaked into the table scan")
    val fresh = spark.newSession()
    try {
      // deployment path: brand-new session, NO GraftEngine constructed,
      // NO ZoneMapPruneRule.register call — plain SQL over the table
      val viaSql = fresh.sql(
        s"SELECT count(*) AS n FROM parquet.`$mbPath` " +
          "WHERE l_shipdate >= '2000-01-01 00:00:00'")
        .collect().head.getLong(0)
      assert(viaSql == expected, s"sidecar-pruned SQL answer $viaSql != $expected")
      val df = fresh.read.parquet(mbPath)
        .filter(col("l_shipdate") >= "2000-01-01 00:00:00")
      assert(df.count() == expected)
      val scanned = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles.length
        }
      assert(scanned.exists(_ < totalFiles),
        s"fresh session did not discover the sidecar: scanned $scanned of $totalFiles")
      // the discovered cut must MATCH the explicit-registration cut
      ZoneMapPruneRule.register(mbPath,
        MicroBlockIndex.build(spark, mbPath, "lineitem").collect().toSeq)
      val viaRegistered = spark.read.parquet(mbPath)
        .filter(col("l_shipdate") >= "2000-01-01 00:00:00")
        .queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles.length
        }
      assert(scanned == viaRegistered,
        s"sidecar cut $scanned != explicit-register cut $viaRegistered")
    } finally ZoneMapPruneRule.unregister(mbPath)

    // STALENESS guard: data newer than the sidecar → discovery refuses
    // (a rewritten-in-place file could otherwise be skipped wrongly)
    val dataFile = ZoneMapPruneRule.normFile(
      MicroBlockIndex.listParquetFiles(mbPath).head)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dataFile),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val fresh2 = spark.newSession()
    val scannedStale = fresh2.read.parquet(mbPath)
      .filter(col("l_shipdate") >= "2000-01-01 00:00:00")
      .queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }
    assert(scannedStale.contains(totalFiles),
      s"stale sidecar was trusted: scanned $scannedStale of $totalFiles")
  }

  test("dictionary cut fires transparently for = / IN on a hash-bucketed table") {
    import graft.sources.DictionaryIndex
    val out = "target/scratch/test/ext-dict"
    Tables.load(spark, dir, "lineitem")
      .repartition(8, col("l_suppkey")).write.mode("overwrite").parquet(out)
    val totalFiles = MicroBlockIndex.listParquetFiles(out).size
    val expected = Tables.load(spark, dir, "lineitem")
      .filter(col("l_suppkey") === 3).count()
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.getOrElse(-1)
    }
    val dictIdx = DictionaryIndex.build(spark, out, "lineitem", Seq("l_suppkey"))
    ZoneMapPruneRule.registerDict(out, dictIdx.toDF())
    try {
      // equality: plain DataFrame filter — no engine, no explicit scan list
      val eq = spark.read.parquet(out).filter(col("l_suppkey") === 3)
      assert(eq.count() == expected)
      val eqScanned = scannedFiles(
        spark.read.parquet(out).filter(col("l_suppkey") === 3))
      assert(eqScanned < totalFiles && eqScanned >= 1,
        s"dictionary cut did not fire: scanned $eqScanned of $totalFiles")
      // IN list through plain SQL
      val inExpected = Tables.load(spark, dir, "lineitem")
        .filter(col("l_suppkey").isin(3, 4)).count()
      val inDf = spark.sql(
        s"SELECT count(*) AS n FROM parquet.`$out` WHERE l_suppkey IN (3, 4)")
      assert(inDf.collect().head.getLong(0) == inExpected)
      // OR of equalities on ONE column is the IN spelling users also
      // write — it must refute identically (eqLeaves orEq fold)
      val inScanned = scannedFiles(
        spark.read.parquet(out).filter(col("l_suppkey").isin(3, 4)))
      val orScanned = scannedFiles(spark.read.parquet(out)
        .filter(col("l_suppkey") === 3 || col("l_suppkey") === 4))
      assert(orScanned == inScanned && orScanned < totalFiles,
        s"OR spelling scanned $orScanned files, IN spelling $inScanned")
      assert(spark.read.parquet(out)
        .filter(col("l_suppkey") === 3 || col("l_suppkey") === 4)
        .count() == inExpected)
      // ...but a mixed-column OR must NOT cut through the value sets
      // (refuting it needs a cross-column intersection eqLeaves does
      // not claim) — correctness first: the answer stays exact
      val mixed = spark.read.parquet(out)
        .filter(col("l_suppkey") === 3 || col("l_partkey") === 1)
      val mixedExpected = Tables.load(spark, dir, "lineitem")
        .filter(col("l_suppkey") === 3 || col("l_partkey") === 1).count()
      assert(mixed.count() == mixedExpected)
      // conjunction with a non-dict-refutable leaf: the = conjunct
      // still cuts, the full filter still applies row-level
      val conj = spark.read.parquet(out)
        .filter(col("l_suppkey") === 3 && col("l_quantity") > 25)
      val conjExpected = Tables.load(spark, dir, "lineitem")
        .filter(col("l_suppkey") === 3 && col("l_quantity") > 25).count()
      assert(conj.count() == conjExpected)
      assert(scannedFiles(spark.read.parquet(out)
        .filter(col("l_suppkey") === 3 && col("l_quantity") > 25)) == eqScanned)
      // absent key: every file refuted, zero rows, never an error
      assert(spark.read.parquet(out).filter(col("l_suppkey") === 987654).count() == 0L)
    } finally ZoneMapPruneRule.unregisterDict(out)

    // fresh session discovers the _graft_dict sidecar with no register
    DictionaryIndex.saveSidecar(dictIdx, out)
    val fresh = spark.newSession()
    val viaSidecar = fresh.read.parquet(out).filter(col("l_suppkey") === 3)
    assert(viaSidecar.count() == expected)
    assert(scannedFiles(
      fresh.read.parquet(out).filter(col("l_suppkey") === 3)) < totalFiles,
      "fresh session did not discover the _graft_dict sidecar")
  }

  test("bloom cut fires transparently for opted-in roots") {
    import graft.sources.BloomPruning
    val out = "target/scratch/test/ext-bloom"
    Tables.load(spark, dir, "lineitem")
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite")
      .option("parquet.enable.dictionary#l_orderkey", "false")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_orderkey", "2048")
      .parquet(out)
    val totalFiles = MicroBlockIndex.listParquetFiles(out).size
    val key = Tables.load(spark, dir, "lineitem")
      .agg(min(col("l_orderkey"))).first.getLong(0)
    val expected = Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") === key).count()
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.getOrElse(-1)
    }
    // NOT registered: the rule must not touch the relation
    assert(scannedFiles(
      spark.read.parquet(out).filter(col("l_orderkey") === key)) == totalFiles)
    ZoneMapPruneRule.registerBloom(out)
    try {
      val df = spark.read.parquet(out).filter(col("l_orderkey") === key)
      assert(df.count() == expected && expected > 0)
      val scanned = scannedFiles(
        spark.read.parquet(out).filter(col("l_orderkey") === key))
      // bloom skip list must match the explicit API's decision
      val apiKept = totalFiles - BloomPruning.skippedFilesEq(
        spark, out, "l_orderkey", Seq(graft.plans.PredValue(key))).size
      assert(scanned == apiKept && scanned < totalFiles,
        s"transparent bloom cut scanned $scanned, API kept $apiKept of $totalFiles")
    } finally ZoneMapPruneRule.unregisterBloom(out)
    // unregistered again: back to the full listing
    assert(scannedFiles(
      spark.read.parquet(out).filter(col("l_orderkey") === key)) == totalFiles)
  }

  test("_graft_bloom marker: any session discovers the bloom cut with no register call") {
    import graft.sources.BloomPruning
    val out = "target/scratch/test/ext-bloom-marker"
    val li = Tables.load(spark, dir, "lineitem")
    li.repartition(8, col("l_orderkey"))
      .write.mode("overwrite")
      .option("parquet.enable.dictionary#l_orderkey", "false")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_orderkey", "2048")
      .parquet(out)
    BloomPruning.writeMarker(out, Seq("l_orderkey"))
    assert(BloomPruning.markerColumns(spark, out).contains(Seq("l_orderkey")))
    // the marker (underscore file) must be invisible to the data scan
    assert(spark.read.parquet(out).columns.sorted.toSeq == li.columns.sorted.toSeq,
      "marker file leaked into the table scan")
    val totalFiles = MicroBlockIndex.listParquetFiles(out).size
    val key = li.agg(min(col("l_orderkey"))).first.getLong(0)
    val expected = li.filter(col("l_orderkey") === key).count()
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.getOrElse(-1)
    }
    // fresh session, NO registerBloom call: marker discovery alone
    val fresh = spark.newSession()
    val df = fresh.read.parquet(out).filter(col("l_orderkey") === key)
    assert(df.count() == expected && expected > 0)
    val scanned = scannedFiles(
      fresh.read.parquet(out).filter(col("l_orderkey") === key))
    val apiKept = totalFiles - BloomPruning.skippedFilesEq(
      spark, out, "l_orderkey", Seq(graft.plans.PredValue(key))).size
    assert(scanned == apiKept && scanned < totalFiles,
      s"marker-discovered cut scanned $scanned, API kept $apiKept of $totalFiles")
    // the discovered probe set is RESTRICTED to the marker's columns —
    // equality leaves on other columns never pay the metadata job
    assert(ZoneMapPruneRule.bloomColumnsFor(out, fresh)
      .contains(Set("l_orderkey")))
    // a markerless sibling table is never probed
    val plain = "target/scratch/test/ext-bloom-nomarker"
    li.limit(100).write.mode("overwrite").parquet(plain)
    assert(ZoneMapPruneRule.bloomColumnsFor(plain, fresh).isEmpty)
  }

  test("_graft_bloom marker written after a query takes effect in the same session") {
    import graft.sources.BloomPruning
    val out = "target/scratch/test/ext-bloom-late-marker"
    val li = Tables.load(spark, dir, "lineitem")
    li.repartition(8, col("l_orderkey"))
      .write.mode("overwrite")
      .option("parquet.enable.dictionary#l_orderkey", "false")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#l_orderkey", "2048")
      .parquet(out)
    val totalFiles = MicroBlockIndex.listParquetFiles(out).size
    val key = li.agg(min(col("l_orderkey"))).first.getLong(0)
    val expected = li.filter(col("l_orderkey") === key).count()
    def scanned(): Int = {
      val df = spark.read.parquet(out).filter(col("l_orderkey") === key)
      assert(df.count() == expected && expected > 0)
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.getOrElse(-1)
    }
    // no marker yet: this session sees the table unmarked
    assert(scanned() == totalFiles)
    BloomPruning.writeMarker(out, Seq("l_orderkey"))
    val apiKept = totalFiles - BloomPruning.skippedFilesEq(
      spark, out, "l_orderkey", Seq(graft.plans.PredValue(key))).size
    assert(apiKept < totalFiles, s"the blooms cut nothing: $apiKept of $totalFiles")
    assert(scanned() == apiKept, "a marker written after a query must cut in the same session")
    // a rewritten column list takes effect in the same session too
    BloomPruning.writeMarker(out, Seq("l_partkey"))
    assert(ZoneMapPruneRule.bloomColumnsFor(out, spark).contains(Set("l_partkey")))
    assert(scanned() == totalFiles, "a column no longer marked must not be probed")
    BloomPruning.writeMarker(out, Seq("l_partkey", "l_orderkey"))
    assert(scanned() == apiKept)
  }

  test("rule keeps files where only SOME row groups match (multi-rowgroup files)") {
    import org.apache.spark.sql.functions.col
    // 2 files, many small row groups each: per-file decisions differ
    // across row groups inside one file
    val path = "target/scratch/test/ext-multirg"
    Tables.load(spark, dir, "lineitem")
      .repartitionByRange(2, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite")
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(path)
    val stats = MicroBlockIndex.build(spark, path, "lineitem").collect().toSeq
    val rgPerFile = stats.map(_.file).distinct.size
    assert(stats.map(_.blockId).distinct.size > rgPerFile, "need >1 row group per file")
    ZoneMapPruneRule.register(path, stats)
    try {
      val pred = col("l_shipdate") >= "1998-06-01 00:00:00"
      val got = spark.read.parquet(path).filter(pred).count()
      val expected = Tables.load(spark, dir, "lineitem").filter(pred).count()
      assert(got == expected && expected > 0,
        s"rows lost from partially-matching files: $got vs $expected")
    } finally ZoneMapPruneRule.unregister(path)
  }

  test("multi-root scans prune from the union of indices; partial registration stays correct") {
    val pathA = "target/scratch/test/ext-multiroot-a"
    val pathB = "target/scratch/test/ext-multiroot-b"
    val li = Tables.load(spark, dir, "lineitem")
    MicroBlockWriter.write(li.filter(col("l_orderkey") % 2 === 0), pathA, "l_shipdate", 4)
    MicroBlockWriter.write(li.filter(col("l_orderkey") % 2 === 1), pathB, "l_shipdate", 4)
    val statsA = MicroBlockIndex.build(spark, pathA, "lineitem").collect().toSeq
    val statsB = MicroBlockIndex.build(spark, pathB, "lineitem").collect().toSeq
    val pred = col("l_shipdate") >= "2000-01-01 00:00:00"
    val expected = li.filter(pred).count()
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.get
    val totalFiles = MicroBlockIndex.listParquetFiles(pathA).size +
      MicroBlockIndex.listParquetFiles(pathB).size
    // both roots registered: prunes across both; values intact
    ZoneMapPruneRule.register(pathA, statsA)
    ZoneMapPruneRule.register(pathB, statsB)
    try {
      val both = spark.read.parquet(pathA, pathB).filter(pred)
      assert(both.count() == expected && expected > 0)
      assert(scannedFiles(both) < totalFiles)
      // partial registration: only A's files may be skipped, B's all kept
      ZoneMapPruneRule.unregister(pathB)
      val partial = spark.read.parquet(pathA, pathB).filter(pred)
      assert(partial.count() == expected)
      assert(scannedFiles(partial) >= MicroBlockIndex.listParquetFiles(pathB).size)
    } finally { ZoneMapPruneRule.unregister(pathA); ZoneMapPruneRule.unregister(pathB) }
  }

  test("parquet still analyzes as v1 LogicalRelation(HadoopFsRelation) — the rule's match arm") {
    // ZoneMapPruneRule pattern-matches the v1 datasource plan shape
    // (ZoneMapPruneRule.scala `case Filter(_, LogicalRelation(hfs: ...`).
    // If a Spark upgrade or a spark.sql.sources.useV1SourceList change
    // ever plans parquet as DataSourceV2Relation instead, transparent
    // pruning would silently stop firing — this test turns that silent
    // disable into a loud failure (fix: add a DataSourceV2Relation arm).
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = spark.read.parquet(s"$dir/nation.parquet")
      .filter(col("n_nationkey") > 0).queryExecution.analyzed
    val v1Scans = plan.collect {
      case LogicalRelation(_: HadoopFsRelation, _, _, _, _) => 1
    }
    assert(v1Scans.nonEmpty,
      "parquet no longer plans as LogicalRelation(HadoopFsRelation): " +
        "ZoneMapPruneRule's match arm is dead — add a DSv2 arm")
  }

  test("top-k rule: ORDER BY + LIMIT over a registered table reads only the stats-proven files") {
    val mbPath = "target/scratch/test/ext-topk"
    MicroBlockWriter.write(Tables.load(spark, dir, "lineitem"), mbPath, "l_shipdate", 8)
    val stats = MicroBlockIndex.build(spark, mbPath, "lineitem").collect().toSeq
    ZoneMapPruneRule.register(mbPath, stats)
    try {
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.inputFiles.length
        }.get
      val totalFiles = MicroBlockIndex.listParquetFiles(mbPath).size
      val raw = Tables.load(spark, dir, "lineitem")

      // the q9 shape through PLAIN spark.sql — the engine-path serve
      // (mb_topk's stats-only cut) now fires transparently
      spark.read.parquet(mbPath).createOrReplaceTempView("ext_topk_li")
      val sql =
        """SELECT l_orderkey, l_linenumber, l_shipdate FROM ext_topk_li
          |ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 12""".stripMargin
      val viaRule = spark.sql(sql)
      val expected = raw
        .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(12).select("l_orderkey", "l_linenumber", "l_shipdate").collect()
      assert(viaRule.collect().toSeq == expected.toSeq, "top-k rows must be identical")
      // the cut must match the engine path's stats-only block selection
      val built = MicroBlockIndex.build(spark, mbPath, "lineitem").toDF()
      val skip = graft.plans.ZoneSnapshot.topKSkippedFiles(spark,
        Seq(new graft.plans.ZoneSnapshot(_ => built)), "l_shipdate", 12,
        ascending = false, nullsFirst = false)
      assert(skip.nonEmpty, "clustered layout must prove a cut for k=12")
      assert(scannedFiles(viaRule) == totalFiles - skip.size,
        s"expected ${totalFiles - skip.size} files, scanned ${scannedFiles(viaRule)}")
      assert(scannedFiles(viaRule) < totalFiles)

      // ASC via the DataFrame API (no SQL view needed for the rule)
      val asc = spark.read.parquet(mbPath)
        .orderBy(col("l_shipdate").asc, col("l_orderkey"), col("l_linenumber"))
        .limit(7)
      val ascExpected = raw
        .orderBy(col("l_shipdate").asc, col("l_orderkey"), col("l_linenumber"))
        .limit(7).collect()
      assert(asc.collect().toSeq == ascExpected.toSeq)
      assert(scannedFiles(asc) < totalFiles)

      // NULLS FIRST: null rows ARE the top — the cut must keep every
      // null-holding block; on this null-free layout it simply stays
      // correct (the conservative arm is exercised by the statless
      // branch of topKSkippedFiles)
      val nf = spark.read.parquet(mbPath)
        .orderBy(col("l_shipdate").desc_nulls_first, col("l_orderkey"), col("l_linenumber"))
        .limit(5)
      val nfExpected = raw
        .orderBy(col("l_shipdate").desc_nulls_first, col("l_orderkey"), col("l_linenumber"))
        .limit(5).collect()
      assert(nf.collect().toSeq == nfExpected.toSeq)

      // a Filter below the Sort disqualifies the top-k rewrite (the
      // filtered top-k can live in blocks the unfiltered cut skips);
      // the Filter arm of the rule still prunes, and rows stay right
      val filtered = spark.read.parquet(mbPath)
        .filter(col("l_quantity") <= 3)
        .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(5)
      val filteredExpected = raw.filter(col("l_quantity") <= 3)
        .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(5).collect()
      assert(filtered.collect().toSeq == filteredExpected.toSeq)

      // unclustered sort column: stats straddle, no cut, full correctness
      val unclustered = spark.read.parquet(mbPath)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(5)
      val unclusteredExpected = raw
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(5).collect()
      assert(unclustered.collect().toSeq == unclusteredExpected.toSeq)
    } finally ZoneMapPruneRule.unregister(mbPath)
  }

  test("rule is a no-op for unregistered tables and prune-everything predicates") {
    val raw = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 0)
    assert(raw.count() > 0)
    val mbPath = "target/scratch/test/ext-microblocks"
    val stats = MicroBlockIndex.build(spark, mbPath, "lineitem").collect().toSeq
    ZoneMapPruneRule.register(mbPath, stats)
    try {
      // predicate matching nothing: conservative fallback keeps scan valid
      val none = spark.read.parquet(mbPath).filter(col("l_quantity") > 1e9)
      assert(none.count() == 0)
    } finally ZoneMapPruneRule.unregister(mbPath)
  }

  test("an unmarked table costs exactly ONE filesystem probe for all four sidecar layers") {
    // round 10: _graft_index, _graft_dict, _graft_bloom, _graft_views
    // each paid its own negative per-session probe on the planning hot
    // path; the shared SidecarManifest answers all of them from one
    // listStatus. The session is FRESH so no memo already covers the
    // root; the queries below exercise every discovery consumer:
    // Filter (index + dict + bloom probes) and Aggregate (views probe).
    val out = "target/scratch/test/ext-manifest/unmarked"
    Tables.load(spark, dir, "lineitem").limit(2000)
      .repartition(2).write.mode("overwrite").parquet(out)
    val fresh = spark.newSession()
    graft.sources.SidecarManifest.invalidateAll()
    val before = graft.sources.SidecarManifest.probeCount.get()
    fresh.read.parquet(out).filter(col("l_suppkey") === 3).count()
    fresh.read.parquet(out).filter(col("l_quantity") > 30).count()
    fresh.read.parquet(out).createOrReplaceTempView("ext_manifest_t")
    fresh.sql("SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS nd " +
      "FROM ext_manifest_t GROUP BY l_returnflag").count()
    val probes = graft.sources.SidecarManifest.probeCount.get() - before
    assert(probes == 1L,
      s"unmarked table must cost ONE manifest probe, saw $probes")

    // a marker written later invalidates the memo and is discovered
    val view = "target/scratch/test/ext-manifest/view"
    graft.sources.AggView.build(fresh, out, view, Seq("l_returnflag"), "l_suppkey")
    graft.sources.AggView.writeMarker(out, Seq(view))
    val served = fresh.sql("SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS nd " +
      "FROM ext_manifest_t GROUP BY l_returnflag")
    val needle = new java.io.File(view).getAbsolutePath
    assert(served.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.exists(_.toString.contains(needle))
    }.exists(identity), "post-invalidate marker discovery must serve the view")
  }

  test("manifest probe: absent root memoizes, transient failure re-probes under session conf") {
    // the round-12 ADVICE item: probe used `new Configuration()` (no
    // per-session filesystem config) and memoized EMPTY on ANY
    // exception — one transient error silently disabled all four
    // sidecar discovery layers for the whole session. Now: the probe
    // runs under the SESSION Hadoop conf (the graftfail:// scheme
    // below is only registered there), FileNotFound stays a stable
    // memoized answer, and any other failure is NOT memoized.
    graft.sources.SidecarManifest.invalidateAll()
    val pc = graft.sources.SidecarManifest.probeCount
    val before = pc.get()
    val missing = "target/scratch/test/ext-manifest/no-such-root-xyz"
    assert(graft.sources.SidecarManifest.probe(missing, spark).isEmpty)
    assert(graft.sources.SidecarManifest.probe(missing, spark).isEmpty)
    assert(pc.get() - before == 1L,
      "a nonexistent root is a stable answer - memoized")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfail.impl", classOf[GraftFailingFs].getName)
    try {
      val bad = "graftfail:///tbl"
      assert(graft.sources.SidecarManifest.probe(bad, spark).isEmpty)
      assert(graft.sources.SidecarManifest.probe(bad, spark).isEmpty)
      assert(pc.get() - before == 3L,
        "a FAILED probe must re-probe next query, never memoize EMPTY")
    } finally spark.sparkContext.hadoopConfiguration.unset("fs.graftfail.impl")
  }
}

/** A filesystem whose listings always fail — the transient-error probe
  * fixture. Instantiated by Hadoop reflection via the SESSION conf's
  * `fs.graftfail.impl`, which also pins that the manifest probe honors
  * per-session filesystem configuration. */
class GraftFailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfail"
  override def getUri: java.net.URI = java.net.URI.create("graftfail:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    throw new java.io.IOException("transient listing failure (test)")
}
