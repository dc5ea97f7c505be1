package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.GraftSession
import graft.sources.DictionaryIndex

/** Transparent dictionary-page COUNT(DISTINCT) (plans/DictDistinctRule):
  * plain `spark.sql` global count-distincts over a table with a CURRENT
  * `_graft_dict` sidecar serve from dictionary value sets instead of a
  * data scan. The contract under test:
  *
  *   - recognized shapes REWRITE (the optimized plan reads the sidecar
  *     path) and match the full-scan answers exactly, covered and
  *     PLAIN-fallback columns alike;
  *   - the soundness gate refuses a sidecar whose file set no longer
  *     equals the live listing (append ⇒ no rewrite until
  *     DictionaryIndex.refresh + save), and refuses filters, grouping,
  *     mixed aggregates, and unindexed columns outright;
  *   - discovery is sidecar-presence only — a FRESH session serves
  *     with no register call.
  */
class DictDistinctRuleSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession.local(
    cores = 8, appName = "graft-dictrule-test")
  private val dir = "/root/testdata/sf0.01"

  private def scratch(tag: String) = s"target/scratch/test/dictrule/$tag"

  private lazy val li = graft.engine.Tables.load(spark, dir, "lineitem")

  /** Does the optimized plan read the sidecar? The scan may appear as
    * a LogicalRelation OR as an InMemoryRelation substituted by Spark's
    * SparkContext-GLOBAL cache manager — the zone-map rule's own
    * sidecar discovery persists the frame, so another session's
    * identical sidecar scan cache-hits; a cached sidecar read is still
    * a dictionary serve, just warmer. Both forms are matched on root
    * paths ([[graft.sources.SidecarManifest.readIn]]), because a plan
    * string abbreviates long scan locations. */
  private def scansDict(df: DataFrame): Boolean =
    graft.sources.SidecarManifest.readIn(
      df.queryExecution.optimizedPlan, graft.sources.SidecarManifest.Dict)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** 4-file dict-encoded table + saved sidecar over the key columns. */
  private lazy val fixture: String = {
    val out = scratch("base")
    li.limit(8000).repartition(4, col("l_suppkey"))
      .write.mode("overwrite").parquet(out)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, out, "li",
        Seq("l_suppkey", "l_returnflag", "l_orderkey")), out)
    out
  }

  test("global COUNT(DISTINCT) serves from the sidecar and stays exact") {
    val base = fixture
    spark.read.parquet(base).createOrReplaceTempView("dr_t")
    val served = spark.sql(
      "SELECT COUNT(DISTINCT l_suppkey) AS a, COUNT(DISTINCT l_returnflag) AS b FROM dr_t")
    assert(scansDict(served), "the rewrite must read the sidecar")
    val truth = spark.read.parquet(base)
      .agg(countDistinct(col("l_suppkey")).as("a"),
        countDistinct(col("l_returnflag")).as("b"))
    assert(rows(served) == rows(truth))
    // single column too
    val one = spark.sql("SELECT COUNT(DISTINCT l_suppkey) AS n FROM dr_t")
    assert(scansDict(one))
    assert(rows(one) == rows(spark.read.parquet(base)
      .agg(countDistinct(col("l_suppkey")).as("n"))))
    // l_orderkey overflows the writer's dictionary threshold (every
    // chunk PLAIN ⇒ nothing covered): the rewrite degrades to exactly
    // the scan plan — correct, just not metadata-served
    val uncov = spark.sql("SELECT COUNT(DISTINCT l_orderkey) AS n FROM dr_t")
    assert(rows(uncov) == rows(spark.read.parquet(base)
      .agg(countDistinct(col("l_orderkey")).as("n"))))
  }

  test("measured benefit gate: a calibrated can't-repay root refuses the serve; values unchanged") {
    val base = fixture
    val root = new java.io.File(base).getAbsolutePath
    spark.read.parquet(base).createOrReplaceTempView("dr_cost")
    val q = "SELECT COUNT(DISTINCT l_suppkey) AS n FROM dr_cost"
    try {
      assert(scansDict(spark.sql(q)), "uncalibrated root must keep serving")
      val truth = spark.sql(q).first.getLong(0)
      graft.sources.CostRouter.seed(root, decSec = 10.0,
        calSec = 11.0, calBytes = 1L << 30)
      val gated = spark.sql(q)
      assert(!scansDict(gated), "the gated serve must fall back to the scan")
      assert(gated.first.getLong(0) == truth)
      graft.sources.CostRouter.seed(root, decSec = 1e-4,
        calSec = 11.0, calBytes = 1024L)
      assert(scansDict(spark.sql(q)), "a worthwhile decision serves again")
    } finally graft.sources.CostRouter.reset()
  }

  test("unsafe shapes refuse: filters, grouping, mixed aggregates, unindexed columns") {
    val base = fixture
    spark.read.parquet(base).createOrReplaceTempView("dr_t2")
    val filtered = spark.sql(
      "SELECT COUNT(DISTINCT l_suppkey) AS n FROM dr_t2 WHERE l_quantity > 25")
    assert(!scansDict(filtered))
    assert(rows(filtered) == rows(spark.read.parquet(base)
      .filter(col("l_quantity") > 25)
      .agg(countDistinct(col("l_suppkey")).as("n"))))
    val grouped = spark.sql(
      "SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n FROM dr_t2 GROUP BY l_returnflag")
    assert(!scansDict(grouped))
    val mixedAgg = spark.sql(
      "SELECT COUNT(DISTINCT l_suppkey) AS n, COUNT(*) AS c FROM dr_t2")
    assert(!scansDict(mixedAgg))
    // l_quantity has no sidecar rows — the whole query refuses
    val unindexed = spark.sql(
      "SELECT COUNT(DISTINCT l_suppkey) AS a, COUNT(DISTINCT l_quantity) AS b FROM dr_t2")
    assert(!scansDict(unindexed))
    assert(rows(unindexed) == rows(spark.read.parquet(base)
      .agg(countDistinct(col("l_suppkey")).as("a"),
        countDistinct(col("l_quantity")).as("b"))))
  }

  test("an appended file refuses the serve until the sidecar refreshes") {
    val base = scratch("stale")
    li.limit(5000).repartition(2, col("l_suppkey"))
      .write.mode("overwrite").parquet(base)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li", Seq("l_suppkey")), base)
    val q = "SELECT COUNT(DISTINCT l_suppkey) AS n FROM dr_stale"
    spark.read.parquet(base).createOrReplaceTempView("dr_stale")
    assert(scansDict(spark.sql(q)), "current sidecar must serve")

    li.limit(7000).repartition(1).write.mode("append").parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("dr_stale")
    val stale = spark.sql(q)
    assert(!scansDict(stale),
      "a sidecar missing the appended file would UNDERCOUNT — must refuse")
    val truth = spark.read.parquet(base)
      .agg(countDistinct(col("l_suppkey")).as("n"))
    assert(rows(stale) == rows(truth), "the refused plan scans the live base")

    // delta refresh (new files' pages only) + save ⇒ serves again.
    // The collect round-trip breaks the read-lineage so the overwrite
    // of the sidecar path it was loaded from is legal (test-scale; a
    // production refresh writes a new sidecar generation or saves
    // from the in-memory engine index, which has no disk lineage).
    val idx = DictionaryIndex.load(spark, DictionaryIndex.sidecarPath(base))
    val refreshed = DictionaryIndex.refresh(spark, base, "li", idx)
    DictionaryIndex.saveSidecar(
      spark.createDataset(refreshed.collect().toSeq)(
        org.apache.spark.sql.Encoders.product[graft.sources.FileDict]), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_stale")
    val fresh = spark.sql(q)
    assert(scansDict(fresh), "refreshed sidecar must serve again")
    assert(rows(fresh) == rows(truth))
  }

  test("a base file rewritten in place under the same name refuses until the sidecar rebuilds") {
    // the round-12 ADVICE item: the gate was file-NAME-set equality
    // only, so a file rewritten under the same name passed it and the
    // serve used the dead file's dictionary value set. The sidecar now
    // records per-file (mtime, size) — the AggView v3 discipline.
    val base = scratch("inplace")
    li.limit(4000).repartition(2, col("l_suppkey"))
      .write.mode("overwrite").parquet(base)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li", Seq("l_returnflag")), base)
    val q = "SELECT COUNT(DISTINCT l_returnflag) AS n FROM dr_ip"
    spark.read.parquet(base).createOrReplaceTempView("dr_ip")
    assert(scansDict(spark.sql(q)), "current sidecar must serve")

    // same file NAME, different bytes: shrink one file to a single
    // returnflag value — the stale value set would OVERCOUNT
    val victim = graft.plans.ZoneMapPruneRule.normFile(
      graft.sources.MicroBlockIndex.listParquetFiles(base).head)
    val tmp = scratch("inplace-tmp")
    spark.read.parquet(victim).filter(col("l_returnflag") === "N").limit(20)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpFile = graft.plans.ZoneMapPruneRule.normFile(
      graft.sources.MicroBlockIndex.listParquetFiles(tmp).head)
    java.nio.file.Files.copy(java.nio.file.Paths.get(tmpFile),
      java.nio.file.Paths.get(victim),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(victim)
      .getParent.resolve("." + java.nio.file.Paths.get(victim)
        .getFileName.toString + ".crc"))

    spark.read.parquet(base).createOrReplaceTempView("dr_ip")
    val stale = spark.sql(q)
    assert(!scansDict(stale),
      "a same-name rewrite must fail the (mtime, size) sidecar gate")
    assert(rows(stale) == rows(spark.read.parquet(base)
      .agg(countDistinct(col("l_returnflag")).as("n"))),
      "the refused plan scans the live base")

    // rebuild + save ⇒ serves again with the new stats recorded
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li", Seq("l_returnflag")), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_ip")
    val fresh = spark.sql(q)
    assert(scansDict(fresh), "rebuilt sidecar must serve again")
    assert(rows(fresh) == rows(spark.read.parquet(base)
      .agg(countDistinct(col("l_returnflag")).as("n"))))
  }

  test("hive-partitioned layouts serve transparently; a one-partition append refuses until refresh") {
    // round-12 gap #1: the top-level-only listing recorded EMPTY
    // coverage for nested col=value layouts, so the freshness gate
    // refused every serve on the layout every real fact table uses.
    val out = scratch("partitioned")
    val orders = graft.engine.Tables.load(spark, dir, "orders")
    graft.sources.MicroBlockWriter.writePartitioned(
      orders.limit(6000), out, "o_orderstatus", "o_orderkey", 2)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, out, "ord", Seq("o_orderpriority")), out)
    val q = "SELECT COUNT(DISTINCT o_orderpriority) AS n FROM dr_part"
    spark.read.parquet(out).createOrReplaceTempView("dr_part")
    val served = spark.sql(q)
    assert(scansDict(served),
      "a current sidecar over a partitioned layout must serve")
    def truth = spark.read.parquet(out)
      .agg(countDistinct(col("o_orderpriority")).as("n"))
    assert(rows(served) == rows(truth))

    // append into ONE partition: the nested new file must be SEEN —
    // an invisible file would keep serving a stale (under-counting)
    // sidecar instead of refusing
    orders.filter(col("o_orderstatus") === "F").limit(200)
      .write.mode("append").partitionBy("o_orderstatus").parquet(out)
    spark.read.parquet(out).createOrReplaceTempView("dr_part")
    val stale = spark.sql(q)
    assert(!scansDict(stale), "the appended nested file must refuse the serve")
    assert(rows(stale) == rows(truth))

    // delta refresh indexes only the new nested file; serves again
    val idx = DictionaryIndex.load(spark, DictionaryIndex.sidecarPath(out))
    val before = idx.count()
    val refreshed = DictionaryIndex.refresh(spark, out, "ord", idx)
    assert(refreshed.count() > before, "refresh must index the nested file")
    DictionaryIndex.saveSidecar(
      spark.createDataset(refreshed.collect().toSeq)(
        org.apache.spark.sql.Encoders.product[graft.sources.FileDict]), out)
    spark.read.parquet(out).createOrReplaceTempView("dr_part")
    val fresh = spark.sql(q)
    assert(scansDict(fresh), "refreshed sidecar must serve the partitioned layout")
    assert(rows(fresh) == rows(truth))
  }

  test("SELECT DISTINCT col serves from the sidecar, null-aware") {
    val base = fixture
    spark.read.parquet(base).createOrReplaceTempView("dr_d")
    // no nulls in the fixture: the serve is the bare value set
    val served = spark.sql("SELECT DISTINCT l_returnflag FROM dr_d")
    assert(scansDict(served), "DISTINCT over a covered column must serve")
    val truth = spark.read.parquet(base).select("l_returnflag").distinct()
    assert(served.schema.head.dataType == truth.schema.head.dataType)
    assert(rows(served) == rows(truth))

    // a table that PROVABLY holds nulls: the serve unions the NULL
    // row plain SQL returns (dictionaries hold none)
    import spark.implicits._
    val nbase = scratch("distinct-nulls")
    Seq(Option("a"), Option("b"), None, Option("a"), None, Option("c"))
      .toDF("s").coalesce(1).write.mode("overwrite").parquet(nbase)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, nbase, "t", Seq("s")), nbase)
    spark.read.parquet(nbase).createOrReplaceTempView("dr_dn")
    val servedN = spark.sql("SELECT DISTINCT s FROM dr_dn")
    assert(scansDict(servedN))
    assert(servedN.collect().map(r => Option(r.getString(0))).toSet ==
      Set(Some("a"), Some("b"), Some("c"), None),
      "the NULL row must be served from footer stats")
    assert(servedN.count() == 4)

    // GROUP BY col with col as the only output is the same shape
    val grouped = spark.sql("SELECT l_returnflag FROM dr_d GROUP BY l_returnflag")
    assert(scansDict(grouped))
    assert(rows(grouped) == rows(truth))

    // a timestamp DISTINCT stays on the SQL path (cast from the raw
    // physical domain is not faithful) and stays exact
    val ts = spark.sql("SELECT DISTINCT l_shipdate FROM dr_d")
    assert(!scansDict(ts))
    assert(ts.count() ==
      spark.read.parquet(base).select("l_shipdate").distinct().count())
  }

  test("COUNT(DISTINCT ts) on a partially-covered timestamp refuses the serve and stays exact") {
    // the round-12 HIGH finding: tryCountDistinct lacked the
    // faithful() type gate its SELECT DISTINCT arm applies, so a
    // partially-covered MICROS timestamp column served a union of raw
    // micros (dictionary side) and cast-to-SECONDS longs (scan side) —
    // silently wrong counts. The covered file is written with
    // parquet-mr directly (Spark emits INT64 timestamps PLAIN).
    val out = scratch("ts-partial")
    val outP = java.nio.file.Paths.get(out)
    org.apache.commons.io.FileUtils.deleteDirectory(outP.toFile)
    java.nio.file.Files.createDirectories(outP)
    val base = 1704103200000000L // 2024-01-01 10:00:00 UTC in micros
    locally {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = Types.buildMessage()
        .optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS))
        .named("ts")
        .named("spark_schema")
      val writer = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$out/covered.parquet"))
        .withConf(new org.apache.hadoop.conf.Configuration())
        .withType(schema)
        .withDictionaryEncoding(true)
        .build()
      try {
        val f = new SimpleGroupFactory(schema)
        // repeated values: parquet-mr only emits a dictionary page
        // once the column holds enough values to bother
        (1 to 40).foreach(_ =>
          Seq(base, base + 1L, base + 3600L * 1000000L)
            .foreach(m => writer.write(f.newGroup().append("ts", m))))
      } finally writer.close()
    }
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      spark.range(1).select(
          explode(array(
            lit(base + 3600L * 1000000L), lit(base + 7200L * 1000000L),
            lit(base + 7200L * 1000000L + 1L))).as("us"))
        .select(timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("append").parquet(out)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val idx = DictionaryIndex.build(spark, out, "ts", Seq("ts"))
    assert(idx.collect().exists(_.covered),
      "fixture must hold a covered timestamp file")
    DictionaryIndex.saveSidecar(idx, out)
    spark.read.parquet(out).createOrReplaceTempView("dr_ts")
    val counted = spark.sql("SELECT COUNT(DISTINCT ts) AS n FROM dr_ts")
    assert(!scansDict(counted),
      "a non-faithful counted type must refuse the dictionary serve")
    assert(counted.first.getLong(0) == 5L,
      "5 distinct instants: base, base+1us, +1h, +2h, +2h+1us")
  }

  test("filtered COUNT(DISTINCT) serves when zone maps decide whole files; straddlers scan") {
    // round-13 verdict ask #7: COUNT(DISTINCT col) WHERE p over a
    // shipdate-CLUSTERED layout — most files are provably all-match
    // or all-miss for a shipdate range; the straddling minority (and
    // any all-true file without dictionary coverage) unions in as one
    // pruned scan with the original filter re-applied.
    val base = scratch("filtered")
    graft.sources.MicroBlockWriter.write(
      li.limit(20000), base, "l_shipdate", 8)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, base, "li"), base)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li",
        Seq("l_returnflag", "l_suppkey")), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_f")
    val q = "SELECT COUNT(DISTINCT l_returnflag) AS a, " +
      "COUNT(DISTINCT l_suppkey) AS b FROM dr_f " +
      "WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00'"
    val served = spark.sql(q)
    assert(scansDict(served),
      "a zone-decided filter must serve from the dictionary sidecar")
    val truth = spark.read.parquet(base)
      .filter(col("l_shipdate") >= "1997-06-15 00:00:00")
      .agg(countDistinct(col("l_returnflag")).as("a"),
        countDistinct(col("l_suppkey")).as("b"))
    assert(rows(served) == rows(truth),
      "hybrid dict+straddler-scan must equal the full filtered scan")

    // partial refusal: an UNCLUSTERED predicate straddles every file —
    // the scan side would be the whole table, so the serve refuses
    val refused = spark.sql("SELECT COUNT(DISTINCT l_returnflag) AS a " +
      "FROM dr_f WHERE l_quantity > 25")
    assert(!scansDict(refused),
      "an everywhere-straddling predicate must refuse")
    assert(rows(refused) == rows(spark.read.parquet(base)
      .filter(col("l_quantity") > 25)
      .agg(countDistinct(col("l_returnflag")).as("a"))))

    // completeness refusal: a condition with an unconvertible conjunct
    // must NOT serve (an all-rows proof over the weakened predicate
    // would claim rows the dropped conjunct rejects)
    val partial = spark.sql("SELECT COUNT(DISTINCT l_returnflag) AS a " +
      "FROM dr_f WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00' " +
      "AND l_quantity * 2 > 30")
    assert(!scansDict(partial),
      "an incompletely-convertible predicate must refuse")
    assert(rows(partial) == rows(spark.read.parquet(base)
      .filter(col("l_shipdate") >= "1997-06-15 00:00:00" &&
        col("l_quantity") * 2 > 30)
      .agg(countDistinct(col("l_returnflag")).as("a"))))
  }

  test("filtered SELECT DISTINCT serves when zone maps decide whole files") {
    // the round-13 carried item: the filtered serve's DISTINCT twin.
    // Same tri-state machinery as the count arm — all-match files
    // serve their dictionary value sets, straddlers scan with the
    // original filter re-applied.
    val base = scratch("filtered-distinct")
    graft.sources.MicroBlockWriter.write(
      li.limit(20000), base, "l_shipdate", 8)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, base, "li"), base)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li",
        Seq("l_returnflag", "l_suppkey")), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_fd")
    val q = "SELECT DISTINCT l_suppkey FROM dr_fd " +
      "WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00'"
    val served = spark.sql(q)
    assert(scansDict(served),
      "a zone-decided filter must serve DISTINCT from the dictionary sidecar")
    val truth = spark.read.parquet(base)
      .filter(col("l_shipdate") >= "1997-06-15 00:00:00")
      .select(col("l_suppkey")).distinct()
    assert(rows(served) == rows(truth),
      "hybrid dict+straddler-scan DISTINCT must equal the full filtered scan")

    // an everywhere-straddling predicate refuses (scan side = table)
    val refused = spark.sql(
      "SELECT DISTINCT l_returnflag FROM dr_fd WHERE l_quantity > 25")
    assert(!scansDict(refused))
    assert(rows(refused) == rows(spark.read.parquet(base)
      .filter(col("l_quantity") > 25)
      .select(col("l_returnflag")).distinct()))
  }

  test("filtered serves demand a zone index at least as new as the data") {
    // the code-review finding: the filtered arms took their all-match
    // proofs from the zone registry's session-lifetime discovery memo,
    // so a file rewritten in place AFTER the zone build (but with the
    // DICT sidecar refreshed — its own gates pass) could be falsely
    // proved all-true on dead stats. The arms now load the zone
    // sidecar keyed by its _SUCCESS mtime AND require no live file
    // newer than it.
    val base = scratch("zone-fresh")
    graft.sources.MicroBlockWriter.write(
      li.limit(8000), base, "l_shipdate", 4)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, base, "li"), base)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li", Seq("l_suppkey")), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_zf")
    val q = "SELECT COUNT(DISTINCT l_suppkey) AS n FROM dr_zf " +
      "WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00'"
    assert(scansDict(spark.sql(q)), "fresh zone + dict must serve")

    // touch one data file so it is NEWER than the zone index, and
    // refresh only the DICT sidecar — every dict gate passes, but the
    // zone index's all-match claims are now unverifiable
    val victim = graft.plans.ZoneMapPruneRule.normFile(
      graft.sources.MicroBlockIndex.listParquetFiles(base).head)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(victim),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li", Seq("l_suppkey")), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_zf")
    val stale = spark.sql(q)
    assert(!scansDict(stale),
      "a data file newer than the zone index must refuse the filtered serve")
    assert(rows(stale) == rows(spark.read.parquet(base)
      .filter(col("l_shipdate") >= "1997-06-15 00:00:00")
      .agg(countDistinct(col("l_suppkey")).as("n"))))

    // rebuilding the zone sidecar serves again IMMEDIATELY — the
    // mtime-keyed reload; the discovery memo would have kept the
    // pre-rebuild frame for the session's lifetime
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, base, "li"), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_zf")
    assert(scansDict(spark.sql(q)), "a rebuilt zone index must serve again")
  }

  test("filtered DISTINCT null handling: dict-side nulls surface from metadata") {
    import spark.implicits._
    val base = scratch("filtered-distinct-null")
    // file A (id 0..99): grp in {a, b, NULL}; file B (id 100..199):
    // grp in {c}. `id < 100` proves A all-match and B all-miss from
    // zone maps, so A is served purely from its dictionary pages —
    // its NULLs exist only as a footer null count. The serve must
    // still return the NULL row plain SQL does.
    val df = Seq.tabulate(200) { i =>
      val grp = if (i >= 100) Some("c")
        else if (i % 10 == 0) Option.empty[String]
        else if (i % 2 == 0) Some("a") else Some("b")
      (i.toLong, grp)
    }.toDF("id", "grp")
    graft.sources.MicroBlockWriter.write(df, base, "id", 2)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, base, "t"), base)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "t", Seq("grp", "id")), base)
    spark.read.parquet(base).createOrReplaceTempView("dr_fdn")
    val served = spark.sql("SELECT DISTINCT grp FROM dr_fdn WHERE id < 100")
    assert(scansDict(served), "the all-match file must dict-serve")
    val got = served.collect().map(r =>
      if (r.isNullAt(0)) "NULL" else r.getString(0)).sorted.toSeq
    assert(got == Seq("NULL", "a", "b"),
      "metadata null counts must surface the NULL row; file B's c must not leak")
  }

  test("a serve through a cached sidecar frame is detected under a long path") {
    // Spark abbreviates a scan's location in plan strings to 100
    // characters, so a string-matching detector missed a sidecar served
    // through a cached frame once the table path was long — the
    // path-dependent failure of the zone-index freshness test above
    val base = scratch("a-table-path-long-enough-that-its-sidecar-location" +
      "-exceeds-the-plan-string-limit")
    li.limit(2000).repartition(2, col("l_suppkey"))
      .write.mode("overwrite").parquet(base)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, base, "li", Seq("l_suppkey")), base)
    val root = "file:" + new java.io.File(base).getAbsolutePath
    assert(DictionaryIndex.sidecarPath(root).length > 100)
    // the zone-map rule's sidecar discovery persists the frame the
    // serve's own sidecar read then hits in Spark's cache
    val cached = graft.plans.ZoneMapPruneRule.dictIndexFor(root, spark).get
    cached.count()
    try {
      spark.read.parquet(base).createOrReplaceTempView("dr_long")
      val served = spark.sql("SELECT COUNT(DISTINCT l_suppkey) AS n FROM dr_long")
      assert(served.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        "the serve must read the sidecar through the cached frame:\n" +
          served.queryExecution.optimizedPlan)
      assert(scansDict(served))
      assert(rows(served) == Seq(
        s"[${spark.read.parquet(base).select("l_suppkey").distinct().collect().length}]"))
    } finally {
      graft.plans.ZoneMapPruneRule.unregisterDict(root)
      cached.unpersist()
    }
  }

  test("a fresh session discovers the sidecar with no register call") {
    val base = fixture
    val s2 = spark.newSession()
    s2.read.parquet(base).createOrReplaceTempView("dr_fresh")
    val served = s2.sql("SELECT COUNT(DISTINCT l_returnflag) AS n FROM dr_fresh")
    assert(scansDict(served))
    assert(rows(served) == rows(spark.read.parquet(base)
      .agg(countDistinct(col("l_returnflag")).as("n"))))
  }
}
