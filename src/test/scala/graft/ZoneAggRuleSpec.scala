package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.GraftSession

/** Zone-stats aggregate serving (plans/ZoneAggRule): plain-SQL global
  * COUNT(*)/COUNT(col)/MIN/MAX — filtered or not — over a table with a
  * CURRENT `_graft_index` sidecar answer from footer metadata for the
  * zone-decided files, with one straddler-only scan. Contract under
  * test:
  *
  *   - FIRE: the plan carries the serve's signature (a literal
  *     Project when fully decided; the collapsed count(1)+<literal>
  *     aggregate otherwise), the scan side reads EXACTLY the
  *     undecided files, and values match the full scan — including a
  *     fully-decided query that runs NO scan at all;
  *   - null handling: COUNT(col) subtracts footer null counts; MIN
  *     over an all-null served file contributes nothing (NULL when
  *     nothing else serves);
  *   - REFUSE (no literal-combining node in the plan): long/double
  *     MIN (Double-view precision / NaN footer-stats rules),
  *     incomplete predicate conversion, scan side past
  *     maxScanFraction, stale sidecar after append.
  */
class ZoneAggRuleSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession.local(
    cores = 8, appName = "graft-zoneagg-test")
  private val dir = "/root/testdata/sf0.01"

  private def scratch(tag: String) = s"target/scratch/test/zoneagg/$tag"

  private lazy val li = graft.engine.Tables.load(spark, dir, "lineitem")

  /** Did the serve fire AT ALL? One shared detector —
    * [[graft.plans.ZoneAggRule.servedSignature]]. */
  private def served(df: DataFrame): Boolean =
    graft.plans.ZoneAggRule.servedSignature(df.queryExecution.optimizedPlan)

  private def baseFilesRead(df: DataFrame, needle: String): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
          if r.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
            r.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.inputFiles.exists(_.contains(needle)) =>
        r.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** 8-file shipdate-clustered lineitem + saved zone sidecar. */
  private lazy val fixture: String = {
    val out = scratch("base")
    graft.sources.MicroBlockWriter.write(li.limit(20000), out, "l_shipdate", 8)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "li"), out)
    out
  }

  test("filtered COUNT/MIN/MAX serve from metadata; only straddlers scan; values exact") {
    val base = fixture
    spark.read.parquet(base).createOrReplaceTempView("za_t")
    val q = """SELECT COUNT(*) AS n, COUNT(l_returnflag) AS nf,
      |  MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx
      |FROM za_t
      |WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00'""".stripMargin
    val servedDf = spark.sql(q)
    assert(served(servedDf), "the serve must fire")
    // discriminator: the scan side reads EXACTLY the undecided files —
    // the same tri-state the rule ran, recomputed here as the audit.
    // (A root-shape check can't discriminate: Spark folds the rewrite's
    // Project into the straddler-scan Aggregate, producing the
    // count(1)+<metadata literal> plan. A pruner-only plan would keep
    // the all-match files too — strictly more than the straddlers.)
    val idx = spark.read.parquet(
      graft.sources.MicroBlockIndex.sidecarPath(base))
    val pred = graft.plans.Cmp(">=", "l_shipdate",
      graft.plans.PredValue.ts("1997-06-15 00:00:00"))
    val audit = new graft.plans.ZoneSnapshot(_ => idx.toDF())
    val (allTrue, allFalse) = audit.triState(spark, pred)
    val undecided = (audit.fileRows(spark).keySet -- allTrue -- allFalse).size
    assert(allTrue.nonEmpty, "fixture: some file must be provably all-match")
    assert(baseFilesRead(servedDf, "zoneagg/base") == Seq(undecided),
      s"scan side must read exactly the $undecided straddlers")
    val truth = spark.read.parquet(base)
      .filter(col("l_shipdate") >= "1997-06-15 00:00:00")
      .agg(count(lit(1)).as("n"), count(col("l_returnflag")).as("nf"),
        min(col("l_linenumber")).as("mn"), max(col("l_linenumber")).as("mx"))
    assert(rows(servedDf) == rows(truth))
  }

  test("unfiltered COUNT(*) is a pure metadata answer — no scan at all") {
    val base = fixture
    spark.read.parquet(base).createOrReplaceTempView("za_t2")
    val servedDf = spark.sql("SELECT COUNT(*) AS n FROM za_t2")
    assert(served(servedDf))
    assert(baseFilesRead(servedDf, "zoneagg/base").isEmpty,
      "a fully-decided COUNT(*) must not read the base at all")
    assert(servedDf.first.getLong(0) == 20000L)
  }

  test("null handling: COUNT(col) subtracts nulls; all-null file serves NULL min/max") {
    import spark.implicits._
    val out = scratch("nulls")
    // file A (id 0..99): v null every 10th row; file B (id 100..199):
    // v ALL null — its footers carry no min/max, only nullCount==rows,
    // which is exactly the all-null proof the rule trusts
    val df = Seq.tabulate(200) { i =>
      val v = if (i >= 100) Option.empty[Int]
        else if (i % 10 == 0) Option.empty[Int] else Some(i)
      (i.toLong, v)
    }.toDF("id", "v")
    graft.sources.MicroBlockWriter.write(df, out, "id", 2)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_n")
    val both = spark.sql(
      "SELECT COUNT(v) AS nv, MIN(v) AS mn, MAX(v) AS mx FROM za_n WHERE id < 1000")
    assert(served(both))
    assert(baseFilesRead(both, "zoneagg/nulls").isEmpty,
      "both files are all-match and trusted: no scan")
    val r = both.first
    assert(r.getLong(0) == 90L && r.getInt(1) == 1 && r.getInt(2) == 99)
    // only the all-null file survives the filter: count 0, NULL min
    val onlyB = spark.sql(
      "SELECT COUNT(v) AS nv, MIN(v) AS mn FROM za_n WHERE id >= 100")
    assert(served(onlyB))
    assert(baseFilesRead(onlyB, "zoneagg/nulls").isEmpty)
    val rb = onlyB.first
    assert(rb.getLong(0) == 0L && rb.isNullAt(1))
  }

  test("int64 and MICROS-timestamp MIN/MAX serve exactly from the integral stats view") {
    import spark.implicits._
    val out = scratch("wide")
    // values past 2^53: the Double stats view rounds these (2^60 and
    // 2^60+1 collapse); the integral view must not
    val bigBase = 1L << 60
    val df = Seq.tabulate(200) { i =>
      (i.toLong, bigBase + i, java.sql.Timestamp.valueOf(
        s"2024-01-01 00:00:${i % 60}.${(i % 10)}00001"))
    }.toDF("id", "big", "ts")
    // MICROS explicitly: Spark's default INT96 timestamps carry NO
    // footer stats at all (Binary min/max), so only the MICROS layout
    // can metadata-serve — the unit every modern writer uses
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      graft.sources.MicroBlockWriter.write(df, out, "id", 2)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_w")
    val q = "SELECT MIN(big) AS mnb, MAX(big) AS mxb, " +
      "MIN(ts) AS mnt, MAX(ts) AS mxt FROM za_w WHERE id < 1000"
    val servedDf = spark.sql(q)
    assert(served(servedDf), "int64/timestamp MIN/MAX must serve")
    assert(baseFilesRead(servedDf, "zoneagg/wide").isEmpty,
      "both files all-match and integral-trusted: no scan")
    val truth = spark.read.parquet(out)
      .agg(min(col("big")).as("mnb"), max(col("big")).as("mxb"),
        min(col("ts")).as("mnt"), max(col("ts")).as("mxt"))
    assert(rows(servedDf) == rows(truth),
      "served values must be bit-exact past 2^53 and to the microsecond")
  }

  test("int64 values at the 2^53 double boundary never falsely prove all-match") {
    import spark.implicits._
    val out = scratch("ulp")
    // every row holds exactly 2^53; 2^53+1 rounds DOWN to the same
    // double, so the pre-fix Double-view proof claimed min >= lit for
    // every file and served the FULL row count — the true answer is 0
    val big = 9007199254740992L // 2^53
    val df = Seq.tabulate(100)(i => (i.toLong, big)).toDF("id", "big")
    graft.sources.MicroBlockWriter.write(df, out, "id", 2)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_u")
    val boundary = spark.sql(
      "SELECT COUNT(*) AS n FROM za_u WHERE big >= 9007199254740993")
    assert(boundary.first.getLong(0) == 0L,
      "no row satisfies >= 2^53+1 — a metadata serve here would be wrong")
    assert(!served(boundary),
      "stats outside the +-2^53 exactness certificate must not prove all-match")
    // the certificate costs provability, never correctness: an
    // in-range predicate on the same table still serves
    val ok = spark.sql("SELECT COUNT(*) AS n FROM za_u WHERE id >= 0")
    assert(served(ok) && ok.first.getLong(0) == 100L)
  }

  test("unsigned-int columns record no integral stats (sign-extension refusal)") {
    val out = scratch("uint")
    val outP = java.nio.file.Paths.get(out)
    org.apache.commons.io.FileUtils.deleteDirectory(outP.toFile)
    java.nio.file.Files.createDirectories(outP)
    // a UINT_32 column holding 3e9: the footer's signed accessor
    // sign-extends to a NEGATIVE int — a foreign-writer shape Spark
    // itself never produces (it reads the column back as LongType)
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = Types.buildMessage()
      .optional(PrimitiveTypeName.INT32)
      .as(LogicalTypeAnnotation.intType(32, false))
      .named("u")
      .named("spark_schema")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$out/u.parquet"))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withType(schema)
      .build()
    try {
      val f = new SimpleGroupFactory(schema)
      (0 until 50).foreach(i => writer.write(
        f.newGroup().append("u", (3000000000L + i).toInt)))
    } finally writer.close()
    val idx = graft.sources.MicroBlockIndex.build(spark, out, "t")
    val uRows = idx.filter(_.column == "u").collect()
    assert(uRows.nonEmpty && uRows.forall(r =>
      r.minLong.isEmpty && r.maxLong.isEmpty),
      "unsigned columns must record no integral stats")
    // end-to-end: the serve falls back to the scan and stays exact
    graft.sources.MicroBlockIndex.saveSidecar(idx, out)
    spark.read.parquet(out).createOrReplaceTempView("za_uint")
    val mn = spark.sql("SELECT MIN(u) AS mn FROM za_uint")
    assert(!served(mn), "a sign-extended integral view would serve negatives")
    assert(mn.first.getLong(0) == 3000000000L)
  }

  test("a MILLIS-unit timestamp column falls back to the scan, exactly") {
    import spark.implicits._
    val out = scratch("millis")
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      val df = Seq.tabulate(100)(i => (i.toLong, java.sql.Timestamp.valueOf(
        s"2024-03-0${i % 9 + 1} 10:00:00"))).toDF("id", "ts")
      graft.sources.MicroBlockWriter.write(df, out, "id", 2)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_m")
    // the builder recorded NO integral stats for the MILLIS column
    // (serving its physical longs as micros would be 1000x off), so
    // every file is untrusted for MIN(ts) -> scan side = whole table
    // -> the maxScanFraction gate refuses; the answer stays exact
    val q = "SELECT MIN(ts) AS mn FROM za_m WHERE id < 1000"
    val refusedDf = spark.sql(q)
    assert(!served(refusedDf), "a MILLIS timestamp must not serve from metadata")
    assert(rows(refusedDf) == rows(spark.read.parquet(out)
      .filter(col("id") < 1000).agg(min(col("ts")).as("mn"))))
  }

  test("refusals: double MIN/MAX, incomplete predicate, everywhere-straddling predicate") {
    val base = fixture
    spark.read.parquet(base).createOrReplaceTempView("za_t3")
    // l_suppkey is int64: the integral stats view serves it exactly
    val longMin = spark.sql(
      "SELECT MIN(l_suppkey) AS m FROM za_t3 " +
        "WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00'")
    assert(served(longMin), "int64 MIN serves via the integral view")
    assert(rows(longMin) == rows(spark.read.parquet(base)
      .filter(col("l_shipdate") >= "1997-06-15 00:00:00")
      .agg(min(col("l_suppkey")).as("m"))))
    // l_quantity is double: footer stats exclude NaN, Spark's MAX does not
    val dblMax = spark.sql(
      "SELECT MAX(l_quantity) AS m FROM za_t3 " +
        "WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00'")
    assert(!served(dblMax), "double MAX must refuse the serve")
    // an unconvertible conjunct: an all-match proof over the weakened
    // predicate would claim rows the dropped conjunct rejects
    val partial = spark.sql(
      "SELECT COUNT(*) AS n FROM za_t3 " +
        "WHERE l_shipdate >= TIMESTAMP '1997-06-15 00:00:00' AND l_quantity * 2 > 30")
    assert(!served(partial),
      "an incompletely-convertible predicate must refuse")
    assert(rows(partial) == rows(spark.read.parquet(base)
      .filter(col("l_shipdate") >= "1997-06-15 00:00:00" &&
        col("l_quantity") * 2 > 30)
      .agg(count(lit(1)).as("n"))))
    // unclustered predicate: every file straddles, scan side = table
    val straddle = spark.sql(
      "SELECT COUNT(*) AS n FROM za_t3 WHERE l_quantity > 25")
    assert(!served(straddle),
      "an everywhere-straddling predicate must refuse")
    assert(rows(straddle) == rows(spark.read.parquet(base)
      .filter(col("l_quantity") > 25).agg(count(lit(1)).as("n"))))
  }

  test("no all-true file: the rule leaves the query to the pruned scan") {
    val base = fixture
    // the interior of one file's shipdate range: that file straddles,
    // every other file is all-false, and nothing folds from metadata
    val r = spark.read.parquet(base).groupBy(input_file_name())
      .agg(min("l_shipdate"), max("l_shipdate"))
      .orderBy(min("l_shipdate")).collect()(3)
    val (lo, hi) = (r.get(1), r.get(2))
    def q(df: DataFrame) = df
      .filter(col("l_shipdate") > lit(lo) && col("l_shipdate") < lit(hi))
      .agg(count(lit(1)).as("n"), count(col("l_returnflag")).as("nf"))
    val df = q(spark.read.parquet(base))
    // the serve's straddler scan is a new relation read with a
    // basePath (MicroBlockIndex.readFilesAsTable); the table's own
    // relation, pruned by ZoneMapPruneRule, has none
    val rewritten = df.queryExecution.optimizedPlan.exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.options.keys.exists(_.equalsIgnoreCase("basePath"))
          case _ => false
        }
      case _ => false
    }
    assert(!rewritten && !served(df), "a serve with no served file must refuse")
    assert(baseFilesRead(df, "zoneagg/base") == Seq(1),
      "the pruned scan reads the one straddling file")
    val truth = graft.plans.GraftRule.internally(rows(q(spark.read.parquet(base))))
    assert(rows(df) == truth)
  }

  test("GROUP BY a partition column serves per-group metadata; straddlers scan grouped") {
    import spark.implicits._
    val out = scratch("grouped")
    // v = p*100 + i%50: partition p=0 is all-false for v >= 120,
    // p=2 all-true, p=1 straddles — per-FILE zone stats decide,
    // per-file partition values come from the paths
    val df = Seq.tabulate(300) { i =>
      (i.toLong, i % 3, (i % 3) * 100 + i % 50)
    }.toDF("id", "p", "v")
    df.repartition(2, col("id"))
      .write.mode("overwrite").partitionBy("p").parquet(out)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_g")

    // unfiltered: every group answered purely from metadata — no scan
    val full = spark.sql("SELECT p, COUNT(*) AS n, COUNT(v) AS nv, " +
      "MIN(v) AS mn, MAX(v) AS mx FROM za_g GROUP BY p ORDER BY p")
    assert(baseFilesRead(full, "zoneagg/grouped").isEmpty,
      "unfiltered grouped counts must not read the base at all")
    val truthFull = spark.read.parquet(out).groupBy(col("p"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("p"))
    assert(rows(full) == rows(truthFull))

    // filtered: p=0's files refuted, p=2's served from metadata, p=1's
    // straddlers scan — and the vanished group (p=0) must VANISH
    val filtered = spark.sql("SELECT p, COUNT(*) AS n, MIN(v) AS mn " +
      "FROM za_g WHERE v >= 120 GROUP BY p ORDER BY p")
    val kept = baseFilesRead(filtered, "zoneagg/grouped")
    assert(kept.nonEmpty && kept.head < 6,
      s"only the straddling files may scan, saw $kept of 6")
    val truthF = spark.read.parquet(out).filter(col("v") >= 120)
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"))
      .orderBy(col("p"))
    assert(rows(filtered) == rows(truthF))
    assert(!filtered.collect().exists(_.getInt(0) == 0),
      "an all-refuted partition must not appear as a group")

    // grouping on a DATA column refuses — only partition values are
    // exact per file
    val dataGroup = spark.sql(
      "SELECT v, COUNT(*) AS n FROM za_g GROUP BY v ORDER BY v")
    assert(baseFilesRead(dataGroup, "zoneagg/grouped") == Seq(6),
      "a data-column GROUP BY must run the plain scan")
    assert(rows(dataGroup) == rows(spark.read.parquet(out)
      .groupBy(col("v")).agg(count(lit(1)).as("n")).orderBy(col("v"))))
  }

  test("SUM serves from per-file sums: filtered straddler combine, 2^53+ exactness, all-NULL ⇒ NULL") {
    import spark.implicits._
    val out = scratch("sums")
    // three id-clustered files; w sits ABOVE 2^53 (the Double stats
    // view is lossy there — sums must run in exact longs end-to-end);
    // v is all-NULL in the last file (SUM must say NULL, never 0,
    // when only that file survives a filter)
    val big = 9007199254740993L // 2^53 + 1
    // v is all-NULL in the FIRST file (ids 0..99) so the later filters
    // keep the untrusted file OUT of the served region
    val df = Seq.tabulate(300) { i =>
      val v = if (i < 100) Option.empty[Long] else Some(i.toLong % 97)
      (i.toLong, v, big + i)
    }.toDF("id", "v", "w")
    graft.sources.MicroBlockWriter.write(df, out, "id", 3)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.withSums(spark, out,
        graft.sources.MicroBlockIndex.build(spark, out, "sums"), Seq("v", "w")),
      out)
    spark.read.parquet(out).createOrReplaceTempView("za_sum_t")
    // unfiltered: w's total spans 2^53 neighbors a double can't tell apart
    val all = spark.sql("SELECT SUM(w) AS sw, SUM(v) AS sv FROM za_sum_t")
    assert(served(all), "the SUM serve must fire")
    val truth = spark.read.parquet(out)
      .agg(sum(col("w")).as("sw"), sum(col("v")).as("sv"))
    assert(rows(all) == rows(truth))
    // filtered: decided files fold from metadata, straddler scans
    val filtered = spark.sql(
      "SELECT SUM(v) AS sv, COUNT(*) AS n FROM za_sum_t WHERE id >= 150")
    assert(served(filtered))
    val ftruth = spark.read.parquet(out).filter(col("id") >= 150)
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    assert(rows(filtered) == rows(ftruth))
    // only the all-NULL file: its sum was never recorded (None), so it
    // falls to the scan side and the answer is Spark's own NULL
    val onlyNull = spark.sql(
      "SELECT SUM(v) AS sv FROM za_sum_t WHERE id < 100")
    assert(onlyNull.first.isNullAt(0), "SUM over all-NULL must be NULL")
    // a sums-less sidecar refuses the SUM serve but still answers
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "sums"), out)
    val noSums = spark.sql("SELECT SUM(w) AS sw FROM za_sum_t")
    assert(!served(noSums), "no per-file sums -> no serve")
    assert(rows(noSums) == rows(spark.read.parquet(out).agg(sum(col("w")).as("sw"))))
  }

  test("grouped SUM over a partition column serves per-group from metadata") {
    import spark.implicits._
    val out = scratch("gsums")
    Seq.tabulate(400)(i => (i.toLong, s"g${i % 3}", (i % 53).toLong))
      .toDF("id", "g", "v")
      .write.partitionBy("g").mode("overwrite").parquet(out)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.withSums(spark, out,
        graft.sources.MicroBlockIndex.build(spark, out, "gsums"), Seq("v")),
      out)
    spark.read.parquet(out).createOrReplaceTempView("za_gsum_t")
    val df = spark.sql(
      "SELECT g, SUM(v) AS sv, COUNT(*) AS n FROM za_gsum_t GROUP BY g ORDER BY g")
    val reads = baseFilesRead(df, "zoneagg/gsums")
    assert(reads.isEmpty, s"grouped SUM must not read data files, read $reads")
    val truth = spark.read.parquet(out).groupBy("g")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n")).orderBy("g")
    assert(rows(df) == rows(truth))
  }

  test("GROUP BY a clustered DATA column: single-group-proven files serve, straddlers scan") {
    import spark.implicits._
    val out = scratch("gdata")
    // files 0/1/2 each constant in g (10, 20, 30); file 3 straddles
    // (20 and 30 mixed) and must be the ONLY data file read
    def part(vals: Seq[Long], tag: Int) =
      vals.zipWithIndex.map { case (g, i) => (tag * 1000L + i, g, i.toLong % 7) }
        .toDF("id", "g", "v").coalesce(1)
    part(Seq.fill(50)(10L), 0).write.mode("overwrite").parquet(out)
    part(Seq.fill(50)(20L), 1).write.mode("append").parquet(out)
    part(Seq.fill(50)(30L), 2).write.mode("append").parquet(out)
    part(Seq.tabulate(40)(i => if (i < 20) 20L else 30L), 3)
      .write.mode("append").parquet(out)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "gdata"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_gd")
    val df = spark.sql(
      """SELECT g, COUNT(*) AS n, COUNT(v) AS nv, MIN(v) AS mn, MAX(v) AS mx
        |FROM za_gd GROUP BY g ORDER BY g""".stripMargin)
    assert(baseFilesRead(df, "zoneagg/gdata") == Seq(1),
      "exactly the straddling file may scan")
    val truth = spark.read.parquet(out).groupBy("g")
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("v")).as("mn"), max(col("v")).as("mx")).orderBy("g")
    assert(rows(df) == rows(truth))
    // an all-NULL-group file is ITS OWN group
    val out2 = scratch("gdata-null")
    part(Seq.fill(30)(5L), 0).write.mode("overwrite").parquet(out2)
    Seq.tabulate(30)(i => (9000L + i, Option.empty[Long], i.toLong))
      .toDF("id", "g", "v").coalesce(1).write.mode("append").parquet(out2)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out2, "gdn"), out2)
    spark.read.parquet(out2).createOrReplaceTempView("za_gdn")
    val dfn = spark.sql(
      "SELECT g, COUNT(*) AS n FROM za_gdn GROUP BY g ORDER BY g NULLS FIRST")
    assert(baseFilesRead(dfn, "zoneagg/gdata-null").isEmpty,
      "both files are single-group-proven: no scan")
    val truthN = spark.read.parquet(out2).groupBy("g")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("g").asc_nulls_first)
    assert(rows(dfn) == rows(truthN))
  }

  test("GROUP BY a clustered STRING data column serves; truncated stats fall to the scan") {
    import spark.implicits._
    val out = scratch("gstr")
    // files 0/1/2 each constant in the string key; file 3 straddles
    def part(vals: Seq[String], tag: Int) =
      vals.zipWithIndex.map { case (g, i) => (tag * 1000L + i, g, i.toLong % 7) }
        .toDF("id", "g", "v").coalesce(1)
    part(Seq.fill(50)("alpha"), 0).write.mode("overwrite").parquet(out)
    part(Seq.fill(50)("beta"), 1).write.mode("append").parquet(out)
    part(Seq.fill(50)("中文键"), 2).write.mode("append").parquet(out)
    part(Seq.tabulate(40)(i => if (i < 20) "beta" else "gamma"), 3)
      .write.mode("append").parquet(out)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "gstr"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_gs")
    val df = spark.sql(
      """SELECT g, COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx
        |FROM za_gs GROUP BY g ORDER BY g""".stripMargin)
    assert(baseFilesRead(df, "zoneagg/gstr") == Seq(1),
      "exactly the straddling file may scan")
    val truth = spark.read.parquet(out).groupBy("g")
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx")).orderBy("g")
    assert(rows(df) == rows(truth))

    // TRUNCATED footer stats: a single-valued file of long strings
    // written with parquet.statistics.truncate.length=8 — its min is
    // a strict-prefix truncation and its max an incremented prefix,
    // so minStr != maxStr: the proof must REFUSE the file (it falls
    // to the scan side), never serve a truncated prefix as the group
    val out2 = scratch("gstr-trunc")
    val longVal = "k" * 64 + "-stable-group-value"
    part(Seq.fill(40)("short"), 0).write.mode("overwrite").parquet(out2)
    part(Seq.fill(40)(longVal), 1)
      .write.mode("append")
      .option("parquet.statistics.truncate.length", "8")
      .parquet(out2)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out2, "gst"), out2)
    // fixture sanity: the truncated file's footer really is inexact
    val idx = graft.sources.MicroBlockIndex.load(spark,
      graft.sources.MicroBlockIndex.sidecarPath(out2))
      .filter(col("column") === "g").collect()
    val truncated = idx.filter(_.minStr.exists(s =>
      s.startsWith("kkkk") && s.length <= 8))
    assert(truncated.nonEmpty, "fixture must produce truncated stats")
    assert(truncated.forall(e => e.minStr != e.maxStr),
      "compliant truncation is strictly one-sided: bounds must differ " +
        s"(saw ${truncated.map(e => (e.minStr, e.maxStr)).toSeq})")
    spark.read.parquet(out2).createOrReplaceTempView("za_gst")
    val dft = spark.sql(
      "SELECT g, COUNT(*) AS n FROM za_gst GROUP BY g ORDER BY g")
    // the truncated file scans; the exact-stats file serves
    assert(baseFilesRead(dft, "zoneagg/gstr-trunc") == Seq(1),
      "the truncated-stats file must fall to the scan side")
    val truthT = spark.read.parquet(out2).groupBy("g")
      .agg(count(lit(1)).as("n")).orderBy("g")
    assert(rows(dft) == rows(truthT))
  }

  test("an appended file refuses the serve until the sidecar refreshes") {
    val out = scratch("stale")
    graft.sources.MicroBlockWriter.write(li.limit(5000), out, "l_shipdate", 2)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_s")
    assert(served(spark.sql("SELECT COUNT(*) AS n FROM za_s")),
      "current sidecar must serve")

    li.limit(7000).repartition(1).write.mode("append").parquet(out)
    spark.read.parquet(out).createOrReplaceTempView("za_s")
    val stale = spark.sql("SELECT COUNT(*) AS n FROM za_s")
    assert(!served(stale),
      "an index missing the appended file would UNDERCOUNT — must refuse")
    assert(stale.first.getLong(0) ==
      spark.read.parquet(out).count(), "the refused plan scans the live base")

    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_s")
    val again = spark.sql("SELECT COUNT(*) AS n FROM za_s")
    assert(served(again), "a rebuilt sidecar must serve again")
    assert(again.first.getLong(0) == spark.read.parquet(out).count())
  }

  test("measured benefit gate: a calibrated can't-repay root refuses the serve; values unchanged") {
    val base = fixture
    val root = new java.io.File(base).getAbsolutePath
    spark.read.parquet(base).createOrReplaceTempView("za_cost")
    val q = "SELECT COUNT(*) AS n FROM za_cost"
    try {
      assert(served(spark.sql(q)), "uncalibrated root must keep serving")
      val truth = spark.sql(q).first.getLong(0)
      // decision 10 s vs a ~1 GB/s marginal rate over a tiny table:
      // even a perfect metadata answer can't repay — route to the scan
      graft.sources.CostRouter.seed(root, decSec = 10.0,
        calSec = 11.0, calBytes = 1L << 30)
      val gated = spark.sql(q)
      assert(!served(gated), "the gated serve must fall back to the scan")
      assert(gated.first.getLong(0) == truth)
      // cheap decision: serves again
      graft.sources.CostRouter.seed(root, decSec = 1e-4,
        calSec = 11.0, calBytes = 1024L)
      assert(served(spark.sql(q)))
    } finally graft.sources.CostRouter.reset()
  }

  test("an in-place rewrite is re-read by refresh, never re-blessed (round-15 advice)") {
    import org.apache.spark.sql.functions.{col => c}
    val out = scratch("rewrite")
    def writeAs(name: String, lo: Long, hi: Long): Unit = {
      val stage = s"$out-stage"
      spark.range(lo, hi).select(c("id"), (c("id") % 7).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(out).mkdirs()
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(s"$out/$name").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Option(new java.io.File(out).listFiles()).foreach(_.foreach(_.delete()))
    writeAs("a.parquet", 0L, 100L)
    writeAs("b.parquet", 100L, 200L)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("za_rw")
    val before = spark.sql("SELECT COUNT(*) AS n, MAX(id) AS mx FROM za_rw")
    assert(served(before) && before.first.toString == "[200,199]")
    // b.parquet REWRITTEN IN PLACE (same path, 50 rows, new range),
    // then the streaming-commit shape: refresh + re-save (which
    // re-stamps _SUCCESS, the freshness anchor). The pre-fix path-only
    // refresh kept b's dead entries and the re-stamp RE-BLESSED them —
    // the serve would answer 200/199 against 150 live rows.
    writeAs("b.parquet", 1000L, 1050L)
    val refreshed = graft.sources.MicroBlockIndex.refresh(spark, out, "t",
      graft.sources.MicroBlockIndex.load(
        spark, graft.sources.MicroBlockIndex.sidecarPath(out)))
    // the refreshed plan reads the sidecar it replaces: the save
    // swaps a sibling into place, as a streaming commit does
    graft.sources.MicroBlockIndex.saveSidecar(refreshed, out)
    spark.read.parquet(out).createOrReplaceTempView("za_rw")
    val after = spark.sql("SELECT COUNT(*) AS n, MAX(id) AS mx FROM za_rw")
    assert(after.first.toString == "[150,1049]",
      "the refreshed sidecar must reflect the rewritten file's data")
    assert(served(after), "the re-read entries must serve again")
  }
}
