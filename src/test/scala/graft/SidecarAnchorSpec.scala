package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{GraftEngine, GraftSession}
import graft.sources.{DictionaryIndex, MicroBlockIndex, SidecarManifest}

/** The one sidecar contract ([[graft.sources.SidecarManifest]]): every
  * consumer that serves values from a sidecar must agree on whether it
  * is current. For a layout with zone and dictionary sidecars, after a
  * file rewritten in place, a file appended behind the anchor, and the
  * whole layout copied (sidecars included, mtimes kept) to a new path,
  * the shared test, [[graft.plans.ZoneAggRule]],
  * [[graft.plans.DictDistinctRule]] and a new [[GraftEngine]] all say
  * "stale"; after the gate rows' layout helper rebuilds, all say
  * "current" and the served rows equal the rows the data holds.
  */
class SidecarAnchorSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession.local(
    cores = 4, appName = "graft-sidecar-anchor-test")

  private def scratch(tag: String) = s"target/scratch/test/sidecaranchor/$tag"

  private val zoneSql = "SELECT COUNT(*) AS n, COUNT(v) AS nv FROM sa_t WHERE k >= 1000"
  private val dictSql = "SELECT COUNT(DISTINCT v) AS nd FROM sa_t"

  private def data(shift: Long): DataFrame = {
    import spark.implicits._
    (0L until 4000L).map(i => (i, (i + shift) % 37)).toDF("k", "v")
  }

  /** 4 k-clustered files (k 0..999 in the first) + zone and dict sidecars. */
  private def layout(tag: String): String = {
    val out = scratch(tag)
    graft.sources.MicroBlockWriter.write(data(0L), out, "k", 4)
    graft.queries.MicroBlockQueries.ensureSidecars(spark, out, "t", Nil, Seq("v"))
    out
  }

  private def files(path: String): Seq[Path] =
    MicroBlockIndex.listParquetFiles(path)
      .map(f => Paths.get(graft.plans.ZoneMapPruneRule.normFile(f))).sorted

  /** Each consumer's verdict: (shared zone, shared dict, ZoneAggRule,
    * DictDistinctRule, GraftEngine reuses the zone sidecar). */
  private def verdicts(path: String): Seq[Boolean] = {
    spark.read.parquet(path).createOrReplaceTempView("sa_t")
    val zoneServed = graft.plans.ZoneAggRule.servedSignature(
      spark.sql(zoneSql).queryExecution.optimizedPlan)
    val dictServed = SidecarManifest.readIn(
      spark.sql(dictSql).queryExecution.optimizedPlan, SidecarManifest.Dict)
    val engine = new GraftEngine(spark, path, "t")
    val reused = SidecarManifest.readIn(
      engine.index.queryExecution.analyzed, SidecarManifest.Zone)
    graft.plans.ZoneMapPruneRule.unregister(path)
    engine.index.unpersist()
    Seq(SidecarManifest.current(spark, path, SidecarManifest.Zone),
      SidecarManifest.current(spark, path, SidecarManifest.Dict),
      zoneServed, dictServed, reused)
  }

  /** The rows both queries must return, computed from the data itself
    * (no aggregate for any rule to rewrite). */
  private def truth(path: String): (Seq[String], Seq[String]) = {
    val kv = spark.read.parquet(path).collect().map(r => (r.getLong(0), r.getLong(1)))
    val hi = kv.filter(_._1 >= 1000)
    (Seq(s"[${hi.length},${hi.length}]"), Seq(s"[${kv.map(_._2).distinct.length}]"))
  }

  private def rowsOf(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.toString).toSeq

  /** Stale everywhere; then the layout helper rebuilds, every consumer
    * serves again, and the served rows equal the data's. */
  private def staleThenRebuilt(path: String, what: String): Unit = {
    assert(verdicts(path) == Seq.fill(5)(false), s"$what: every consumer must refuse")
    graft.queries.MicroBlockQueries.ensureSidecars(spark, path, "t", Nil, Seq("v"))
    assert(verdicts(path) == Seq.fill(5)(true), s"$what: every consumer must serve after the rebuild")
    spark.read.parquet(path).createOrReplaceTempView("sa_t")
    val (zoneRows, dictRows) = truth(path)
    assert(rowsOf(zoneSql) == zoneRows, s"$what: zone-served rows")
    assert(rowsOf(dictSql) == dictRows, s"$what: dict-served rows")
  }

  test("a fresh layout is current for every consumer") {
    val path = layout("fresh")
    assert(verdicts(path) == Seq.fill(5)(true))
    spark.read.parquet(path).createOrReplaceTempView("sa_t")
    val (zoneRows, dictRows) = truth(path)
    assert(rowsOf(zoneSql) == zoneRows && rowsOf(dictSql) == dictRows)
  }

  test("a file rewritten in place after the build: all refuse, the rebuild serves its new rows") {
    val path = layout("touched")
    // the zone-map rule's discovery persists frames of both sidecars:
    // frames of the old build must not answer reads of the rebuilt one
    // (the rebuild's overwrite refreshes Spark's cache for its path)
    val root = "file:" + new java.io.File(path).getAbsolutePath
    val discovered = Seq(graft.plans.ZoneMapPruneRule.indexFor(root, spark),
      graft.plans.ZoneMapPruneRule.dictIndexFor(root, spark)).flatten
    assert(discovered.size == 2)
    discovered.foreach(_.count())
    // rewrite the last file under its own name with different values
    val victim = files(path).last
    val tmp = scratch("touched-tmp")
    spark.read.parquet(victim.toString).withColumn("v", col("v") + 100)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val fresh = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.move(fresh, victim, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(victim.resolveSibling(s".${victim.getFileName}.crc"))
    // just newer than both anchors (the move may keep the temp file's
    // older mtime); the rebuild's anchors are later still
    val anchors = Seq(SidecarManifest.Zone, SidecarManifest.Dict)
      .map(k => SidecarManifest.anchor(path, spark, k).get)
    Files.setLastModifiedTime(victim,
      java.nio.file.attribute.FileTime.fromMillis(anchors.max + 1))
    try staleThenRebuilt(path, "rewritten file")
    finally {
      graft.plans.ZoneMapPruneRule.unregister(root)
      graft.plans.ZoneMapPruneRule.unregisterDict(root)
      discovered.foreach(_.unpersist())
    }
  }

  test("an appended file behind the anchor: all refuse on the file set alone") {
    val path = layout("appended")
    val anchor = SidecarManifest.anchor(path, spark, SidecarManifest.Zone).get
    val tmp = scratch("appended-tmp")
    data(5L).filter(col("k") < 10).coalesce(1).write.mode("overwrite").parquet(tmp)
    val extra = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    val target = Paths.get(graft.plans.ZoneMapPruneRule.normFile(
      new java.io.File(path).getAbsolutePath), "part-99999-appended.parquet")
    Files.move(extra, target, StandardCopyOption.REPLACE_EXISTING)
    // older than both anchors: only the file-set comparison can see it
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(anchor - 60000))
    staleThenRebuilt(path, "appended file")
  }

  test("a layout copied with its sidecars to a new path: all refuse, the rebuild serves") {
    val src = Paths.get(layout("copy-src"))
    val dst = Paths.get(scratch("copy-dst"))
    org.apache.commons.io.FileUtils.deleteDirectory(dst.toFile)
    // keep every mtime: the anchors stay newer than the data, and the
    // sidecars' recorded file URIs still name the source path
    Files.walk(src).toArray.map(_.asInstanceOf[Path]).sorted.foreach { p =>
      Files.copy(p, dst.resolve(src.relativize(p)), StandardCopyOption.COPY_ATTRIBUTES)
    }
    staleThenRebuilt(dst.toString, "copied layout")
  }

  test("single-file tables refuse a sidecar of either kind before writing") {
    val file = scratch("single") + "/t.parquet"
    data(0L).coalesce(1).write.mode("overwrite").parquet(scratch("single-src"))
    Files.createDirectories(Paths.get(scratch("single")))
    Files.copy(
      Files.list(Paths.get(scratch("single-src"))).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head,
      Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
    val zone = intercept[IllegalArgumentException](
      MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, file, "t"), file))
    assert(zone.getMessage.contains(file) && zone.getMessage.contains("_graft_index"))
    val dict = intercept[IllegalArgumentException](
      DictionaryIndex.saveSidecar(DictionaryIndex.build(spark, file, "t", Seq("v")), file))
    assert(dict.getMessage.contains(file) && dict.getMessage.contains("_graft_dict"))
    assert(Files.isRegularFile(Paths.get(file)), "the table file is untouched")
  }
}
