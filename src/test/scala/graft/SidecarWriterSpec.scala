package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.GraftSession
import graft.sources.{DictionaryIndex, MicroBlockIndex, SidecarManifest}
import scala.jdk.CollectionConverters._

/** [[graft.sources.SidecarManifest]] is the one sidecar writer and the
  * one reader of `_graft*` names:
  *
  *   - `saveSidecar(refresh(…, load(sidecar)))` is legal for the zone
  *     and the dictionary sidecar alike: the save swaps, so the
  *     refreshed index may read the sidecar it replaces. Afterwards the
  *     sidecar is current and its serves equal the data.
  *   - Under the engine's packages, only `SidecarManifest.scala` spells
  *     a sidecar or marker name in code, and no file in `plans/` or
  *     `streaming/` names `_SUCCESS`.
  *   - Reading a sidecar — loads, currency tests, layout checks and the
  *     rules' snapshots — logs no "All paths were ignored" warning
  *     (Spark's check on `_`-prefixed directory names).
  */
class SidecarWriterSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession.local(
    cores = 4, appName = "graft-sidecar-writer-test")

  private def scratch(tag: String) = s"target/scratch/test/sidecarwriter/$tag"

  private def data(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i, i % 37)).toDF("k", "v")
  }

  test("refresh-then-save over the loaded sidecar: both kinds swap in place and serve the data") {
    val out = scratch("refresh-save")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    graft.sources.MicroBlockWriter.write(data(0L, 4000L), out, "k", 4)
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "t"), out)
    DictionaryIndex.saveSidecar(DictionaryIndex.build(spark, out, "t", Seq("v")), out)
    data(4000L, 4100L).coalesce(1).write.mode("append").parquet(out)
    assert(!SidecarManifest.current(spark, out, SidecarManifest.Zone))
    assert(!SidecarManifest.current(spark, out, SidecarManifest.Dict))

    MicroBlockIndex.saveSidecar(MicroBlockIndex.refresh(spark, out, "t",
      MicroBlockIndex.load(spark, MicroBlockIndex.sidecarPath(out))), out)
    DictionaryIndex.saveSidecar(DictionaryIndex.refresh(spark, out, "t",
      DictionaryIndex.load(spark, DictionaryIndex.sidecarPath(out))), out)

    assert(SidecarManifest.current(spark, out, SidecarManifest.Zone), "zone sidecar current")
    assert(SidecarManifest.current(spark, out, SidecarManifest.Dict), "dict sidecar current")
    val left = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith("__swap")).toSeq
    assert(left.isEmpty, s"swap siblings left behind: $left")

    spark.read.parquet(out).createOrReplaceTempView("sw_t")
    val kv = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1)))
    val zone = spark.sql("SELECT COUNT(*) AS n, COUNT(v) AS nv FROM sw_t WHERE k >= 1000")
    assert(graft.plans.ZoneAggRule.servedSignature(zone.queryExecution.optimizedPlan),
      "the refreshed zone sidecar must serve")
    val hi = kv.count(_._1 >= 1000)
    assert(zone.collect().map(_.toString).toSeq == Seq(s"[$hi,$hi]"))
    val dict = spark.sql("SELECT COUNT(DISTINCT v) AS nd FROM sw_t")
    assert(SidecarManifest.readIn(dict.queryExecution.optimizedPlan, SidecarManifest.Dict),
      "the refreshed dictionary sidecar must serve")
    assert(dict.collect().map(_.toString).toSeq == Seq(s"[${kv.map(_._2).distinct.length}]"))
  }

  /** WARN-or-worse messages logged anywhere while `body` runs. */
  private def warningsDuring(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-sidecar-warnings", null, null, true,
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

  test("sidecar reads log no 'All paths were ignored' warning") {
    val out = scratch("quiet")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    graft.sources.MicroBlockWriter.write(data(0L, 4000L), out, "k", 4)
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "t"), out)
    DictionaryIndex.saveSidecar(DictionaryIndex.build(spark, out, "t", Seq("v")), out)
    spark.read.parquet(out).createOrReplaceTempView("sw_quiet")
    val warned = warningsDuring {
      assert(MicroBlockIndex.load(spark, MicroBlockIndex.sidecarPath(out)).count() > 0)
      assert(DictionaryIndex.load(spark, DictionaryIndex.sidecarPath(out)).count() > 0)
      assert(SidecarManifest.current(spark, out, SidecarManifest.Zone))
      assert(SidecarManifest.current(spark, out, SidecarManifest.Dict))
      graft.queries.MicroBlockQueries.ensureSidecars(spark, out, "t", Nil)
      assert(spark.sql("SELECT COUNT(*) FROM sw_quiet WHERE k >= 1000")
        .collect().head.getLong(0) == 3000L)
      assert(spark.sql("SELECT COUNT(DISTINCT v) FROM sw_quiet")
        .collect().head.getLong(0) == 37L)
    }
    val ignored = warned.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, s"sidecar reads warned: $ignored")
  }

  /** `path`'s text with block and line comments removed. A `//` only
    * opens a comment at the start of a line or after whitespace, so
    * `file://` inside a string stays. */
  private def code(path: Path): String = Files.readString(path)
    .replaceAll("(?s)/\\*.*?\\*/", "")
    .replaceAll("(?m)(^|\\s)//.*$", "$1")

  private def scalaFiles(pkg: String): Seq[Path] = {
    val dir = Paths.get("src/main/scala/graft", pkg)
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("only SidecarManifest names a sidecar or marker, and no rule or ingest names _SUCCESS") {
    val names = Seq("_graft_index", "_graft_dict", "_graft_bloom", "_graft_views",
      "_graft_bucket_spec.json")
    val files = Seq("plans", "sources", "streaming", "engine", "queries").flatMap(scalaFiles)
    assert(files.exists(_.getFileName.toString == "SidecarManifest.scala"),
      s"scan found no SidecarManifest.scala among ${files.size} files")
    val spelled = for {
      f <- files if f.getFileName.toString != "SidecarManifest.scala"
      body = code(f)
      n <- names if body.contains(n)
    } yield s"$f: $n"
    assert(spelled.isEmpty, s"sidecar names spelled outside SidecarManifest: $spelled")
    val success = Seq("plans", "streaming").flatMap(scalaFiles)
      .filter(f => Files.readString(f).contains("_SUCCESS"))
    assert(success.isEmpty, s"files naming _SUCCESS: $success")
  }
}
