package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.engine.GraftSession
import graft.sources.{DictionaryIndex, MicroBlockIndex, MicroBlockWriter}
import graft.streaming.StreamIngest

/** How the transparent rules find a table's zone and dictionary
  * sidecars as the table changes under them, and what they do when a
  * sidecar cannot be read.
  *
  *   - A `StreamIngest` commit replaces both sidecars. The next read
  *     must decide over the new generation (its anchor moved): the
  *     committed files are pruned like the old ones, and nothing of the
  *     old generation — whose files the commit deleted — is read again,
  *     even after Spark's cache is cleared.
  *   - A `_graft_index` part file that cannot be read leaves the Filter
  *     and top-k arms as they were: the plain scan answers. The failure
  *     is kept for that sidecar build, so only the first query pays
  *     the failing collect, and each fallback is counted in
  *     `GraftRule.errors`.
  */
class ZoneSidecarSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 4, appName = "graft-zone-sidecar-test")

  private def scratch(tag: String) = s"target/scratch/test/zonesidecar/$tag"

  private def clean(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  /** (files the plan scans, files of the table). */
  private def filesRead(df: DataFrame, root: String): (Int, Int) = {
    val read = df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.inputFiles.length
    }.sum
    (read, MicroBlockIndex.listParquetFiles(root).size)
  }

  private val noMatch = "SELECT MAX(event_type) AS m FROM zs_ev WHERE event_id >= 1000000000"

  /** Two batches of 1,000 events ingested: the first before the
    * sidecars are built, the second as a commit that refreshes them. */
  private def ingested(tag: String)(between: => Unit): String = {
    val out = scratch(tag)
    clean(out)
    val ev = spark.sql("SELECT id AS event_id, CAST(id % 5 AS STRING) AS event_type, " +
      "TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL '1' MINUTE AS ts FROM range(1000)")
    val ingest = new StreamIngest(spark, out, "events", "ts", 2)
    ingest.ingestBatch(ev.filter(col("event_id") % 2 === 0), 0L)
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "events"), out)
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, out, "events", Seq("event_type")), out)
    spark.read.parquet(out).createOrReplaceTempView("zs_ev")
    between
    ingest.ingestBatch(ev.filter(col("event_id") % 2 =!= 0), 1L)
    spark.read.parquet(out).createOrReplaceTempView("zs_ev")
    out
  }

  test("a commit's files are pruned by the next read") {
    var before = (-1, -1)
    val out = ingested("pruned") {
      before = filesRead(spark.sql(noMatch), scratch("pruned"))
    }
    assert(before == ((0, 2)), s"before the commit: read $before (read, total)")
    assert(filesRead(spark.sql(noMatch), out) == ((0, 4)),
      "the committed files must be pruned by the refreshed sidecar")
    assert(spark.sql(noMatch).collect().head.isNullAt(0))
  }

  test("after a commit, a cleared cache and new literals still plan over the live sidecars") {
    val out = ingested("cleared") {
      // decide (and cache) over the first generation of both sidecars
      spark.sql(noMatch).collect()
      spark.sql("SELECT COUNT(*) FROM zs_ev WHERE event_type = '3'").collect()
    }
    spark.catalog.clearCache()
    val all = spark.read.parquet(out).collect()
    val ids = all.map(_.getAs[Long]("event_id"))
    val lit = ids.max - 5
    val got = spark.sql(s"SELECT event_id FROM zs_ev WHERE event_id >= $lit")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ids.filter(_ >= lit).sorted.toSeq)
    val kind = all.head.getAs[String]("event_type")
    val n = spark.sql(s"SELECT event_id FROM zs_ev WHERE event_type = '$kind'").count()
    assert(n == all.count(_.getAs[String]("event_type") == kind))
  }

  test("an unreadable _graft_index part file leaves the Filter and top-k arms to the plain scan") {
    val out = scratch("truncated")
    clean(out)
    import spark.implicits._
    val data = (0L until 4000L).map(i => (i, i % 37)).toDF("k", "v")
    MicroBlockWriter.write(data, out, "k", 4)
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "t"), out)
    val part = new java.io.File(MicroBlockIndex.sidecarPath(out)).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val raf = new java.io.RandomAccessFile(part, "rw")
    try raf.setLength(raf.length() / 2) finally raf.close()
    new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
    spark.read.parquet(out).createOrReplaceTempView("zs_t")
    val rows = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1)))
    def caught = graft.plans.GraftRule.errors.getOrElse("ZoneMapPruneRule", 0L)
    val caught0 = caught
    val filtered = spark.sql("SELECT k, v FROM zs_t WHERE k >= 3990")
    val firstJobs = snapshotJobsDuring {
      assert(filesRead(filtered, out) == ((4, 4)), "no cut from an unreadable sidecar")
    }
    assert(filtered.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      rows.filter(_._1 >= 3990).sorted.toSeq)
    val caught1 = caught
    val top = spark.sql("SELECT k, v FROM zs_t ORDER BY k DESC LIMIT 5")
    val secondJobs = snapshotJobsDuring {
      assert(filesRead(top, out) == ((4, 4)))
    }
    val caught2 = caught
    assert(top.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      rows.sortBy(-_._1).take(5).toSeq)
    // the failure is kept for this sidecar build: the first query paid
    // the failing collect, the second launches no job over the sidecar
    assert(firstJobs >= 1, s"the first query ran $firstJobs zone-snapshot jobs")
    assert(secondJobs == 0, s"the second query re-ran $secondJobs failing zone-snapshot jobs")
    // each fallback is counted, not hidden
    assert(caught1 > caught0, "the Filter arm's fallback must be counted")
    assert(caught2 > caught1, "the top-k arm's fallback must be counted")
  }

  /** Jobs launched from [[graft.plans.ZoneSnapshot]] (its collect over
    * the zone sidecar) while `body` runs, told apart by their call
    * site. */
  private def snapshotJobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBus.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(s => (s.name + s.details).contains("ZoneSnapshot")))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestBus.drain(sc)
      n.get()
    } finally sc.removeSparkListener(l)
  }
}
