package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.engine.{GraftEngine, MarkovPrefetcher}
import graft.plans.{And, Between, Cmp, Pred, PredValue}
import graft.sources.{AggView, CostRouter, DictionaryIndex, MicroBlockIndex, MicroBlockWriter}
import graft.streaming.StreamIngest

/** One generated operation: a read (SQL text) or an ingest commit
  * (a batch file). `lo`/`hi` carry a read's range literals where the
  * engine-side metrics need them as a predicate. */
final case class Op(kind: String, template: String, serve: Boolean,
    lo: String, hi: String, text: String) {
  def isRead: Boolean = kind == "read"
}

/** A workload drives graft's public entry points. `setup` builds the
  * complete state under `dir` from the inputs under `data`; `run`
  * executes one op and returns a read's rows. */
abstract class Workload(val spark: SparkSession, val data: String, val dir: String,
    val params: Map[String, String], val t: Tracer) {
  def setup(): Unit
  def run(op: Op): Option[Seq[Seq[Any]]]
  def teardown(): Unit = ()
  /** The lineitem root the reads run over. */
  def root: String
  /** AggView directories built beside the root. */
  def views: Seq[String] = Nil
  /** Directories whose bytes count as the workload's storage. */
  def storageRoots: Seq[String] = root +: views
  /** Bytes of the source parquet the storage was built from. */
  def sourceBytes: Long
  /** Extra per-op counters at the workload's own layer boundaries. */
  def opCounters(op: Op): Map[String, Any] = Map.empty
  def runCounters: Map[String, Any] = Map.empty

  protected val blocks: Int = params("blocks").toInt

  protected def src(table: String): String = s"$data/$table.parquet"

  /** The op is done when its last row reaches the client. Every read
    * returns at most a few rows, so collecting them costs what a no-op
    * sink would, and the oracle checks the very rows that were timed. */
  protected def action(df: DataFrame): Option[Seq[Seq[Any]]] =
    Some(t.span("spark.action")(df.collect()).map(_.toSeq).toSeq)

  protected def sql(text: String): DataFrame = t.span("spark.sql")(spark.sql(text))

  protected def layout(out: String): Unit = t.span("sources.layout") {
    MicroBlockWriter.write(spark.read.parquet(src("lineitem")), out, "l_shipdate", blocks)
  }
  protected def zoneIndex(out: String): Unit = t.span("sources.zone_index") {
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, "lineitem"), out)
  }
  protected def dictIndex(out: String): Unit = t.span("sources.dict_index") {
    DictionaryIndex.saveSidecar(
      DictionaryIndex.build(spark, out, "lineitem", Seq("l_suppkey", "l_returnflag")), out)
  }
  protected def aggView(out: String, view: String): Unit = t.span("sources.aggview") {
    AggView.build(spark, out, view, Seq("l_returnflag"), "l_suppkey")
    AggView.writeMarker(out, Seq(view))
  }
  protected def calibrate(out: String): Unit =
    t.span("sources.calibrate")(CostRouter.calibrateIfNeeded(spark, out))

  protected def registerDims(): Unit =
    Seq("supplier", "nation", "part", "orders").foreach { n =>
      spark.read.parquet(src(n)).createOrReplaceTempView(n)
    }
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, dir: String,
      params: Map[String, String], t: Tracer): Workload = name match {
    case "block_cache" => new BlockCache(spark, data, dir, params, t)
    case "ingest_read" => new IngestRead(spark, data, dir, params, t)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Sidecar and view files, as opposed to table data. */
  def isSidecar(path: String, views: Seq[String]): Boolean =
    path.contains("/_graft_") || views.exists(v => path.startsWith(new File(v).getAbsolutePath))

  def fileBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(fileBytes).sum).getOrElse(0L)
    else f.length()

  /** Visible parquet data files directly under a table root. */
  def dataFiles(root: String): Seq[String] =
    Option(new File(root).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getAbsolutePath).sorted
}

/** `GraftEngine.sql` over the micro-block layout with a block cache
  * smaller than the working set; the prefetch service ticks
  * synchronously before each read and the tick counts in its latency. */
final class BlockCache(spark: SparkSession, data: String, dir: String,
    params: Map[String, String], t: Tracer) extends Workload(spark, data, dir, params, t) {
  private var engine: GraftEngine = _
  private val trainPreds = scala.collection.mutable.ArrayBuffer.empty[Pred]
  private var warmed: Seq[Int] = Nil
  private var lastTickMs = 0.0
  private var lastSqlMs = 0.0
  private var hits = 0L
  private var misses = 0L
  def root: String = s"$dir/lineitem"

  def setup(): Unit = {
    layout(root)
    engine = t.span("sources.zone_index")(
      new GraftEngine(spark, root, "lineitem", cacheCapacity = params("cache_capacity").toInt))
    calibrate(root)
  }

  /** Fit the Markov model on the block sequence of the "train" ops
    * (two turns of the periodic cycle), asking the engine for all their
    * candidate sets in one decision job. */
  def fit(): Unit =
    engine.prefetcher = new MarkovPrefetcher(1)
      .fitSeq(spark, engine.candidatesMany(trainPreds.toSeq).flatten)

  def run(op: Op): Option[Seq[Seq[Any]]] =
    if (op.kind == "train") { trainPreds += pred(op); None }
    else serve(op)

  private def serve(op: Op): Option[Seq[Seq[Any]]] = {
    hits = engine.cache.hits
    misses = engine.cache.misses
    val t0 = System.nanoTime()
    warmed = t.span("engine.tick")(engine.service.tick())
    val t1 = System.nanoTime()
    val df = t.span("engine.sql")(engine.sql(op.text))
    lastTickMs = (t1 - t0) / 1e6
    lastSqlMs = (System.nanoTime() - t1) / 1e6
    action(df)
  }

  private def ts(s: String) = PredValue.ts(s)

  /** The range as a predicate, for the engine's own candidate set. */
  private def pred(op: Op): Pred =
    if (op.template == "between") Between("l_shipdate", ts(op.lo), ts(op.hi))
    else And(Cmp(">=", "l_shipdate", ts(op.lo)), Cmp("<", "l_shipdate", ts(op.hi)))

  override def opCounters(op: Op): Map[String, Any] = {
    val served = engine.accessLog.all.last.blocks
    Map(
      "tick_ms" -> lastTickMs,
      "sql_ms" -> lastSqlMs,
      "hits" -> (engine.cache.hits - hits),
      "misses" -> (engine.cache.misses - misses),
      "served" -> served.size,
      "candidates" -> engine.candidates(pred(op)).size,
      // the tick runs before the op's query, so what it warmed is a
      // prediction of exactly this op's blocks
      "warmed" -> warmed.size,
      "warmed_used" -> warmed.count(served.toSet))
  }

  def sourceBytes: Long = new File(src("lineitem")).length()
}

/** `StreamIngest` commits generated batches into a micro-block root
  * that carries zone and dictionary sidecars and a maintained AggView;
  * reads from the serve templates run between commits. */
final class IngestRead(spark: SparkSession, data: String, dir: String,
    params: Map[String, String], t: Tracer) extends Workload(spark, data, dir, params, t) {
  private var query: StreamingQuery = _
  private var landed = Seq.empty[Long]
  private var commitStartMs = 0L
  def root: String = s"$dir/lineitem"
  override def views: Seq[String] = Seq(s"$dir/views/lineitem_suppkey")
  private def inbox: String = s"$dir/inbox"

  def setup(): Unit = {
    layout(root)
    zoneIndex(root)
    dictIndex(root)
    aggView(root, views.head)
    calibrate(root)
    registerDims()
    Files.createDirectories(Paths.get(inbox))
    val ingest = new StreamIngest(spark, root, "lineitem", "l_shipdate",
      params("blocks_per_batch").toInt, maintainViews = views)
    val schema = spark.read.parquet(src("lineitem")).schema
    query = ingest.start(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(inbox),
      "perfbench_ingest")
  }

  def run(op: Op): Option[Seq[Seq[Any]]] =
    if (op.isRead) {
      // a reader of a growing table lists it afresh for every query
      t.span("spark.read")(spark.read.parquet(root).createOrReplaceTempView("lineitem"))
      action(sql(op.text))
    } else {
      val batch = new File(s"$data/${op.text}")
      commitStartMs = System.currentTimeMillis()
      t.span("streaming.commit") {
        Files.copy(batch.toPath, Paths.get(inbox, s".${batch.getName}"))
        Files.move(Paths.get(inbox, s".${batch.getName}"), Paths.get(inbox, batch.getName),
          StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      }
      landed :+= batch.length()
      None
    }

  /** Files the commit wrote or rewrote (modified since it started),
    * split into data files and sidecar/view files. */
  override def opCounters(op: Op): Map[String, Any] =
    if (op.isRead) Map.empty
    else {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val written = storageRoots.flatMap(r => walk(new File(r)))
        .filter(_.lastModified() >= commitStartMs)
      val (meta, dataW) = written.partition(f => Workload.isSidecar(f.getAbsolutePath, views))
      Map("batch_bytes" -> landed.last,
        "written_bytes" -> written.map(_.length()).sum,
        "data_bytes" -> dataW.map(_.length()).sum,
        "sidecar_bytes" -> meta.map(_.length()).sum)
    }

  override def runCounters: Map[String, Any] =
    Map("files_total" -> Workload.dataFiles(root).size)

  override def teardown(): Unit = if (query != null) query.stop()

  def sourceBytes: Long = new File(src("lineitem")).length() + landed.sum
}
