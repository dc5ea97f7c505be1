package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The measurement core every `main` harness builds on — the session,
  * the warm-up, the timing, the calm-window gate and the JSON line
  * each exist once, here:
  *
  *   - [[session]] / [[plainSession]]: `local[cpus]` with the shuffle
  *     width matched to [[cpus]] (SPARK_GRAFT_CPUS, else the machine's
  *     available processors), UI off, WARN logging; each harness adds
  *     only its own confs.
  *   - [[timed]]: median of isolated reps, each after a cache clear and
  *     a full GC (a heavy neighbour leaves the old gen full of dead
  *     Tungsten pages and the next rep pays that GC debt inside its
  *     timed region: identical q12 reps measured 20/43/90 s without the
  *     collection, 19–21 s with it). [[sink]] is the timed action:
  *     a noop write materializes every output row, where `count()`
  *     lets ColumnPruning drop projected and aggregated work.
  *   - [[calmGated]]: this box has hypervisor-steal windows where
  *     untouched code appears 1.5–4× slower and the next calm window
  *     clears every "regression". [[satProbe]] is a core-saturating
  *     canary (trivial jobs read clean during steal windows, a
  *     saturating one cannot); [[calmRef]] persists the best-ever
  *     canary per parallelism under `target/sat_calm_ref.txt` — the
  *     box's self-calibrating idle reference. A pass is CALM when every
  *     canary sample ≤ [[DriftFactor]] × ref; a noisy pass re-measures
  *     after a 30/60/120 s backoff, up to [[MaxAttempts]] passes, and
  *     only an all-noisy run reports, flagged `"window_noisy":true`
  *     with all probe values — never a silent sick measurement.
  *   - [[emit]]: the harness's one JSON line on stdout, and optionally
  *     the same line as a `target/` artifact.
  */
object BenchWindow {

  /** A canary sample beyond ref × this is a sick window. The ref is
    * the BEST-EVER sample, so the factor must cover best-ever →
    * typical-calm-max: rounds 7–12 treated 1.35–1.9 s probes as calm
    * windows (≈1.6× the 1.2 s best), while the documented steal
    * windows run 2–4× — 2.0 separates the classes (1.5 flagged
    * ordinary calm jitter once the self-calibrating ref found its
    * floor, observed in the first gated sf0.1 run). */
  val DriftFactor = 2.0

  val RefPath = "target/sat_calm_ref.txt"

  /** Measurement passes before an all-noisy run reports anyway: five
    * passes give a sick window several minutes to clear and cost
    * nothing in a calm one (the first pass accepts). */
  val MaxAttempts = 5

  val UTC: (String, String) = "spark.sql.session.timeZone" -> "UTC"

  /** Local-mode threads: SPARK_GRAFT_CPUS, else available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Shuffle width for the big-shuffle harnesses: more partitions mean
    * less per-task build memory and spill at scale
    * (SPARK_GRAFT_SHUFFLE_PARTITIONS, else [[cpus]]). */
  def shufflePartitions: (String, String) = "spark.sql.shuffle.partitions" ->
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString)

  /** Harness session with graft's extensions; `conf` entries apply
    * last, so they may override the defaults. */
  def session(conf: (String, String)*): SparkSession = build(extensions = true, conf)

  /** [[session]] without graft's extensions (plain Spark). */
  def plainSession(conf: (String, String)*): SparkSession = build(extensions = false, conf)

  private def build(extensions: Boolean, conf: Seq[(String, String)]): SparkSession = {
    val n = cpus.toString
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    if (extensions) b.withExtensions(new GraftExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def timeOnce(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Trivial single-stage job, timed: the JVM warm-up, and the
    * fixed-overhead probe the artifacts embed. */
  def probe(spark: SparkSession): Double =
    timeOnce(spark.range(1000000).selectExpr("sum(id)").collect())

  /** JVM + canary warm-up for calm-gated harnesses: the canary's first
    * run pays one-time class generation (~2×), which would misread as a
    * noisy start-of-run window. */
  def warm(spark: SparkSession): Unit = { probe(spark); satProbe(spark) }

  /** The timed action: a noop write of every output row. */
  def sink(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One timed arm: rep seconds in ascending order plus the last rep's
    * value (for the arms' row-equality checks). */
  final case class Reps[T](sorted: Seq[Double], value: T) {
    def median: Double = sorted(sorted.size / 2)
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** `reps` isolated runs of `body`, each after a full GC and — unless
    * `clearCache` is off, for arms that time against a persisted
    * index — a cache clear (several operators persist intermediates
    * that would otherwise bleed into the next run). `prep` runs
    * untimed before each rep's GC. */
  def timed[T](spark: SparkSession, reps: Int, clearCache: Boolean = true,
      prep: () => Unit = () => ())(body: => T): Reps[T] = {
    var value: Option[T] = None
    val ts = (1 to reps).map { _ =>
      if (clearCache) spark.catalog.clearCache()
      prep()
      System.gc()
      timeOnce { value = Some(body) }
    }
    Reps(ts.sorted, value.get)
  }

  /** [[timed]] as (median seconds, last rep's value). */
  def medianOf[T](spark: SparkSession, reps: Int, clearCache: Boolean = true,
      prep: () => Unit = () => ())(body: => T): (Double, T) = {
    val r = timed(spark, reps, clearCache, prep)(body)
    (r.median, r.value)
  }

  /** Core-SATURATING noise canary: a 32M-row parallel hash aggregate,
    * one task per core, ~1M distinct keys — long enough on every core
    * that hypervisor steal shows in the probe. */
  def satProbe(spark: SparkSession): Double =
    timeOnce {
      val p = spark.sparkContext.defaultParallelism
      spark.range(0, 32000000L, 1, p)
        .selectExpr("id % 1048576 AS k")
        .groupBy("k").count()
        .selectExpr("sum(count)").collect()
    }

  /** 1-minute system load average, or -1 when unreadable — recorded in
    * artifacts so a judge can cross-check the canary's verdict. */
  def loadavg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Fold `observed` into the persisted per-parallelism calm
    * reference and return the updated (lowest-ever) value. The file
    * holds `parallelism=seconds` lines. */
  def calmRef(spark: SparkSession, observed: Double): Double = synchronized {
    val key = spark.sparkContext.defaultParallelism.toString
    val path = java.nio.file.Paths.get(RefPath)
    val existing: Map[String, Double] =
      try {
        if (java.nio.file.Files.exists(path))
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(path)).asScala
            .flatMap { l =>
              l.split("=") match {
                case Array(k, v) => scala.util.Try(k -> v.toDouble).toOption
                case _ => None
              }
            }.toMap
        else Map.empty
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val ref = math.min(existing.getOrElse(key, Double.MaxValue), observed)
    try {
      java.nio.file.Files.createDirectories(path.getParent)
      val updated = existing + (key -> ref)
      java.nio.file.Files.write(path,
        updated.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () }
    ref
  }

  /** Every canary sample within drift of the idle reference? */
  def isCalm(ref: Double, probes: Seq[Double]): Boolean =
    probes.forall(_ <= ref * DriftFactor)

  /** The accepted pass's window facts: canary samples in order
    * (start, any mid samples, end), the calm reference, passes run,
    * the verdict, and the load average around the whole gate. */
  final case class Window(sat: Seq[Double], calmRef: Double, attempts: Int,
      noisy: Boolean, loadStart: Double, loadEnd: Double) {
    def satStart: Double = sat.head
    def satEnd: Double = sat.last
    def satMid: Double = if (sat.size > 2) sat(1) else -1.0
    /** The window keys the gated artifacts share. */
    def json: String =
      s""""sat_probe_start_sec":$satStart,"sat_probe_end_sec":$satEnd,""" +
        s""""sat_calm_ref_sec":$calmRef,"window_noisy":$noisy,""" +
        s""""window_attempts":$attempts,"loadavg":$loadEnd"""
  }

  /** Run `measure` between two canary samples until a pass is calm or
    * [[MaxAttempts]] passes ran; `measure` may take extra canary
    * samples mid-pass through the function it is handed. Returns the
    * last pass's result and its window. */
  def calmGated[T](spark: SparkSession, label: String)(
      measure: (() => Unit) => T): (T, Window) = {
    val loadStart = loadavg()
    @annotation.tailrec
    def pass(attempt: Int): (T, Window) = {
      val sat = scala.collection.mutable.ArrayBuffer(satProbe(spark))
      val out = measure(() => sat += satProbe(spark))
      sat += satProbe(spark)
      val ref = calmRef(spark, sat.min)
      val calm = isCalm(ref, sat.toSeq)
      if (calm || attempt >= MaxAttempts)
        (out, Window(sat.toSeq, ref, attempt, !calm, loadStart, loadavg()))
      else {
        System.err.println(s"$label window NOISY (attempt $attempt: " +
          s"sat=${sat.mkString(",")} ref=$ref) — pausing and re-measuring")
        Thread.sleep(30000L << math.min(attempt - 1, 2))
        pass(attempt + 1)
      }
    }
    pass(1)
  }

  /** The file-source relations a plan reads, after optimization — the
    * harnesses' audit of which files an arm scans. */
  def fileRelations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        r.relation.asInstanceOf[HadoopFsRelation]
    }

  /** Has a Spark write completed into `dir`? (Harness layouts are
    * pay-once: a surviving one is reused.) */
  def written(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))

  /** JSON string literal: backslash, quote and ALL control chars
    * escaped — a tab or CR in a message or SQL text would otherwise
    * make a consumer's json.load fail. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Print the harness's one JSON line; with `artifact`, persist it
    * there too (a long stdout line can be truncated by whatever
    * captures the tail of sbt's output). */
  def emit(line: String, artifact: String = ""): Unit = {
    println(line)
    if (artifact.nonEmpty)
      try {
        val out = java.nio.file.Paths.get(artifact)
        java.nio.file.Files.createDirectories(out.toAbsolutePath.getParent)
        java.nio.file.Files.write(out,
          line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(s"$artifact write failed: ${t.getMessage}")
      }
  }
}
