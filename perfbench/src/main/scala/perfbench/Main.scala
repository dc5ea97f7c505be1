package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run: build the workload's state once, run one untimed
  * pass over its op templates, run every generated op in a closed loop
  * (the op list is a fixed amount of work, so the loop's length is set
  * by the program's speed), then write what was measured under `--dir`
  * for run.py to check and summarize:
  *
  *   - `result.json`: set-up times, one record per op, storage, memory
  *     and the run environment;
  *   - `checks.jsonl`: the rows of every distinct read, for the oracle;
  *   - `spans.jsonl`: every span (set-up calls always; ops when traced).
  *
  * With `--trace 1` listeners are attached, every op is followed by a
  * listener-bus drain outside its timed region, and ops are traced in
  * alternating pairs (0 and 1 traced, 2 and 3 not, ...): traced ops
  * have their spans and Spark metrics recorded, and the difference
  * between the two halves measures what tracing itself costs. Pairs,
  * not odd/even, so that neither half lines up with the period of a
  * workload's op pattern. */
object Main {
  private val GraftRules = Seq("ZoneMapPruneRule", "ZoneAggRule", "DictDistinctRule",
    "AggViewRewriteRule", "EagerAggregationRule", "BucketLayoutRule", "DecimalSumRule")
  private val Phases = Seq("analysis", "optimization", "planning")

  private def readTsv(path: String): Seq[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toList
    finally src.close()
  }

  private def readOps(path: String): Seq[Op] =
    readTsv(path).map(f => Op(f(0), f(1), f(2) == "1", f(3), f(4), f(5)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = new File(opt("dir")).getAbsolutePath
    val data = s"$dir/data"
    val traceRun = opt("trace") == "1"
    val params = readTsv(s"$dir/params.tsv").map(f => f(0) -> f(1)).toMap
    val cores = params("cores")

    val spark = graft.engine.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/tmp")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/checkpoints")
      .withExtensions(new graft.GraftExtensions)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val uptime = scala.collection.mutable.LinkedHashMap[String, Any](
      "session_ready_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3)

    val t = new Tracer
    val probe = new SparkProbe
    if (traceRun) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val w = Workload(opt("workload"), spark, data, s"$dir/state", params, t)
    val warmOps = readOps(s"$dir/warm.tsv")
    val ops = readOps(s"$dir/ops.tsv")

    // ---- set-up: build the state, then one pass over the templates
    // (first queries pay sidecar loads, router decisions and code
    // generation) ----
    val tb = System.nanoTime()
    t.op = -1
    t.active = true
    w.setup()
    t.active = false
    val buildS = (System.nanoTime() - tb) / 1e9
    val t0 = System.nanoTime()
    warmOps.foreach(w.run)
    w match { case b: BlockCache => b.fit() case _ => }
    val passS = (System.nanoTime() - t0) / 1e9
    if (traceRun) probe.take(spark)

    def env(): Map[String, Any] = Map(
      "loadavg" -> graft.BenchWindow.loadavg(),
      // the saturating canary costs seconds, so only traced runs pay it
      "sat_probe_s" -> (if (traceRun) graft.BenchWindow.satProbe(spark) else -1.0))
    val envBefore = env()
    uptime("setup_done_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // ---- measured closed loop ----
    val checks = new PrintWriter(s"$dir/checks.jsonl", "UTF-8")
    val checked = scala.collection.mutable.Set.empty[String]
    val records = ArrayBuffer.empty[String]
    var timedNs = 0L
    var commits = 0
    var i = 0
    val hasCommits = ops.exists(!_.isRead)
    while (i < ops.size) {
      val op = ops(i)
      val traced = traceRun && (i / 2) % 2 == 0
      t.op = i
      t.active = traced
      var err: String = null
      val t0 = System.nanoTime()
      val rows = try t.span("op")(w.run(op)) catch {
        case NonFatal(e) => err = s"${e.getClass.getName}: ${e.getMessage}"; None
      }
      val ns = System.nanoTime() - t0
      t.active = false
      timedNs += ns
      if (!op.isRead && err == null) commits += 1

      val rec = scala.collection.mutable.LinkedHashMap[String, Any](
        "i" -> i, "kind" -> op.kind, "template" -> op.template, "serve" -> op.serve,
        "ms" -> ns / 1e6, "traced" -> traced, "ok" -> (err == null))
      if (err != null) rec("err") = err
      if (traceRun) {
        val snap = probe.take(spark)
        if (traced) rec ++= queryPath(t, i, snap, w.root)
        try rec ++= w.opCounters(op)
        catch { case NonFatal(e) => rec("counter_err") = e.toString }
      }
      // correctness: the rows of every distinct read (per data state)
      // go to the oracle
      if (op.isRead && err == null) {
        val key = if (hasCommits) s"${op.text}@$commits" else op.text
        rec("key") = key
        if (!checked(key)) {
          checked += key
          checks.println(Json.value(Map("key" -> key, "sql" -> op.text,
            "lineitem" -> Workload.dataFiles(w.root), "rows" -> rows.get)))
        }
      }
      if (traceRun) probe.take(spark)
      records += Json.value(rec.toMap)
      i += 1
    }
    checks.close()
    uptime("loop_done_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // ---- after the loop: storage, memory, environment ----
    val storage = w.storageRoots.map(r => Workload.fileBytes(new File(r))).sum
    val sidecar = w.storageRoots.map { r =>
      val f = new File(r)
      if (w.views.contains(r)) Workload.fileBytes(f)
      else Option(f.listFiles()).toSeq.flatten.filter(_.getName.startsWith("_graft"))
        .map(Workload.fileBytes).sum
    }.sum
    // in local mode the executor's block store lives on this heap, so
    // heap in use already holds every persisted block
    System.gc(); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val runCounters = w.runCounters
    val envAfter = env()
    w.teardown()
    uptime("end_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val tables = Seq("supplier", "nation", "part", "orders")
      .map(n => n -> Seq(new File(s"$data/$n.parquet").getAbsolutePath)).toMap
    val out = new PrintWriter(s"$dir/result.json", "UTF-8")
    out.println("{" + Seq(
      "setup_build_s" -> Json.value(buildS),
      "setup_pass_s" -> Json.value(passS),
      "timed_s" -> Json.value(timedNs / 1e9),
      "storage_bytes" -> Json.value(storage),
      "sidecar_bytes" -> Json.value(sidecar),
      "source_bytes" -> Json.value(w.sourceBytes),
      "retained_mb" -> Json.value(heap / 1e6),
      "run" -> Json.value(runCounters),
      "env" -> Json.value(Map(
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "before" -> envBefore, "after" -> envAfter, "jvm_uptime" -> uptime.toMap)),
      "tables" -> Json.value(tables),
      "ops" -> records.mkString("[", ",\n", "]")
    ).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",\n") + "}")
    out.close()

    val spans = new PrintWriter(s"$dir/spans.jsonl", "UTF-8")
    t.spans.foreach { s =>
      spans.println(Json.value(Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    }
    spans.close()
    spark.stop()
  }

  /** Spark query-path metrics of one traced op, and its planning
    * phases and jobs as spans nested under the op's innermost
    * enclosing span. */
  private def queryPath(t: Tracer, op: Int, snap: SparkProbe#Snapshot,
      root: String): Map[String, Any] = {
    // the smallest span of this op that encloses [start, end], else its
    // root; jobs never enclose each other (concurrent jobs are siblings)
    def innermost(start: Long, end: Long): Int = {
      val mine = t.spans.filter(s => s.op == op && s.name != "spark.job")
      mine.filter(s => s.start <= start && end <= s.end)
        .sortBy(s => s.end - s.start).headOption
        .orElse(mine.find(_.parent == -1)).map(_.id).getOrElse(-1)
    }
    // one tracker per QueryExecution, and QueryExecutions may share one
    val trackers = snap.qes.map(_.tracker).distinct
    var planMs = 0L
    for (tr <- trackers; (name, p) <- tr.phases if Phases.contains(name)) {
      planMs += p.durationMs
      val (s, e) = (t.fromWallMs(p.startTimeMs), t.fromWallMs(p.endTimeMs))
      t.add(s"query.$name", innermost(s, e), s, e)
    }
    // after the phases, so a job inside a phase nests under it
    snap.jobs.foreach { j =>
      val (s, e) = (t.fromWallMs(j.startMs), t.fromWallMs(j.endMs))
      t.add("spark.job", innermost(s, e), s, e)
    }
    val ruleMs = GraftRules.map { r =>
      r -> trackers.flatMap(_.rules.collect {
        case (name, sum) if name.endsWith("." + r) => sum.totalTimeNs / 1e6
      }).sum
    }.toMap
    val rootPath = new File(root).getAbsolutePath
    val scans = snap.qes.flatMap(PlanScans.of)
    val base = scans.filter(_._1.exists(p =>
      (p == rootPath || p.startsWith(rootPath + "/")) && !p.contains("/_graft")))
    val actionMs = t.spans.filter(s => s.op == op && s.name == "spark.action")
      .map(s => (s.end - s.start) / 1e6).sum
    Map(
      "plan_ms" -> planMs.toDouble,
      "exec_ms" -> math.max(0.0, actionMs - trackers.flatMap(_.phases.collect {
        case (n, p) if n != "analysis" && Phases.contains(n) => p.durationMs.toDouble
      }).sum),
      "jobs" -> snap.jobs.size,
      "task_s" -> snap.taskMs / 1e3,
      "shuffle_mb" -> snap.shuffleBytes / 1e6,
      "mb_read" -> scans.map(_._3).sum / 1e6,
      "base_files_read" -> base.map(_._2).sum,
      "base_scans" -> base.size,
      "files_total" -> Workload.dataFiles(root).size,
      "rule_ms" -> ruleMs)
  }
}
