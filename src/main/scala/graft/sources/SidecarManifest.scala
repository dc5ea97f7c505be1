package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The ONE owner of the sidecar contract: where a table's `_graft*`
  * sidecars live, how they are saved, which build anchor dates them,
  * and when they are current.
  *
  * PRESENCE: one `listStatus(root)` per (table root, session), whose
  * `_graft*`-prefixed child names are memoized — a layer first asks
  * [[has]]; only a PRESENT name pays its own reads. Before round 11
  * each of the four layers (`_graft_index`, `_graft_dict`,
  * `_graft_bloom`, `_graft_views`) paid its own negative probe on the
  * planning hot path.
  *
  * LOCATION and SAVE: a sidecar of kind `k` lives at `<root>/k`
  * ([[location]]); [[save]] writes it, then invalidates every memo of
  * the root, so same-session discovery sees the new state. Other-
  * process writes are picked up by any new session (keys include a
  * per-session UUID, [[sessionKey]] — the one session→UUID map of the
  * code base). A nonexistent or unlistable root memoizes as empty (no
  * markers) — conservative: discovery is an optimization, never
  * correctness.
  *
  * ANCHOR: a saved sidecar is dated by its `_SUCCESS` mtime
  * ([[anchor]]), read behind the presence memo — one stat per call,
  * never memoized, so a rebuild is seen by the next query.
  *
  * CURRENCY, in two grades, the only two in the code base:
  *   - [[prunable]]: no live data file is newer than the anchor. Enough
  *     to PRUNE — a live file the sidecar does not know is never
  *     skipped, while one rewritten after the build could be;
  *   - [[servable]]: prunable AND the sidecar's recorded file set
  *     equals the live listing. Required to SERVE values from a
  *     sidecar (a missing file undercounts, a dead one overcounts).
  *
  * [[probeCount]] counts ACTUAL filesystem listings (cache misses) —
  * the observable ExtensionsSpec pins to one per unmarked table.
  */
object SidecarManifest {

  /** Total filesystem listings performed (cache misses only). */
  val probeCount = new java.util.concurrent.atomic.AtomicLong(0L)

  // (normalized root, session-uuid) -> `_graft*` child names present
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), Set[String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Set[String]]): Boolean =
        size > 512
    })

  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** A collision-free per-session key for session-scoped memos (an
    * identity hash can collide across sessions). The map is WEAK, so
    * dead sessions don't pin entries. */
  private[graft] def sessionKey(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** The zone-map index sidecar ([[MicroBlockIndex]]). */
  val Zone = "_graft_index"

  /** The dictionary index sidecar ([[DictionaryIndex]]). */
  val Dict = "_graft_dict"

  /** Where a sidecar of `kind` lives: `<tablePath>/<kind>`. The
    * underscore prefix hides it from Spark's file listing (the
    * `_metadata` / `_delta_log` convention), so the table's own scans
    * never read it as data, and any session finds it from the table
    * path alone. */
  def location(tablePath: String, kind: String): String =
    new Path(tablePath, kind).toString

  /** Write the `kind` sidecar of `tablePath` through `write` (handed
    * its [[location]]), then drop the root's memos. A sidecar needs a
    * DIRECTORY table root: `<file>.parquet/<kind>` cannot exist, so a
    * single-file table is refused before anything is written. */
  def save(spark: SparkSession, tablePath: String, kind: String)(
      write: String => Unit): Unit = {
    val root = new Path(tablePath)
    val isFile =
      try root.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(root).isFile
      catch { case _: java.io.FileNotFoundException => false }
    require(!isFile, s"cannot save a $kind sidecar for $tablePath: " +
      "the table is a single file, and sidecars live in its directory")
    write(location(tablePath, kind))
    invalidate(tablePath)
  }

  /** The `kind` sidecar's build anchor — its `_SUCCESS` mtime — or
    * None when the shared listing shows no such sidecar or it has no
    * `_SUCCESS` (an unfinished or swapped-out write). */
  def anchor(rootPath: String, session: SparkSession,
      kind: String): Option[Long] =
    if (!has(rootPath, session, kind)) None
    else
      try {
        val p = new Path(location(rootPath, kind), "_SUCCESS")
        Some(p.getFileSystem(session.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getModificationTime)
      } catch { case scala.util.control.NonFatal(_) => None }

  /** Prune-grade currency: no live data file is newer than `anchor`. */
  def prunable(anchor: Long, liveMtimes: Iterator[Long]): Boolean =
    liveMtimes.forall(_ <= anchor)

  /** Serve-grade currency: [[prunable]] and the sidecar's `recorded`
    * file set equals the `live` listing (both keyed by
    * [[graft.plans.ZoneMapPruneRule.normFile]]; live values are
    * (mtime, size)). `recorded` is only computed when the anchor
    * passes. */
  def servable(anchor: Long, recorded: => Set[String],
      live: Map[String, (Long, Long)]): Boolean =
    prunable(anchor, live.valuesIterator.map(_._1)) && recorded == live.keySet

  /** Does `plan` read a `kind` sidecar — directly, or through a cached
    * frame Spark's cache manager substituted for the read? Matched on
    * the scans' root paths, never on plan strings: Spark abbreviates a
    * scan's location in its string form
    * (`spark.sql.maxMetadataStringLength`, 100 characters), so a string
    * match misses sidecars under long paths. */
  def readIn(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      kind: String): Boolean = plan.exists {
    case org.apache.spark.sql.execution.datasources.LogicalRelation(
        h: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) =>
      h.location.rootPaths.exists(_.getName == kind)
    case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
      readIn(m.cacheBuilder.logicalPlan, kind)
    case _ => false
  }

  /** [[servable]] for a table outside any query plan: the anchor, one
    * recursive listing ([[MicroBlockIndex.listParquetFilesWithStatus]])
    * and one job collecting the sidecar's recorded `file` column; false
    * on any doubt. For [[graft.engine.GraftEngine]]'s index reuse and
    * layout builders deciding whether to rebuild. */
  def current(spark: SparkSession, tablePath: String, kind: String): Boolean = {
    import graft.plans.ZoneMapPruneRule.normFile
    try anchor(tablePath, spark, kind).exists(a => servable(a,
      spark.read.parquet(location(tablePath, kind)).select("file").distinct()
        .collect().map(r => normFile(r.getString(0))).toSet,
      MicroBlockIndex.listParquetFilesWithStatus(tablePath)
        .map { case (f, m, n) => normFile(f) -> ((m, n)) }.toMap))
    catch { case scala.util.control.NonFatal(_) => false }
  }

  // the QUALIFYING normalization (not the cheap scheme-strip): writers
  // invalidate with whatever spelling they were handed — often a
  // relative path — and it must hit the same key the planner's
  // absolute rootPaths probed under. makeQualified is string/VFS work,
  // no disk I/O.
  private def norm(p: String): String =
    graft.plans.ZoneMapPruneRule.norm(p)

  /** The `_graft*` child names present under `rootPath` — one
    * listStatus per (root, session), positive and negative memoized.
    *
    * The listing runs under the SESSION's Hadoop configuration
    * ([[org.apache.spark.sql.internal.SessionState.newHadoopConf]]:
    * core conf + the session's own `spark.hadoop.*`/runtime
    * overrides) — a bare `new Configuration()` lacks per-session
    * filesystem credentials (s3a keys), so the probe would throw and
    * every sidecar layer would silently disable on exactly the
    * deployments that configure their filesystems. A nonexistent root
    * is a stable ANSWER (FileNotFound ⇒ no markers, memoized); any
    * other failure is transient and is NOT memoized — the next query
    * re-probes instead of pinning EMPTY for the whole session. */
  def probe(rootPath: String, session: SparkSession): Set[String] = {
    val key = (norm(rootPath), sessionKey(session))
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      probeCount.incrementAndGet()
      try {
        val root = new Path(rootPath)
        val names = root.getFileSystem(session.sessionState.newHadoopConf())
          .listStatus(root)
          .iterator.map(_.getPath.getName)
          .filter(_.startsWith("_graft")).toSet
        cache.put(key, names)
        names
      } catch {
        case _: java.io.FileNotFoundException =>
          cache.put(key, Set.empty[String]); Set.empty
        case scala.util.control.NonFatal(_) => Set.empty // not memoized
      }
    }
  }

  /** Does `rootPath` carry a sidecar/marker named `name`? The one call
    * every layer's discovery makes BEFORE paying its own reads. */
  def has(rootPath: String, session: SparkSession, name: String): Boolean =
    probe(rootPath, session).contains(name)

  /** Drop the memo for one root (all sessions) — called by every
    * in-repo sidecar/marker writer so same-session discovery sees the
    * new state. */
  def invalidate(rootPath: String): Unit = {
    val r = norm(rootPath)
    cache.synchronized {
      val it = cache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == r) it.remove()
    }
    DictionaryIndex.invalidateBytes(rootPath)
  }

  /** Drop every memo (test isolation / explicit register calls). */
  def invalidateAll(): Unit = {
    cache.clear()
    DictionaryIndex.invalidateAllBytes()
  }
}
