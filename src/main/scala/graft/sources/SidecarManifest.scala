package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The ONE owner of the sidecar contract: where a table's `_graft*`
  * sidecars and markers live, how they are saved, swapped, deleted and
  * read, which build anchor dates them, and when they are current. No
  * other code names a sidecar or marker or reads a sidecar's
  * `_SUCCESS`.
  *
  * PRESENCE: one `listStatus(root)` per (table root, session), whose
  * `_graft*`-prefixed child names are memoized — a layer first asks
  * [[has]]; only a PRESENT name pays its own reads. Before round 11
  * each of the four layers (`Zone`, `Dict`, `Bloom`, `Views`) paid its
  * own negative probe on the planning hot path.
  *
  * LOCATION and SAVE: a sidecar of kind `k` lives at `<root>/k`
  * ([[location]]); [[save]] writes it to a sibling and swaps it into
  * place, so the write may read the sidecar it replaces (a refresh of
  * a loaded index), then invalidates every memo of the root, so
  * same-session discovery sees the new state. Other-process writes are
  * picked up by any new session (keys include a per-session UUID,
  * [[sessionKey]] — the one session→UUID map of the code base). A
  * nonexistent or unlistable root memoizes as empty (no markers) —
  * conservative: discovery is an optimization, never correctness.
  *
  * MARKERS: small text files beside the data naming what a table
  * carries (bloom'd columns, view paths, the bucket spec). [[marker]]
  * reads one at most once per (root, session), into the same memo
  * entry as the presence listing; [[writeMarker]] is the one writer.
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

  /** One root's listing in one session: the `_graft*` names present,
    * and the markers read so far (None = unreadable or empty). */
  private final class Listing(val names: Set[String]) {
    val markers = scala.collection.concurrent.TrieMap.empty[String, Option[(Long, String)]]
  }

  // (normalized root, session-uuid) -> that root's listing
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), Listing](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Listing]): Boolean =
        size > 512
    })

  /** One shared, read-only Hadoop conf for paths outside any session:
    * building a `Configuration` parses its XML resources, tens of
    * milliseconds per call. */
  private[graft] lazy val sharedConf = new Configuration()

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

  /** The bloom'd-columns marker ([[BloomPruning.writeMarker]]). */
  val Bloom = "_graft_bloom"

  /** The view-paths marker ([[AggView.writeMarker]]). */
  val Views = "_graft_views"

  /** The bucket-spec marker ([[Bucketing.writeBucketed]]). */
  val BucketSpec = "_graft_bucket_spec.json"

  /** Where a sidecar of `kind` lives: `<tablePath>/<kind>`. The
    * underscore prefix hides it from Spark's file listing (the
    * `_metadata` / `_delta_log` convention), so the table's own scans
    * never read it as data, and any session finds it from the table
    * path alone. */
  def location(tablePath: String, kind: String): String =
    new Path(tablePath, kind).toString

  /** The parquet directory at `path` — a saved sidecar or index — as a
    * DataFrame, with `schema` pinned (no inference job) or else the
    * files' own. The rows and the plan are `spark.read.parquet(path)`'s,
    * but the relation is built over the directory's own file index:
    * `spark.read` checks the root's NAME and warns "All paths were
    * ignored" for every `_`-prefixed directory, which is every
    * sidecar. A missing directory throws, as `spark.read` does. */
  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val dir = fs.makeQualified(new Path(path))
    if (!fs.exists(dir)) throw new java.io.FileNotFoundException(s"no sidecar at $path")
    val index = new InMemoryFileIndex(spark, Seq(dir), Map.empty, schema)
    val format = new ParquetFileFormat()
    val dataSchema = schema
      .orElse(format.inferSchema(spark, Map.empty, index.allFiles()))
      .getOrElse(throw new IllegalStateException(s"no parquet schema at $path"))
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, LogicalRelation(
      HadoopFsRelation(index, index.partitionSchema,
        org.apache.spark.sql.graftbridge.PlanBridge.nullable(dataSchema), None,
        format, Map.empty)(spark)))
  }

  /** Write the `kind` sidecar of `tablePath` through `write`, then drop
    * the root's memos. `write` is handed a `<kind>__swap` sibling; the
    * old sidecar is then deleted and the sibling renamed into place, so
    * `write` may read the sidecar it replaces (a refresh of a loaded
    * index). A crash between the delete and the rename leaves no
    * sidecar, never a half-written one, and a reader mid-swap sees no
    * `_SUCCESS` — both refuse every serve. A sidecar needs a DIRECTORY
    * table root: `<file>.parquet/<kind>` cannot exist, so a single-file
    * table is refused before anything is written. */
  def save(spark: SparkSession, tablePath: String, kind: String)(
      write: String => Unit): Unit = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val isFile =
      try fs.getFileStatus(root).isFile
      catch { case _: java.io.FileNotFoundException => false }
    require(!isFile, s"cannot save a $kind sidecar for $tablePath: " +
      "the table is a single file, and sidecars live in its directory")
    val target = new Path(location(tablePath, kind))
    val tmp = new Path(root, kind + "__swap")
    fs.delete(tmp, true)
    write(tmp.toString)
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"sidecar swap rename failed: $tmp -> $target")
    invalidate(tablePath)
  }

  /** Delete the `kind` sidecar or marker of `tablePath`, if any, and
    * drop the root's memos. */
  def delete(tablePath: String, kind: String): Unit = {
    val p = new Path(location(tablePath, kind))
    p.getFileSystem(sharedConf).delete(p, true)
    invalidate(tablePath)
  }

  /** Write the marker `name` of `tablePath` with `text`, replacing any
    * earlier one, and drop the root's memos. */
  def writeMarker(tablePath: String, name: String, text: String): Unit = {
    val p = new Path(location(tablePath, name))
    val out = p.getFileSystem(sharedConf).create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    invalidate(tablePath)
  }

  /** The marker `name` of `rootPath` as (mtime, text); None when the
    * shared listing shows none, or it is a directory or unreadable. A
    * marker is read at most once per (root, session), into the memo
    * entry of the presence listing, so [[invalidate]] drops both. A
    * read failure other than a missing file is not memoized. */
  def marker(rootPath: String, session: SparkSession,
      name: String): Option[(Long, String)] = {
    val listing = listed(rootPath, session)
    if (!listing.names.contains(name)) None
    else listing.markers.get(name) match {
      case Some(hit) => hit
      case None =>
        try {
          val p = new Path(location(rootPath, name))
          val fs = p.getFileSystem(session.sessionState.newHadoopConf())
          val st = fs.getFileStatus(p)
          val read =
            if (st.isDirectory) None
            else {
              val in = fs.open(p)
              try Some((st.getModificationTime,
                new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)))
              finally in.close()
            }
          listing.markers.put(name, read)
          read
        } catch {
          case _: java.io.FileNotFoundException =>
            listing.markers.put(name, None); None
          case scala.util.control.NonFatal(_) => None
        }
    }
  }

  /** A marker's text as its non-empty trimmed lines; None when absent
    * or blank. */
  def markerLines(rootPath: String, session: SparkSession,
      name: String): Option[Seq[String]] =
    marker(rootPath, session, name)
      .map(_._2.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

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
      read(spark, location(tablePath, kind),
        Some(StructType(Seq(StructField("file", StringType))))).distinct()
        .collect().map(r => normFile(r.getString(0))).toSet,
      MicroBlockIndex.listParquetFilesWithStatus(tablePath)
        .map { case (f, m, n) => normFile(f) -> ((m, n)) }.toMap))
    catch { case scala.util.control.NonFatal(_) => false }
  }

  // writers invalidate with whatever spelling they were handed — often
  // a relative path — and it must hit the same key the planner's
  // absolute rootPaths probed under: the cheap scheme-strip for
  // absolute spellings (this sits on the planning hot path, once per
  // anchor read), the qualifying normalization for relative ones
  private def norm(p: String): String =
    graft.plans.ZoneMapPruneRule.rootKey(p)

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
  def probe(rootPath: String, session: SparkSession): Set[String] =
    listed(rootPath, session).names

  private def listed(rootPath: String, session: SparkSession): Listing = {
    val key = (norm(rootPath), sessionKey(session))
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      probeCount.incrementAndGet()
      try {
        val root = new Path(rootPath)
        val l = new Listing(
          try root.getFileSystem(session.sessionState.newHadoopConf())
            .listStatus(root)
            .iterator.map(_.getPath.getName)
            .filter(_.startsWith("_graft")).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] })
        cache.put(key, l)
        l
      } catch {
        case scala.util.control.NonFatal(_) => new Listing(Set.empty) // not memoized
      }
    }
  }

  /** Does `rootPath` carry a sidecar/marker named `name`? The one call
    * every layer's discovery makes BEFORE paying its own reads. */
  def has(rootPath: String, session: SparkSession, name: String): Boolean =
    probe(rootPath, session).contains(name)

  /** Drop the memo for one root (all sessions), its listing and its
    * markers — called by every sidecar/marker write so same-session
    * discovery sees the new state. */
  def invalidate(rootPath: String): Unit = {
    val r = norm(rootPath)
    cache.synchronized {
      val it = cache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == r) it.remove()
    }
    DictionaryIndex.invalidateBytes(rootPath)
    DictionaryIndex.dropFrames(rootPath)
    graft.plans.ZoneSnapshot.drop(rootPath)
  }

  /** Drop every memo (test isolation / explicit register calls). */
  def invalidateAll(): Unit = {
    cache.clear()
    DictionaryIndex.invalidateAllBytes()
    DictionaryIndex.dropAllFrames()
    graft.plans.ZoneSnapshot.dropAll()
  }
}
