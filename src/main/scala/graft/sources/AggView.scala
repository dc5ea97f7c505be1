package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED AGGREGATE VIEW: per-(group,
  * value) frequency counts over a parquet table, persisted so the
  * query shapes Spark pays row-scale for — grouped COUNT(DISTINCT) and
  * exact percentiles — serve from VIEW-scale data instead.
  *
  * Why this is the at-scale answer to those shapes (the sf100 ledger's
  * q16 5.8x / q27 4.7x weak rows — both measured SCAN-bound, not
  * plan-bound): no single-pass plan can beat re-reading 100 TB,
  * but the (group, value, freq) table is bounded by DISTINCT PAIRS,
  * not rows — typically orders of magnitude smaller — and it is
  * exactly the input both shapes need:
  *
  *   - grouped COUNT(DISTINCT value): `COUNT(*) .. WHERE value IS NOT
  *     NULL GROUP BY group` over the view ([[serveCountDistinct]]);
  *     `SUM(freq)` recovers `COUNT(*)` of the base table.
  *   - exact interpolated percentile: Spark's `percentile(value, q,
  *     freq)` builds the identical value->count map it would build
  *     from raw rows, so the result is bit-for-bit the row-scan answer
  *     ([[servePercentile]] — same argument as q27's pre-aggregated
  *     rewrite, but the counts are now READ, not recomputed).
  *
  * Storage (round 11): each generation holds the merged view plus a
  * CHAIN of partial batches —
  *
  *   - `g<N>/` — the merged (group..., value, freq) view that every
  *     serve and the transparent rewrite read (unchanged layout);
  *   - `p<id>/` — PER-FILE PARTIAL BATCHES: the same counts keyed
  *     additionally by `_graft_src` (the base data file each count
  *     came from), append-only — the meta names the LIVE batch ids.
  *
  * The partials are what make [[refresh]] total: frequencies are
  * additive under append (aggregate only the NEW files), and with
  * per-file keys they are also SUBTRACTIVE under file removal and
  * rewrite — a compaction that merges small files into big ones
  * (`MicroBlockWriter.compact`, the repo's own maintenance pass) drops
  * the dead files' partials and adds the compacted outputs' partials,
  * never re-reading the untouched base. The round-10 design REFUSED
  * any non-append change and forced a full rebuild.
  *
  * Refresh cost by change class (the batch chain is why appends are
  * cheap — a first-cut design rewrote the WHOLE partials dataset every
  * generation, charging every small append O(partials)):
  *
  *   - APPEND (the streaming-ingest steady state): ONE new batch with
  *     only the delta's partials; merged = previous merged + delta
  *     re-aggregated — `O(delta rows + merged size)`, independent of
  *     both base rows and accumulated partials.
  *   - REMOVAL / REWRITE (compaction): the chain CONSOLIDATES — live
  *     batches minus dead sources union the delta into one batch —
  *     `O(partials size + changed-file rows)`, still never a base
  *     re-read. The chain also consolidates when it exceeds
  *     [[MaxBatches]] (amortized `O(partials / MaxBatches)` per
  *     append), so chain reads stay bounded.
  *
  * Per-file partial size is bounded by that file's distinct (group,
  * value) pairs, so the partials dataset is the same order as the
  * merged view (times the per-file duplication factor).
  *
  * Generations make refresh atomic AND race-free: data lives at
  * `g<N>`/`p<N>`, a tiny `_graft_view` meta file names the current
  * generation and the covered files (with per-file mtime+size, so an
  * in-place rewrite under the same name is DETECTED, not silently
  * served); readers resolve the pointer first. The refresh that
  * publishes generation N+1 garbage-collects only generations <= N-1 —
  * one generation of GRACE — so a reader that resolved generation N
  * just before the flip still scans it successfully (the round-10 code
  * deleted N at the flip, a FileNotFound race under concurrency).
  *
  * Views built by older rounds (no partials) still read and
  * append-refresh; a removal/rewrite on such a view refuses with
  * "rebuild" as before (upgrading to partials requires one full read —
  * exactly what a rebuild is).
  *
  * At 100 TB: the view build is one map-side-combining aggregation
  * (shuffle carries per-file distinct pairs, not rows); refresh
  * shuffles delta pairs + kept partials; the serve is a scan of the
  * merged view only. Reference contract: the stats-serving layer of
  * save_metadata.py / query_enginev5.py taken one level past
  * dictionaries — counts, not just value sets.
  */
object AggView {

  /** The partials' source-file column. Reserved: a base table using
    * this name (or `freq`) for a group/value column is refused at
    * [[build]] — the aliases would collide. */
  val SrcCol = "_graft_src"

  /** Chain-length cap: an append past this many live batches
    * consolidates the chain into one (amortized O(partials/cap) per
    * append), bounding both refresh-side chain reads and meta size. */
  val MaxBatches = 32

  private def fs(p: Path) = p.getFileSystem(SidecarManifest.sharedConf)

  private def metaPath(viewPath: String) = new Path(viewPath, "_graft_view")

  private def genPath(viewPath: String, gen: Int) =
    new Path(viewPath, s"g$gen").toString

  private def partPath(viewPath: String, gen: Int) =
    new Path(viewPath, s"p$gen").toString

  private def claimPath(viewPath: String, gen: Int) =
    new Path(viewPath, s"_graft_claims/g$gen")

  private[graft] val ClaimTtlMs: Long = 60L * 60 * 1000

  /** CREATE-EXCLUSIVE generation claim (round 13, meta-CAS): exactly
    * one refresh may write `p<gen>`/`g<gen>`. The meta flip alone was
    * last-writer-wins — wasted work when writers saw the same listing,
    * but two IN-FLIGHT writers also overwrite the SAME data dirs
    * mid-write, interleaving part files: wrong data, not just waste.
    * `FileSystem.createNewFile` is the atomic test-and-set on HDFS and
    * local alike. A crashed claimant recovers two ways: a claim whose
    * generation the meta has ADVANCED past is simply stale context
    * (the loser re-reads and retries); an unflipped claim older than
    * [[ClaimTtlMs]] is swept and re-taken. Claims for flipped
    * generations are GC'd with their partials. */
  private def claimGeneration(viewPath: String, gen: Int, prevGen: Int): Unit = {
    val claim = claimPath(viewPath, gen)
    val f = fs(claim)
    f.mkdirs(claim.getParent)
    def stale(cur: Int): Nothing =
      throw new IllegalStateException(
        s"aggview $viewPath: a concurrent refresh advanced the view to " +
        s"g$cur - re-read and retry")
    // acquire, then RE-VERIFY the meta under the claim: a claimant
    // that stalled since its readMeta could be claiming a generation
    // whose claim was already taken, flipped and GC'd — writing it
    // would REGRESS the meta. While this claim is held nobody else
    // can advance prevGen → gen, so the post-acquire check is
    // race-free (releases and throws on mismatch).
    def acquire(): Boolean =
      f.createNewFile(claim) && {
        val cur = readMeta(viewPath).gen
        if (cur == prevGen) true
        else { f.delete(claim, false); stale(cur) }
      }
    if (acquire()) return
    val cur = readMeta(viewPath).gen
    if (cur != prevGen) stale(cur)
    // TTL takeover via atomic RENAME, never delete-then-create: two
    // expiry observers racing a delete/create pair could BOTH end up
    // owning (the second delete removes the first's fresh claim) —
    // rename succeeds for exactly one contender.
    val expired =
      try System.currentTimeMillis() -
        f.getFileStatus(claim).getModificationTime > ClaimTtlMs
      catch { case _: java.io.FileNotFoundException => true } // just released
    if (expired) {
      val tomb = new Path(claim.getParent,
        s"g$gen.expired.${java.util.UUID.randomUUID()}")
      val tookOver =
        try f.rename(claim, tomb) && { f.delete(tomb, false); true }
        catch { case _: java.io.FileNotFoundException => true }
      if (tookOver && acquire()) return
    }
    throw new IllegalStateException(
      s"aggview $viewPath: generation g$gen is claimed by an in-flight " +
      "refresh - retry later")
  }

  /** Meta file format (text): generation number, group columns
    * (comma-joined), value column, an optional `batches:<ids>` line
    * (v3, round 11 — the live partial-batch chain), then one line per
    * covered file. v2/v3 file lines are `path<TAB>mtime<TAB>size` with
    * the path NORMALIZED ([[graft.plans.ZoneMapPruneRule.normFile]]);
    * v1 lines are the bare listing path — [[readMeta]] accepts all
    * three, so older views keep serving. */
  private def writeMeta(viewPath: String, gen: Int, groupCols: Seq[String],
      valueCol: String, batches: Seq[Int],
      files: Seq[(String, Long, Long)]): Unit = {
    val p = metaPath(viewPath)
    val out = fs(p).create(p, true)
    val fileLines = files.sortBy(_._1).map { case (f, m, s) => s"$f\t$m\t$s" }
    try out.write(
      (Seq(gen.toString, groupCols.mkString(","), valueCol,
        s"batches:${batches.mkString(",")}") ++ fileLines)
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** `files` are normalized paths; `stats` maps each to (mtime, size)
    * — empty for v1 metas, where in-place rewrites are undetectable
    * (the round-10 contract). `batches` are the live partial-chain
    * ids; empty for partial-less legacy views (v2 monolithic-partials
    * metas resolve to `Seq(gen)` when their `p<gen>` dir exists). */
  final case class ViewMeta(gen: Int, groupCols: Seq[String],
      valueCol: String, files: Set[String], stats: Map[String, (Long, Long)],
      batches: Seq[Int])

  private def readText(p: Path): String = {
    val in = fs(p).open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def norm(p: String): String = graft.plans.ZoneMapPruneRule.normFile(p)

  def readMeta(viewPath: String): ViewMeta = {
    val lines = readText(metaPath(viewPath)).split("\n").toSeq
    val gen = lines.head.toInt
    val hasBatchLine = lines.lift(3).exists(_.startsWith("batches:"))
    val batches =
      if (hasBatchLine)
        lines(3).stripPrefix("batches:").split(",").toSeq
          .filter(_.nonEmpty).map(_.toInt)
      else if (hasPartialsDir(viewPath, gen)) Seq(gen) // v2: monolithic
      else Nil // v1: no partials
    val fileLines = lines.drop(if (hasBatchLine) 4 else 3).filter(_.nonEmpty)
    val parsed = fileLines.map { l =>
      l.split("\t") match {
        case Array(f, m, s) => (norm(f), Some((m.toLong, s.toLong)))
        case _              => (norm(l), None)
      }
    }
    // filter: an EMPTY group list (global view, round 16) serializes
    // as an empty string, and "".split(",") is Array("") — a phantom
    // ""-named group column that breaks every downstream resolution
    ViewMeta(gen, lines(1).split(",").toSeq.filter(_.nonEmpty), lines(2),
      parsed.map(_._1).toSet,
      parsed.collect { case (f, Some(ms)) => f -> ms }.toMap,
      batches)
  }

  /** Live base listing with status: (raw listing path, normalized
    * path, mtime, size). The shared RECURSIVE listing
    * [[MicroBlockIndex.listParquetFilesWithStatus]] — views over
    * hive-partitioned layouts list the nested data files, not an
    * empty top level. */
  private def listWithStatus(tablePath: String)
      : Seq[(String, String, Long, Long)] =
    MicroBlockIndex.listParquetFilesWithStatus(tablePath)
      .map { case (f, m, s) => (f, norm(f), m, s) }

  /** Per-file partial counts: one row per (source file, group...,
    * value) with its frequency. `input_file_name()` is stored RAW (its
    * URI form differs from the listing's — comparisons always go
    * through [[norm]] on both sides). */
  private def partialAggregate(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(input_file_name().as(SrcCol) +: (groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("freq"))

  private def mergedFromPartials(partials: DataFrame,
      groupCols: Seq[String], valueCol: String): DataFrame =
    partials.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(sum("freq").as("freq"))

  private def requireSafeColumns(groupCols: Seq[String], valueCol: String): Unit = {
    val reserved = (groupCols :+ valueCol).filter(c => c == "freq" || c == SrcCol)
    require(reserved.isEmpty,
      s"aggview: column name(s) ${reserved.mkString(", ")} are reserved " +
      s"(the view's count alias / partials source key) — rename or exclude them")
  }

  /** Build the view from scratch: one map-side-combining aggregation
    * over the table, written as generation 0 (partials + merged).
    * Nulls in `valueCol` are KEPT as a view row — they carry the base
    * table's row count; serving filters them where the shape
    * requires. */
  def build(spark: SparkSession, tablePath: String, viewPath: String,
      groupCols: Seq[String], valueCol: String): Unit = {
    requireSafeColumns(groupCols, valueCol)
    // a rebuild resets generations to 0: claims from the previous
    // life would block the new g1 forever
    try fs(new Path(viewPath)).delete(
      new Path(viewPath, "_graft_claims"), true)
    catch { case scala.util.control.NonFatal(_) => () }
    val live = listWithStatus(tablePath)
    partialAggregate(spark.read.parquet(tablePath), groupCols, valueCol)
      .write.mode("overwrite").parquet(partPath(viewPath, 0))
    mergedFromPartials(
        spark.read.parquet(partPath(viewPath, 0)), groupCols, valueCol)
      .write.mode("overwrite").parquet(genPath(viewPath, 0))
    writeMeta(viewPath, 0, groupCols, valueCol, Seq(0),
      live.map(f => (f._2, f._3, f._4)))
  }

  /** The current generation's (group..., value, freq) rows. */
  def read(spark: SparkSession, viewPath: String): DataFrame =
    spark.read.parquet(genPath(viewPath, readMeta(viewPath).gen))

  private def hasPartialsDir(viewPath: String, id: Int): Boolean =
    probePartials(fs(new Path(viewPath)), viewPath, id)

  /** Does generation `id`'s partial batch exist? ABSENCE must be a
    * filesystem ANSWER, never an error fallback: a transient probe
    * failure read as "absent" would drop a live batch from the chain,
    * silently downgrade the view (refresh re-merges without it), and
    * [[gcOldGenerations]] would then DELETE the still-live partials —
    * a permanent downgrade from a transient error. `FileSystem.exists`
    * already answers FileNotFound as false; every other IOException
    * propagates so the refresh aborts retriably. Package-visible for
    * the spec's failing-filesystem probe. */
  private[graft] def probePartials(
      f: org.apache.hadoop.fs.FileSystem, viewPath: String, id: Int): Boolean =
    f.exists(new Path(partPath(viewPath, id), "_SUCCESS"))

  /** GC after the flip to `current` with live partial `batches`:
    * merged generations keep ONE generation of grace (a reader that
    * resolved the previous pointer just before the flip still
    * materializes — serves read merged only); partial batches are read
    * ONLY by refresh under the current meta, so any batch not in the
    * live chain deletes immediately. Also sweeps stragglers a crashed
    * earlier refresh left behind. */
  private def gcOldGenerations(viewPath: String, current: Int,
      batches: Seq[Int]): Unit = {
    val root = new Path(viewPath)
    val f = fs(root)
    val live = batches.toSet
    val gDir = "^g(\\d+)$".r
    val pDir = "^p(\\d+)$".r
    val claimsDir = new Path(root, "_graft_claims")
    try if (f.exists(claimsDir))
      f.listStatus(claimsDir).foreach { st =>
        st.getPath.getName match {
          case gDir(n) if n.toInt <= current - 2 => f.delete(st.getPath, false)
          case _ => ()
        }
      }
    catch { case scala.util.control.NonFatal(_) => () }
    f.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case gDir(n) if n.toInt <= current - 2 => f.delete(st.getPath, true)
        case pDir(n) if !live.contains(n.toInt) && n.toInt <= current - 1 =>
          // the id bound keeps a mid-crash successor's fresh batch (id
          // = current written before a failed flip) from being swept
          // by an older process — anything <= current-1 and unreferenced
          // is provably dead
          f.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** Incremental maintenance, total over append + removal + in-place
    * rewrite (compaction is removal + append; a same-name rewrite is
    * detected by the per-file mtime+size recorded in the meta and
    * treated as removal + append of that file):
    *
    *   - APPEND, chain under [[MaxBatches]]: ONE new partial batch
    *     holding only the delta's per-file counts; the next merged
    *     view = previous merged ∪ delta, re-aggregated —
    *     `O(delta rows + merged size)`, no partials are rewritten.
    *   - REMOVAL/REWRITE, or chain at the cap: CONSOLIDATE — live
    *     batches minus dead sources (a broadcast semi-join on the
    *     source key — never a scan of the base) union the delta into
    *     one batch; merged re-aggregated from it.
    *   - The meta pointer flips last; merged generations keep one
    *     cycle of grace, dead batches delete ([[gcOldGenerations]]).
    *
    * Legacy views without partials keep the round-10 contract:
    * append-only merges, anything else refuses (IllegalStateException
    * — rebuild). Returns true iff anything changed.
    *
    * Concurrency (round 13): the next generation is CLAIMED
    * create-exclusively before any data write
    * ([[claimGeneration]]) — exactly one refresh writes
    * `p<N+1>`/`g<N+1>`; the loser throws IllegalStateException
    * (retriable: re-invoke, it re-reads the advanced meta). Without
    * the claim two in-flight writers overwrote the same dirs
    * mid-write — interleaved part files, wrong data. A crashed
    * claimant is recovered by meta advance or the claim TTL.
    *
    * Why removals CONSOLIDATE instead of tombstone-subtracting from
    * the merged view (the cheaper-sounding alternative): a subtracted
    * source's stale rows would stay in the chain, and a file NAME can
    * return later (re-added after removal, or rewritten in place) —
    * the chain would then hold stale AND current rows under one
    * source key, and every later keep-by-name decision would double
    * count. Consolidation rewrites the chain to one
    * current-rows-only batch, keeping the by-name keep/drop logic
    * correct by construction. */
  def refresh(spark: SparkSession, tablePath: String,
      viewPath: String, maxBatches: Int = MaxBatches): Boolean = {
    val meta = readMeta(viewPath)
    val live = listWithStatus(tablePath)
    val liveNorm = live.map(_._2).toSet
    val removed = meta.files -- liveNorm
    // a known file whose (mtime, size) no longer matches was rewritten
    // in place: its old contribution is dead, its current content is new
    val changed = live.filter { f =>
      meta.stats.get(f._2).exists(ms => ms != (f._3, f._4))
    }.map(_._2).toSet
    val added = liveNorm -- meta.files
    if (removed.isEmpty && changed.isEmpty && added.isEmpty) return false

    val chain = meta.batches.filter(hasPartialsDir(viewPath, _))
    if ((removed.nonEmpty || changed.nonEmpty) && chain.isEmpty)
      throw new IllegalStateException(
        s"aggview $viewPath: ${(removed ++ changed).size} covered file(s) " +
        s"removed or rewritten (e.g. ${(removed ++ changed).head}) and this " +
        "view predates per-file partials — rebuild the view to upgrade")

    val readFiles = live.filter(f => added(f._2) || changed(f._2)).map(_._1)
    val delta =
      if (readFiles.isEmpty) None
      else Some(partialAggregate(
        // basePath read: a view grouping on a hive-partition column
        // must see it on the delta's file-subset read too
        MicroBlockIndex.readFilesAsTable(spark, tablePath, readFiles),
        meta.groupCols, meta.valueCol))
    val nextGen = meta.gen + 1
    claimGeneration(viewPath, nextGen, meta.gen)
    try refreshClaimed(spark, tablePath, viewPath, maxBatches, meta, live,
      removed, changed, delta, nextGen)
    catch {
      case t: Throwable =>
        // release on ANY failure: an orphaned claim would block every
        // later refresh for the full TTL after one transient error
        try fs(claimPath(viewPath, nextGen))
          .delete(claimPath(viewPath, nextGen), false)
        catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
  }

  private def refreshClaimed(spark: SparkSession, tablePath: String,
      viewPath: String, maxBatches: Int, meta: ViewMeta,
      live: Seq[(String, String, Long, Long)], removed: Set[String],
      changed: Set[String], delta: Option[DataFrame],
      nextGen: Int): Boolean = {
    val keys = meta.groupCols :+ meta.valueCol
    val liveNorm = live.map(_._2).toSet
    val chain = meta.batches.filter(hasPartialsDir(viewPath, _))
    def deltaAgg = delta.get.drop(SrcCol)
      .groupBy(keys.map(col): _*).agg(sum("freq").as("freq"))

    val newBatches: Seq[Int] =
      if (chain.isEmpty) {
        // legacy append-only path: merge the previous MERGED view with
        // the delta (no partials existed and none can be conjured
        // without a base re-read — the view stays legacy until rebuilt)
        read(spark, viewPath).unionByName(deltaAgg)
          .groupBy(keys.map(col): _*).agg(sum("freq").as("freq"))
          .write.mode("overwrite").parquet(genPath(viewPath, nextGen))
        Nil
      } else if (removed.isEmpty && changed.isEmpty &&
          chain.size < maxBatches) {
        // pure append: one delta batch + a merged-scale merge. The
        // merge's delta side re-READS the just-written batch (pair
        // scale) — reusing the aggregation lineage would re-scan and
        // re-shuffle the appended base files a second time.
        delta.get.write.mode("overwrite").parquet(partPath(viewPath, nextGen))
        val deltaFromDisk = spark.read.parquet(partPath(viewPath, nextGen))
          .drop(SrcCol)
          .groupBy(keys.map(col): _*).agg(sum("freq").as("freq"))
        read(spark, viewPath).unionByName(deltaFromDisk)
          .groupBy(keys.map(col): _*).agg(sum("freq").as("freq"))
          .write.mode("overwrite").parquet(genPath(viewPath, nextGen))
        chain :+ nextGen
      } else {
        // consolidation: live chain minus dead sources, plus the delta
        val old = spark.read.parquet(chain.map(partPath(viewPath, _)): _*)
        // sources worth keeping: known, still live, not rewritten. The
        // distinct-source collect is file-listing scale — the same
        // order as the listStatus above, never data-scale.
        val keepNorm = (meta.files & liveNorm) -- changed
        val keepRaw = old.select(SrcCol).distinct().collect()
          .map(_.getString(0)).filter(s => keepNorm(norm(s)))
        import spark.implicits._
        val kept = old.join(
          broadcast(keepRaw.toSeq.toDF(SrcCol)), Seq(SrcCol), "left_semi")
        val all = delta.fold(kept)(d => kept.unionByName(d))
        all.write.mode("overwrite").parquet(partPath(viewPath, nextGen))
        mergedFromPartials(spark.read.parquet(partPath(viewPath, nextGen)),
            meta.groupCols, meta.valueCol)
          .write.mode("overwrite").parquet(genPath(viewPath, nextGen))
        Seq(nextGen)
      }
    writeMeta(viewPath, nextGen, meta.groupCols, meta.valueCol, newBatches,
      live.map(f => (f._2, f._3, f._4)))
    gcOldGenerations(viewPath, nextGen, newBatches)
    true
  }

  /** The view-paths DISCOVERY MARKER ([[SidecarManifest.Views]], the
    * bloom-marker convention): a tiny underscore file naming the
    * table's view paths, dropped next to the data so ANY session's
    * [[graft.plans.AggViewRewriteRule]] discovers the views lazily —
    * no register call, the deployment path. The marker carries no
    * staleness risk of its own: the rule re-checks each view's exact
    * file-set guard per query, so a stale or dead view path simply
    * never rewrites. Writing it drops the root's memos, so this
    * session discovers it at once. */
  def writeMarker(tablePath: String, viewPaths: Seq[String]): Unit = {
    require(viewPaths.nonEmpty, "marker needs at least one view path")
    // qualify at WRITE time: a relative path would resolve against the
    // CONSUMER's working directory, silently breaking discovery from
    // any other process
    val qualified = viewPaths.map { vp =>
      val hp = new Path(vp)
      fs(hp).makeQualified(hp).toUri.getPath
    }
    SidecarManifest.writeMarker(tablePath, SidecarManifest.Views, qualified.mkString("\n"))
  }

  /** The marker's view paths, read once per (root, session); None when
    * no (non-empty) marker exists. */
  def markerViews(spark: SparkSession, tablePath: String): Option[Seq[String]] =
    SidecarManifest.markerLines(tablePath, spark, SidecarManifest.Views)

  /** Grouped COUNT(DISTINCT valueCol) + COUNT(*) from the view alone:
    * distinct values per group = view rows per group (value is a key),
    * base-table row count = SUM(freq). Output columns:
    * groupCols..., n_distinct, n_rows. */
  def serveCountDistinct(spark: SparkSession, viewPath: String): DataFrame = {
    val meta = readMeta(viewPath)
    read(spark, viewPath)
      .groupBy(meta.groupCols.map(col): _*)
      .agg(
        count(when(col(meta.valueCol).isNotNull, lit(1))).as("n_distinct"),
        sum("freq").as("n_rows"))
  }

  /** Exact interpolated percentiles from the view alone — Spark's
    * `percentile` with its frequency argument builds the identical
    * per-group value->count map a raw-row scan would, so the result
    * is bit-for-bit the row-scan answer. Null values carry no rank
    * weight (freq 0), matching percentile's null-skipping. */
  def servePercentile(spark: SparkSession, viewPath: String,
      qs: Seq[(String, Double)]): DataFrame = {
    val meta = readMeta(viewPath)
    val v = col(meta.valueCol)
    val aggs = qs.map { case (name, q) =>
      percentile(v, lit(q),
        when(v.isNotNull, col("freq")).otherwise(lit(0L))).as(name)
    } ++ Seq(min(v).as("lo"), max(v).as("hi"))
    read(spark, viewPath)
      .groupBy(meta.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
