package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.{BlockStat, DictionaryIndex, MicroBlockIndex, SidecarManifest}

/** Streaming ingestion INTO the micro-block layout — the missing end of
  * the engine's lifecycle: events arrive as a stream, land as
  * range-clustered micro-block files, and the zone-map index keeps up
  * INCREMENTALLY (only new footers are read, ids/row-offsets extend the
  * existing index — [[MicroBlockIndex.refresh]]).
  *
  * Per micro-batch: range-cluster the batch on the zone column (a
  * batch-local sort-shuffle — each appended file gets a tight min/max,
  * so pruning works on freshly-landed data immediately), append the
  * files, fold the batch into every maintained AggView, and refresh
  * the table's zone and dictionary sidecars, if it has them, through
  * [[SidecarManifest.save]] — the one sidecar writer. At 100 TB/day
  * this is the standard streaming-lakehouse write path
  * (cluster-on-write + incremental stats); the small-file tail the
  * batches accumulate is exactly what
  * [[graft.sources.MicroBlockWriter.compact]] exists to fold in.
  */
final class StreamIngest(
    spark: SparkSession,
    outPath: String,
    table: String,
    clusterBy: String,
    blocksPerBatch: Int,
    streamId: String = "",
    maintainViews: Seq[String] = Nil) {

  // Batch ids are only unique WITHIN one checkpointed streaming query.
  // Two different streams landing in the same directory would collide
  // on ids (skip each other's batches, sweep each other's files) — a
  // non-empty streamId namespaces both the file prefix and the commit
  // marker so multi-writer directories stay correct.
  private val filePrefix = if (streamId.isEmpty) "b" else s"s$streamId-b"
  private def markerName(batchId: Long): String =
    if (streamId.isEmpty) batchId.toString else s"$streamId-$batchId"

  /** The current zone-map index over everything ingested so far: the
    * `_graft_index` sidecar every commit refreshes, when the root has
    * one; otherwise built from the directory. */
  def index: Dataset[BlockStat] =
    if (SidecarManifest.anchor(outPath, spark, SidecarManifest.Zone).isDefined)
      MicroBlockIndex.load(spark, MicroBlockIndex.sidecarPath(outPath))
    else MicroBlockIndex.build(spark, outPath, table)

  /** Land one micro-batch EXACTLY ONCE. foreachBatch is at-least-once:
    * a batch that fails mid-append (or whose marker write is lost)
    * replays with the same batchId, so the write must be idempotent —
    * a naive append would duplicate rows AND the refresh would index
    * the duplicate files as new. Protocol, crash-safe at every step:
    *  1. committed marker `_graft_commits/<batchId>` exists → no-op;
    *  2. delete any `b<batchId>-*` remnants of a failed attempt (part
    *     filenames carry a fresh job UUID per attempt, so remnants
    *     never collide with — and would otherwise double — the redo);
    *  3. write to `_staging_<batchId>` (underscore-hidden from reads
    *     and from the flat index listing), rename into the flat
    *     layout under the `b<batchId>-` prefix;
    *  4. create the marker — the atomic commit point — THEN refresh.
    * The index only ever sees fully-committed files: a crash before
    * the marker leaves remnants that step 2 removes before anything
    * re-indexes. */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(outPath)
    val fs = out.getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(out, s"_graft_commits/${markerName(batchId)}")
    if (fs.exists(marker)) return
    if (fs.exists(out)) fs.listStatus(out)
      .filter(s => s.isFile && s.getPath.getName.startsWith(s"$filePrefix$batchId-"))
      .foreach(s => fs.delete(s.getPath, false))
    val staging = new org.apache.hadoop.fs.Path(out, s"_staging_${markerName(batchId)}")
    batch
      .repartitionByRange(blocksPerBatch, batch.col(clusterBy))
      .sortWithinPartitions(clusterBy)
      .write.mode("overwrite")
      .option("parquet.block.size", (256L * 1024 * 1024).toString)
      .parquet(staging.toString)
    fs.listStatus(staging)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .foreach { s =>
        fs.rename(s.getPath,
          new org.apache.hadoop.fs.Path(out, s"$filePrefix$batchId-${s.getPath.getName}"))
      }
    fs.delete(staging, true)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    // Maintained MATERIALIZED VIEWS ride the same commit: each batch's
    // delta folds into every attached AggView (O(delta + merged) — the
    // append path reads only the new files), so the transparent
    // matview serve stays FRESH with no manual refresh. A refresh
    // failure here is retriable, not lost: the batch is already
    // committed, and the next batch's refresh diffs the live listing
    // against the view meta and catches the unfolded files up. A view
    // that doesn't exist yet (built later over the ingested table) is
    // skipped the same way.
    maintainViews.foreach { v =>
      try graft.sources.AggView.refresh(spark, outPath, v)
      catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(
            s"stream-ingest view refresh deferred ($v): ${t.getMessage}")
      }
    }
    // SIDECARS ride the commit too (round 14): a zone or dictionary
    // sidecar written before the stream started goes stale on the
    // FIRST batch (its file-set/mtime gates refuse every transparent
    // serve until someone refreshes by hand). Each commit folds the new
    // files in INCREMENTALLY — only the fresh footers/dictionary pages
    // are read — and saves through [[SidecarManifest.save]], whose swap
    // lets the refreshed index read the sidecar it replaces. Failures
    // defer exactly like view folds: the batch is committed, the next
    // batch's refresh diffs the listing and catches up. No sidecar →
    // nothing maintained (building one is an explicit choice, not a
    // stream side effect).
    try {
      if (SidecarManifest.anchor(outPath, spark, SidecarManifest.Zone).isDefined) {
        val existing = MicroBlockIndex.load(spark, MicroBlockIndex.sidecarPath(outPath))
        val refreshed = MicroBlockIndex.refresh(spark, outPath, table, existing)
        if (refreshed ne existing) MicroBlockIndex.saveSidecar(refreshed, outPath)
      }
    } catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(
          s"stream-ingest zone sidecar refresh deferred: ${t.getMessage}")
    }
    try {
      if (SidecarManifest.anchor(outPath, spark, SidecarManifest.Dict).isDefined) {
        val existing = DictionaryIndex.load(spark, DictionaryIndex.sidecarPath(outPath))
        val refreshed = DictionaryIndex.refresh(spark, outPath, table, existing)
        if (refreshed ne existing) DictionaryIndex.saveSidecar(refreshed, outPath)
      }
    } catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(
          s"stream-ingest dict sidecar refresh deferred: ${t.getMessage}")
    }
  }

  /** Attach to a streaming DataFrame and start the ingest query. */
  def start(stream: DataFrame, queryName: String): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .foreachBatch((batch: DataFrame, id: Long) => ingestBatch(batch, id))
      .start()
}
