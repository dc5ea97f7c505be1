package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.sources.SidecarManifest

/** Transparent BUCKETED-LAYOUT discovery: a plain `spark.read.parquet`
  * (or a view over it) of a directory that [[graft.sources.Bucketing
  * .writeBucketed]] produced gets the bucketed-scan plan — joins and
  * aggregations on the bucket key run with NO exchange — without the
  * session registering a catalog table first.
  *
  * The catalog is per-JVM, but the layout (and its clustering cost)
  * persists: the bucket-spec marker written at cluster time
  * ([[graft.sources.SidecarManifest.BucketSpec]]) records the key and
  * bucket count, and this rule re-attaches that spec to the relation
  * (`HadoopFsRelation.bucketSpec`) when the claim is PROVABLY still
  * true of the files on disk. This is the
  * q12/q20 pay-once-reuse-forever story made session-free — the same
  * sidecar-discovery contract the zone/dict/bloom/view layers follow.
  *
  * A wrong bucket claim is wrong ROWS (two rows with equal keys
  * presumed co-located aren't), so the claim gates hard:
  *
  *   - the marker must exist (read once per (root, session) through
  *     [[graft.sources.SidecarManifest.marker]]) and parse; the key
  *     must be a data column of the relation;
  *   - EVERY live data file must carry a parseable `_NNNNN` bucket-id
  *     suffix below the bucket count — a file appended by a plain
  *     (unbucketed) write has no such suffix and refuses the claim;
  *   - no live file may be NEWER than the spec (the spec is written
  *     after the data by `writeBucketed`): a file rewritten in place
  *     under a bucketed name carries rows the spec knows nothing
  *     about. Same anchor bound as every sidecar layer: a
  *     backdated-mtime rewrite escapes it.
  *
  * Sortedness (`sortBy(key)`) is claimed alongside; Spark itself only
  * TRUSTS the ordering when each bucket holds at most one file (and
  * `spark.sql.legacy.bucketedTableScan.outputOrdering` is on), so a
  * multi-file-per-bucket layout degrades to exchange-free-with-sort,
  * never to wrong order.
  *
  * Scope guards: single-root, non-partitioned, unbucketed relations
  * only — a catalog-registered bucketed table already carries its spec
  * and is left alone. Fires wherever the relation appears (under
  * joins, aggregates, windows), not just under Filters.
  */
case class BucketLayoutRule(spark: SparkSession) extends GraftRule {

  override protected def switch: Option[String] = Some("spark.graft.bucketDiscovery.enabled")

  protected def rewrite: PartialFunction[LogicalPlan, Option[LogicalPlan]] = {
    case rel @ LogicalRelation(hfs: HadoopFsRelation, _, _, _, _)
        if hfs.bucketSpec.isEmpty && hfs.partitionSchema.isEmpty =>
      BucketLayoutRule.tryClaim(spark, rel, hfs)
  }
}

object BucketLayoutRule {

  /** The root's parsed bucket-spec marker (key, buckets, spec mtime),
    * read once per (root, session) through the manifest; None = no or
    * invalid marker. Freshness is NOT memoized — the per-file
    * suffix+mtime gate runs per query against the relation's live
    * listing (already in memory via liveStatsOf: no filesystem I/O). */
  private[plans] def specFor(rootPath: String,
      session: SparkSession): Option[(String, Int, Long)] =
    SidecarManifest.marker(rootPath, session, SidecarManifest.BucketSpec)
      .flatMap { case (mtime, raw) =>
        graft.sources.Bucketing.parseSpec(raw).map { case (k, n) => (k, n, mtime) }
      }

  private[plans] def tryClaim(spark: SparkSession, rel: LogicalRelation,
      hfs: HadoopFsRelation): Option[LogicalRelation] =
    for {
      GraftRule.Scan(_, _, root) <- GraftRule.scanOf(rel)
      (key, buckets, specM) <- specFor(root, spark)
      if hfs.dataSchema.fieldNames.contains(key)
      liveStats = ZoneMapPruneRule.liveStatsOf(hfs)
      if liveStats.nonEmpty
      if liveStats.forall { case (f, (mtime, _)) =>
        mtime <= specM && bucketIdOf(f).exists(_ < buckets)
      }
    } yield rel.copy(relation = hfs.copy(
      bucketSpec = Some(BucketSpec(buckets, Seq(key), Seq(key))))(
      hfs.sparkSession))

  // ONE naming contract, shared with registerExisting's validator
  private def bucketIdOf(path: String): Option[Int] =
    graft.sources.Bucketing.bucketIdOf(
      path.substring(path.lastIndexOf('/') + 1))
}
