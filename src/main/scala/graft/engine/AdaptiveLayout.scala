package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.{IndexPruning, Pred}
import graft.sources.MicroBlockWriter

/** WORKLOAD-ADAPTIVE clustering — the at-rest twin of the reference's
  * access-pattern thesis: the same telemetry that trains the prefetcher
  * (the access log) chooses the table's physical layout. The
  * reference's LSTM optimizes the READ side of a fixed layout; this
  * closes the loop on the WRITE side: most-filtered columns win the
  * cluster-key election, one key → range clustering, two → z-order.
  *
  * Decision inputs are metadata-scale (the log's per-access filtered
  * column lists and the stats index); the only data-sized work is the
  * rewrite itself, which is the same distributed sort-shuffle any
  * OPTIMIZE/CLUSTER BY pays. Scoring a layout against a workload is
  * pure index math: sum of kept-file row volumes over the replayed
  * predicates — no data scan, so candidate layouts can be ranked
  * before (or without) building them.
  */
object AdaptiveLayout {

  /** Per-column filter frequency over the logged workload (driver-side
    * over the in-memory log — access logs are metadata-scale; the
    * JSONL twin of this aggregation is one Spark groupBy away). */
  def columnFilterCounts(log: AccessLog): Map[String, Long] =
    log.all.filter(_.op == "filter")
      .flatMap(_.cols).groupBy(identity).map { case (c, xs) => (c, xs.size.toLong) }

  /** Elect up to `maxKeys` cluster keys: most-filtered columns first,
    * name as the deterministic tie-break. Columns filtered in under
    * `minShare` of predicate-bearing accesses are not worth a z-order
    * dimension (each extra dimension dilutes every other dimension's
    * run lengths) and are dropped. */
  def chooseKeys(log: AccessLog, maxKeys: Int = 2,
      minShare: Double = 0.2): Seq[String] = {
    val counts = columnFilterCounts(log)
    val denom = math.max(1L,
      log.all.count(a => a.op == "filter" && a.cols.nonEmpty).toLong)
    counts.toSeq
      .filter { case (_, n) => n.toDouble / denom >= minShare }
      .sortBy { case (c, n) => (-n, c) }
      .take(maxKeys).map(_._1)
  }

  /** Write `df` clustered by the elected keys (range clustering for
    * one key, z-order for several) and return the keys. */
  def cluster(df: DataFrame, out: String, keys: Seq[String],
      blocks: Int): Seq[String] = {
    require(keys.nonEmpty, "no cluster keys elected")
    if (keys.size == 1) MicroBlockWriter.write(df, out, keys.head, blocks)
    else MicroBlockWriter.writeZOrdered(df, out, keys, blocks)
    keys
  }

  /** The layout KINDS the advisor can elect (round 14 — the election
    * now chooses the layout family, not just the keys):
    *   - [[RangeCluster]]: one dominant filter column → range-sorted
    *     files, zone maps decide most of them;
    *   - [[ZOrderCluster]]: several filter columns → z-order interleave
    *     so every dimension keeps usable run lengths;
    *   - [[HashBucket]]: the workload's shuffles (equi-joins / window
    *     PARTITION BYs on one dominant key) outweigh its filters →
    *     hash-bucketed layout, repeated shuffles become exchange-free
    *     ([[graft.sources.Bucketing]]). */
  sealed trait LayoutKind
  final case class RangeCluster(key: String) extends LayoutKind
  final case class ZOrderCluster(keys: Seq[String]) extends LayoutKind
  final case class HashBucket(key: String) extends LayoutKind

  /** Elect the layout KIND from the logged access mix. The vote is
    * column-weighted per access class: shuffle-side accesses (op =
    * "join" / "window") vote for hash-bucketing on their dominant key
    * — a bucket layout removes their exchange+sort per query, which a
    * range/z-order layout cannot; filter accesses vote for range /
    * z-order clustering (file skipping). The class with the heavier
    * dominant column wins; filter layouts then pick range vs z-order
    * exactly as [[chooseKeys]] always did. Ties break to the shuffle
    * side (an exchange saved is worth more than a partial skip at
    * equal frequency — it touches every row of both join sides).
    * None = no predicate-bearing accesses to learn from. */
  def chooseLayoutKind(log: AccessLog, maxKeys: Int = 2,
      minShare: Double = 0.2): Option[LayoutKind] = {
    val accesses = log.all
    def dominant(ops: Set[String]): Option[(String, Long)] =
      accesses.filter(a => ops(a.op)).flatMap(_.cols)
        .groupBy(identity).map { case (c, xs) => (c, xs.size.toLong) }
        .toSeq.sortBy { case (c, n) => (-n, c) }.headOption
    val shuffle = dominant(Set("join", "window"))
    val filter = dominant(Set("filter"))
    (shuffle, filter) match {
      case (Some((sk, sn)), Some((_, fn))) if sn >= fn => Some(HashBucket(sk))
      case (Some((sk, _)), None) => Some(HashBucket(sk))
      case (_, Some(_)) =>
        val keys = chooseKeys(log, maxKeys, minShare)
        if (keys.size >= 2) Some(ZOrderCluster(keys))
        else keys.headOption.map(RangeCluster.apply)
      case _ => None
    }
  }

  /** Total row volume the zone-map index would KEEP replaying
    * `workload` against a layout's stats — the layout-ranking metric.
    * Pure index math on the driver ([[graft.plans.ZoneSnapshot]]): one
    * job collects the columns the whole workload references, then every
    * predicate decides over them. Keeps the engine's reference-parity
    * convention: a predicate the index refutes everywhere still scans
    * every file. */
  def replayScanVolume(spark: SparkSession, index: DataFrame,
      workload: Seq[Pred]): Long = {
    require(workload.nonEmpty, "empty workload")
    val zone = new graft.plans.ZoneSnapshot(_ => index)
    zone.ensure(spark, workload.flatMap(IndexPruning.refColumns).toSet)
    val rows = zone.fileRows(spark)
    val total = rows.values.sum
    workload.map { p =>
      val kept = zone.keptFiles(spark, p)._2.iterator.map(rows).sum
      if (kept == 0L) total else kept
    }.sum
  }
}
