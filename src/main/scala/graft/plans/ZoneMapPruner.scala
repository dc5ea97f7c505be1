package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{BlockStat, MicroBlockIndex}

/** Column stats for one block, as seen by the pruner. `nullCount` /
  * `rows` (None when the footer omitted them) feed the round-7
  * NullCheck cases; min/max feed everything else. */
final case class ColStats(
    minNum: Option[Double], maxNum: Option[Double],
    minStr: Option[String], maxStr: Option[String],
    nullCount: Option[Long] = None, rows: Option[Long] = None,
    nanRisk: Option[Boolean] = Some(false)) {
  def defined: Boolean = minNum.isDefined || minStr.isDefined
  /** NaN-faithful stats — see [[graft.sources.BlockStat]].nanRisk.
    * None (unknown provenance) counts as risky. */
  def nanOk: Boolean = nanRisk.contains(false)
}

/** Zone-map pruning: decide, from per-block min/max alone, which blocks
  * *may* contain rows matching a predicate.
  *
  * Same conservative semantics as the reference
  * (query_enginev5.py:100-233): AND intersects, OR unions, unknown
  * nodes / missing stats keep the block; NEQ never prunes. Two layers:
  *
  *  - `mayMatch` — the per-block decision (driver- or executor-side).
  *  - `candidateFiles`/`decisions` — evaluated over the whole stats
  *    index grouped by block. At 100 TB the index is a table and this
  *    runs as a distributed filter; only the surviving *file list*
  *    (small) returns to the driver to parameterize the scan, and
  *    Spark's own parquet reader then re-prunes row groups inside the
  *    surviving files via pushed filters — two-tier skipping.
  */
object ZoneMapPruner {

  /** Can a block with these column stats possibly satisfy `pred`? */
  def mayMatch(pred: Pred, stats: Map[String, ColStats]): Boolean = pred match {
    case And(l, r) => mayMatch(l, stats) && mayMatch(r, stats)
    case Or(l, r)  => mayMatch(l, stats) || mayMatch(r, stats)

    case Between(c, lo, hi) =>
      stats.get(c).filter(_.defined) match {
        case None => true
        case Some(st) => (st.minNum, st.maxNum, lo.num, hi.num) match {
          // NaN-VALUED bounds (parquet-mr propagates NaN into max when
          // a NaN row exists): the finite extremum is lost — keep.
          // Scala IEEE comparisons would otherwise silently prune.
          case (Some(mn), Some(mx), Some(_), Some(_))
              if mn.isNaN || mx.isNaN => true
          case (Some(mn), Some(mx), Some(l), Some(h)) => !(mx < l || mn > h)
          case _ => (st.minStr, st.maxStr, lo.str, hi.str) match {
            case (Some(mn), Some(mx), Some(l), Some(h)) =>
              !(u8cmp(mx, l) < 0 || u8cmp(mn, h) > 0)
            case _ => true
          }
        }
      }

    case In(c, vs) =>
      stats.get(c).filter(_.defined) match {
        case None => true
        case Some(st) =>
          // prune only if every value falls outside [min, max]
          val anyInside = vs.exists { v =>
            (st.minNum, st.maxNum, v.num) match {
              case (Some(mn), Some(mx), Some(_))
                  if mn.isNaN || mx.isNaN => true // NaN-valued bound: keep
              case (Some(mn), Some(mx), Some(x)) => x >= mn && x <= mx
              case _ => (st.minStr, st.maxStr, v.str) match {
                case (Some(mn), Some(mx), Some(x)) =>
                  u8cmp(x, mn) >= 0 && u8cmp(x, mx) <= 0
                case _ => true
              }
            }
          }
          anyInside
      }

    case Cmp(op, c, v) =>
      stats.get(c).filter(_.defined) match {
        case None => true
        case Some(st) =>
          (st.minNum, st.maxNum, v.num) match {
            // `>` / `>=` refute through max-as-upper-bound, which a
            // NaN-blind footer (arrow float stats) breaks — Spark
            // orders NaN above everything, so a hidden NaN row matches
            case (Some(_), Some(_), Some(_))
                if (op == ">" || op == ">=") && !st.nanOk => true
            // NaN-VALUED bounds (parquet-mr): finite extremum lost,
            // and Scala IEEE comparisons would silently prune — keep
            case (Some(mn), Some(mx), Some(_))
                if mn.isNaN || mx.isNaN => true
            case (Some(mn), Some(mx), Some(x)) => cmpMayMatch(op, mn, mx, x)
            case _ => (st.minStr, st.maxStr, v.str) match {
              case (Some(mn), Some(mx), Some(x)) =>
                cmpMayMatchStr(op, mn, mx, x)
              case _ => true
            }
          }
      }

    // null-count pruning (min/max can't see nulls): nullCount==0
    // refutes IS NULL; nullCount==rows (all-null block) refutes
    // IS NOT NULL. Missing/negative counts keep conservatively.
    case NullCheck(c, negated) =>
      stats.get(c) match {
        case None => true
        case Some(st) => (st.nullCount.filter(_ >= 0), st.rows) match {
          case (Some(nc), _) if !negated => nc > 0
          case (Some(nc), Some(n)) if negated => nc < n
          case _ => true
        }
      }
  }

  private def cmpMayMatch(op: String, mn: Double, mx: Double, x: Double): Boolean = op match {
    case "="  => mn <= x && x <= mx
    case "!=" => true // min/max can't refute inequality (query_enginev5.py:207)
    case ">"  => mx > x
    case ">=" => mx >= x
    case "<"  => mn < x
    case "<=" => mn <= x
    case _    => true
  }

  /** Parquet footer min/max for strings are ordered by UNSIGNED UTF-8
    * bytes; JVM String compareTo orders by UTF-16 code units, and the
    * two disagree for supplementary-plane characters vs U+E000–U+FFFF.
    * Compare the way the stats were computed or non-ASCII blocks can
    * be wrongly pruned. */
  private[graft] def u8cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def cmpMayMatchStr(op: String, mn: String, mx: String, x: String): Boolean = op match {
    case "="  => u8cmp(mn, x) <= 0 && u8cmp(x, mx) <= 0
    case "!=" => true
    case ">"  => u8cmp(mx, x) > 0
    case ">=" => u8cmp(mx, x) >= 0
    case "<"  => u8cmp(mn, x) < 0
    case "<=" => u8cmp(mn, x) <= 0
    case _    => true
  }

  /** The blocks that may hold a row of `ORDER BY col [ASC|DESC] LIMIT
    * k`, chosen from per-block stats ALONE (no data scanned):
    *
    *   1. order blocks by their best bound (max desc / min asc);
    *   2. take the shortest prefix whose NON-NULL row counts cover k —
    *      every row in a block is no worse than the block's weak bound,
    *      so those ≥k rows prove the k-th value is at least theta = the
    *      weakest weak bound in the prefix (min of prefix mins
    *      descending, max of prefix maxes ascending);
    *   3. keep exactly the blocks whose best bound ties-or-beats theta.
    *
    * Ties are kept (equal-valued rows may displace the k-th under a
    * secondary sort key, so the cut is sound for any tie-break
    * columns). Statless blocks are always kept and never count toward
    * the proof: missing bounds, row count or null count; `nullsFirst`
    * orderings with nulls present (those null rows ARE the top of the
    * result); and NaN — both proofs lean on max as an upper bound
    * (DESC keeps `max >= theta`; ASC's theta is the prefix's max), and
    * Spark sorts NaN above everything, so stats that are not
    * NaN-faithful ([[ColStats.nanOk]]) or have NaN-VALUED bounds
    * cannot prove either. None when no cut is possible (no stated
    * block, or stats that cannot cover k non-null rows — NULLS LAST then cannot
    * be proven past the top k either): the caller keeps everything.
    * Blocks carrying no stats entry for the column at all are the
    * caller's to keep. Keys may repeat (several blocks per file). */
  def topKKept[K](blocks: Seq[(K, ColStats)], k: Int, ascending: Boolean,
      nullsFirst: Boolean): Option[Set[K]] = {
    val (stated, statless) = blocks.partition { case (_, st) =>
      (st.minNum, st.maxNum, st.nullCount, st.rows) match {
        case (Some(mn), Some(mx), Some(nc), Some(_)) =>
          st.nanOk && !mn.isNaN && !mx.isNaN && !(nullsFirst && nc > 0)
        case _ => false
      }
    }
    val ordered =
      if (ascending) stated.sortBy(_._2.minNum.get)
      else stated.sortBy(-_._2.maxNum.get)
    // non-null rows of each block, then the shortest covering prefix
    val nonNull = ordered.map { case (_, st) => math.max(0L, st.rows.get - st.nullCount.get) }
    val n = nonNull.scanLeft(0L)(_ + _).indexWhere(_ >= k)
    if (ordered.isEmpty || n < 0) None
    else {
      val prefix = ordered.take(math.max(1, n)).map(_._2)
      val kept =
        if (ascending) {
          val theta = prefix.map(_.maxNum.get).max
          ordered.filter(_._2.minNum.get <= theta)
        } else {
          val theta = prefix.map(_.minNum.get).min
          ordered.filter(_._2.maxNum.get >= theta)
        }
      Some((kept ++ statless).map(_._1).toSet)
    }
  }

  /** One index row's stats as the pruner sees them (a negative null
    * count is the footer's "unknown"). */
  def colStats(s: BlockStat): ColStats = ColStats(s.minNum, s.maxNum, s.minStr, s.maxStr,
    Some(s.nullCount).filter(_ >= 0), Some(s.rows), s.nanRisk)

  /** Group a stats index (collected for one table) by block. */
  def byBlock(stats: Seq[BlockStat]): Seq[(Int, String, Long, Map[String, ColStats])] =
    stats.groupBy(b => (b.blockId, b.file)).toSeq
      .map { case ((id, file), cols) =>
        (id, file, cols.head.rows, cols.map(c => c.column -> colStats(c)).toMap)
      }
      .sortBy(_._1)

  /** Per-block keep/skip decisions for a predicate. */
  def decisions(stats: Seq[BlockStat], pred: Pred): Seq[(Int, String, Long, Boolean)] =
    byBlock(stats).map { case (id, file, rows, m) => (id, file, rows, mayMatch(pred, m)) }

  /** Candidate files for a predicate; falls back to all files when
    * everything pruned (the reference keeps ≥1 block —
    * query_enginev5.py:95-99 — we keep the scan non-empty-safe the same
    * way Spark does: an empty file list is fine, so no fallback needed,
    * but we preserve the reference's behavior for parity). */
  def candidateFiles(stats: Seq[BlockStat], pred: Pred): Seq[String] = {
    val d = decisions(stats, pred)
    val kept = d.filter(_._4).map(_._2).distinct
    if (kept.isEmpty) d.map(_._2).distinct else kept
  }

  /** Pruned scan: file-level skip from the index + Spark's native
    * row-group pushdown inside surviving files + row-level filter. */
  def prunedRead(spark: SparkSession, stats: Seq[BlockStat], pred: Pred): DataFrame = {
    val files = candidateFiles(stats, pred)
    spark.read.parquet(files: _*).filter(pred.toColumn)
  }
}
