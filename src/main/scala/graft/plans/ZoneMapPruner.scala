package graft.plans

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
  * *may* contain rows matching a predicate ([[mayMatch]]), which
  * blocks provably hold ONLY matching rows ([[allMatch]]), and which
  * blocks may hold a top-k row ([[topKKept]]).
  *
  * Same conservative semantics as the reference
  * (query_enginev5.py:100-233): AND intersects, OR unions, unknown
  * nodes / missing stats keep the block; NEQ never prunes. Every zone
  * decision of the engine and the transparent rules runs these on the
  * DRIVER, over a [[ZoneSnapshot]] of the index; only the resulting
  * file list parameterizes the scan, and Spark's own parquet reader
  * then re-prunes row groups inside the surviving files via pushed
  * filters — two-tier skipping. [[IndexPruning]] compiles the same
  * algebra into a distributed query for batch evaluation.
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

  /** The Double stats view is EXACT only strictly inside ±2^53: an
    * int64 value of 2^53+1 and its neighbor 2^53 round to the SAME
    * double, and rounding is monotone but not strict — so refutation
    * stays sound under rounding (round(min) ≤ round(v) ≤ round(max)
    * whenever min ≤ v ≤ max: a present value is never refuted) but an
    * ALL-MATCH proof does not: `min >= round(lit)` can hold while
    * `min >= lit` fails by one ulp. Strictly-inside-±2^53 is the
    * exactness certificate for all three operands: any long that
    * ROUNDS strictly below 2^53 IS its rounded double, so gating |min|,
    * |max| and |lit| < 2^53 makes every compared value exact. NaN fails
    * the gate, so NaN-valued bounds are never proven. Timestamps
    * (micros) sit inside the bound for ±285 years around the epoch. */
  private val ExactDoubleBound = 9007199254740992.0 // 2^53
  private def exact(x: Double): Boolean = math.abs(x) < ExactDoubleBound

  /** Do ALL rows of a block with these stats satisfy `pred`? The
    * T-proof dual of [[mayMatch]] (which proves "no row can match"),
    * sound ONLY for a COMPLETE predicate
    * ([[PredicateExtractor.convertComplete]]): a weakened predicate's
    * proof says nothing about its dropped conjuncts. Every comparison
    * leaf needs a TRUSTED ZERO null count (null rows fail every
    * comparison) and, numerically, the ±2^53 certificate on bounds and
    * literal alike. Leaves whose claim bounds values from ABOVE (`<`,
    * `<=`, `=`, BETWEEN, IN via min == max) also need NaN-faithful
    * stats ([[ColStats.nanOk]]): a hidden NaN row fails them. `>`,
    * `>=` and `!=` do not — Spark orders NaN above everything, so a
    * NaN row satisfies them. Each leaf tries the numeric view, then the
    * lexical one; the fallthrough is false ("unproven"). */
  def allMatch(pred: Pred, stats: Map[String, ColStats]): Boolean = {
    def noNulls(st: ColStats) = st.nullCount.contains(0L)
    def num(st: ColStats, nanGuard: Boolean)(f: (Double, Double) => Boolean) =
      (st.minNum, st.maxNum) match {
        case (Some(mn), Some(mx)) if exact(mn) && exact(mx) && noNulls(st) &&
            (!nanGuard || st.nanOk) => Some(f(mn, mx))
        case _ => None
      }
    def str(st: ColStats)(f: (String, String) => Boolean) =
      (st.minStr, st.maxStr) match {
        case (Some(mn), Some(mx)) if noNulls(st) => Some(f(mn, mx))
        case _ => None
      }
    def first(cands: Option[Boolean]*) = cands.flatten.headOption.getOrElse(false)
    pred match {
      case And(l, r) => allMatch(l, stats) && allMatch(r, stats)
      // one branch covering every row suffices (min/max can't prove a split)
      case Or(l, r)  => allMatch(l, stats) || allMatch(r, stats)
      case Between(c, lo, hi) => stats.get(c).exists { st =>
        first(
          for { l <- lo.num; h <- hi.num if exact(l) && exact(h); b <-
            num(st, nanGuard = true)((mn, mx) => mn >= l && mx <= h) } yield b,
          for { l <- lo.str; h <- hi.str; b <-
            str(st)((mn, mx) => u8cmp(mn, l) >= 0 && u8cmp(mx, h) <= 0) } yield b)
      }
      // provable only for a constant block (min == max) in the list
      case In(c, vs) => stats.get(c).exists { st =>
        vs.exists(v => first(
          for { x <- v.num if exact(x); b <-
            num(st, nanGuard = true)((mn, mx) => mn == x && mx == x) } yield b,
          for { x <- v.str; b <- str(st)((mn, mx) => mn == x && mx == x) } yield b))
      }
      case Cmp(op, c, v) => stats.get(c).exists { st =>
        def proof[T](lt: (T, T) => Boolean, eq: (T, T) => Boolean)
            : Option[(T, T, T) => Boolean] = op match {
          case "="  => Some((mn, mx, x) => eq(mn, x) && eq(mx, x))
          case "!=" => Some((mn, mx, x) => lt(mx, x) || lt(x, mn))
          case ">"  => Some((mn, _, x) => lt(x, mn))
          case ">=" => Some((mn, _, x) => !lt(mn, x))
          case "<"  => Some((_, mx, x) => lt(mx, x))
          case "<=" => Some((_, mx, x) => !lt(x, mx))
          case _    => None
        }
        val nanGuard = op == "=" || op == "<" || op == "<="
        first(
          for { x <- v.num if exact(x); f <- proof[Double](_ < _, _ == _); b <-
            num(st, nanGuard)((mn, mx) => f(mn, mx, x)) } yield b,
          for { x <- v.str; f <- proof[String](u8cmp(_, _) < 0, _ == _); b <-
            str(st)((mn, mx) => f(mn, mx, x)) } yield b)
      }
      // IS NOT NULL: a trusted zero null count; IS NULL: an all-null block
      case NullCheck(c, negated) => stats.get(c).exists { st =>
        if (negated) st.nullCount.contains(0L)
        else st.nullCount.exists(n => st.rows.contains(n))
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
}
