package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map pruning evaluated AS A QUERY over the stats index table —
  * the 100 TB form of [[ZoneMapPruner]].
  *
  * [[ZoneMapPruner.mayMatch]] is the executable spec: a driver-side
  * decision over one block's collected stats. At real scale the index
  * itself is big data (millions of files × dozens of columns), so the
  * decision must run where the index lives: this object compiles the
  * same predicate algebra into a Spark `Column` over a per-block
  * `map<column, stats>` and evaluates all blocks in one distributed
  * aggregation. The driver only ever receives:
  *
  *   - the per-FILE skip list ([[skippedFiles]]) — bounded by file
  *     count, and in the common case much smaller (only files the index
  *     can refute), or
  *   - the kept block list ([[decide]] collected by the caller) —
  *     bounded by the candidate set.
  *
  * Per-column min/max never materialize on the driver.
  *
  * Equivalence with `mayMatch` (including the conservative
  * missing-stats / mixed-type fallthroughs) is property-tested in
  * PrunerPropertySpec. String comparisons: Spark compares strings by
  * unsigned UTF-8 byte order (`UTF8String.compareTo`), which is exactly
  * [[ZoneMapPruner.u8cmp]] — the order parquet footer string min/max
  * are computed in.
  */
object IndexPruning {

  /** Columns a predicate references — the only index entries whose
    * stats need to travel through the decision aggregation. */
  def refColumns(p: Pred): Set[String] = p match {
    case And(l, r)        => refColumns(l) ++ refColumns(r)
    case Or(l, r)         => refColumns(l) ++ refColumns(r)
    case Between(c, _, _) => Set(c)
    case In(c, _)         => Set(c)
    case Cmp(_, c, _)     => Set(c)
    case NullCheck(c, _)  => Set(c)
  }

  /** Back-fill columns an index frame may predate (nanRisk, round 14)
    * so the stats struct always resolves — a raw `spark.read.parquet`
    * of an old sidecar is a legal input to every entry point here.
    * Null = unknown provenance = risky (conservative). */
  private def withCompat(index: DataFrame): DataFrame =
    if (index.columns.contains("nanRisk")) index
    else index.withColumn("nanRisk", lit(null).cast("boolean"))

  /** May-match as a Column over `stats: map<string, struct<minNum,
    * maxNum, minStr, maxStr>>`. Mirrors [[ZoneMapPruner.mayMatch]]
    * case-for-case; each leaf is a `coalesce(numeric-case,
    * string-case, true)` so any missing stat or type mismatch falls
    * through to "keep" exactly like the Scala match does.
    *
    * NaN (round 14): Spark orders NaN ABOVE every value, while
    * spec-compliant parquet writers (arrow) EXCLUDE NaN from float
    * min/max — so for a float/double column, `max` is NOT an upper
    * bound on the Spark-visible values unless the entry's recorded
    * `nanRisk` is false. The only refutation leaves that use max as
    * an upper bound are `>` / `>=` (skip iff max ≤/< lit — a hidden
    * NaN row would match); they additionally require [[nanOk]].
    * Every other leaf refutes through min (faithful: NaN never
    * lowers it) or refutes values NaN cannot take (`=`, IN, BETWEEN
    * need value ≤ hi, which NaN fails).
    *
    * NaN-VALUED bounds (round 15, mirroring [[ZoneMapPruner.mayMatch]]
    * case-for-case again): legacy parquet-mr files from the
    * Math.min/max era carry NaN-POISONED min/max — and the createdBy
    * check that records `nanRisk` is version-blind, so such an entry
    * can arrive with nanRisk=false. Spark orders NaN ABOVE every
    * value, so a NaN min makes `minNum < lit` / `minNum <= lit` /
    * BETWEEN / IN refutations evaluate FALSE and wrongly skip files
    * holding finite matching rows. Every numeric refutation leaf now
    * keeps outright on a NaN-valued bound ([[nanBound]]) — the finite
    * extremum is lost, so nothing is provable. */
  def keepColumn(pred: Pred, stats: Column): Column = pred match {
    case And(l, r) => keepColumn(l, stats) && keepColumn(r, stats)
    case Or(l, r)  => keepColumn(l, stats) || keepColumn(r, stats)

    case Between(c, lo, hi) =>
      val st = element_at(stats, lit(c))
      val num = for { l <- lo.num; h <- hi.num } yield
        when(numDefined(st), nanBound(st) ||
          !(st.getField("maxNum") < lit(l) || st.getField("minNum") > lit(h)))
      val str = for { l <- lo.str; h <- hi.str } yield
        when(strDefined(st), !(st.getField("maxStr") < lit(l) || st.getField("minStr") > lit(h)))
      coalesce(num.toSeq ++ str.toSeq :+ lit(true): _*)

    case In(c, vs) =>
      val st = element_at(stats, lit(c))
      // prune only if stats are present AND every value falls outside
      // [min, max] — an empty IN list prunes iff stats are defined,
      // matching mayMatch's `.filter(_.defined)` gate.
      val defined = numDefined(st) || strDefined(st)
      val anyInside = vs.map { v =>
        val num = v.num.map(x =>
          when(numDefined(st), nanBound(st) ||
            (st.getField("minNum") <= lit(x) && st.getField("maxNum") >= lit(x))))
        val str = v.str.map(x =>
          when(strDefined(st), st.getField("minStr") <= lit(x) && st.getField("maxStr") >= lit(x)))
        coalesce(num.toSeq ++ str.toSeq :+ lit(true): _*)
      }.reduceOption(_ || _).getOrElse(lit(false))
      when(!defined, lit(true)).otherwise(anyInside)

    case Cmp("!=", _, _) => lit(true) // min/max can't refute inequality

    case Cmp(op, c, v) =>
      val st = element_at(stats, lit(c))
      val numCmp: (Column, Column) => Option[Column => Column] = (mn, mx) => op match {
        case "="  => Some(x => mn <= x && x <= mx)
        case ">"  => Some(x => mx > x)
        case ">=" => Some(x => mx >= x)
        case "<"  => Some(x => mn < x)
        case "<=" => Some(x => mn <= x)
        case _    => None // unknown op: keep (never reached by the extractor)
      }
      // max-as-upper-bound refutations need NaN-faithful stats
      val guard: Column =
        if (op == ">" || op == ">=") numDefined(st) && nanOk(st)
        else numDefined(st)
      val num = for {
        x <- v.num
        f <- numCmp(st.getField("minNum"), st.getField("maxNum"))
      } yield when(guard, nanBound(st) || f(lit(x)))
      val str = for {
        x <- v.str
        f <- numCmp(st.getField("minStr"), st.getField("maxStr"))
      } yield when(strDefined(st), f(lit(x)))
      coalesce(num.toSeq ++ str.toSeq :+ lit(true): _*)

    // mirrors mayMatch's NullCheck: nullCount==0 refutes IS NULL,
    // nullCount==rows refutes IS NOT NULL; missing entry or negative
    // count (footer omitted stats) keeps conservatively
    case NullCheck(c, negated) =>
      val st = element_at(stats, lit(c))
      val nc = st.getField("nullCount")
      val n = st.getField("rows")
      val decided =
        if (!negated) when(st.isNotNull && nc.isNotNull && nc >= 0, nc > lit(0L))
        else when(st.isNotNull && nc.isNotNull && nc >= 0 && n.isNotNull, nc < n)
      coalesce(decided, lit(true))
  }

  private def numDefined(st: Column): Column =
    st.isNotNull && st.getField("minNum").isNotNull && st.getField("maxNum").isNotNull
  private def strDefined(st: Column): Column =
    st.isNotNull && st.getField("minStr").isNotNull && st.getField("maxStr").isNotNull
  /** NaN-faithful stats: `nanRisk` RECORDED false (non-float column,
    * or a writer that propagates NaN into max). Null — an entry from a
    * sidecar predating the flag — counts as risky. */
  private def nanOk(st: Column): Column =
    coalesce(st.getField("nanRisk") === lit(false), lit(false))
  /** A NaN-VALUED numeric bound (legacy parquet-mr Math.min/max era
    * files, whose version-blind createdBy check records nanRisk=false):
    * the finite extremum is lost, refutation leaves must keep. Only
    * evaluated under [[numDefined]] (bounds non-null). The T-proof side
    * needs no twin: [[numExact]]'s abs(NaN) < 2^53 is false, so
    * NaN-valued bounds already fall through to "unproven". */
  private def nanBound(st: Column): Column =
    isnan(st.getField("minNum")) || isnan(st.getField("maxNum"))

  /** The Double stats view is EXACT only strictly inside ±2^53: an
    * int64 value of 2^53+1 and its neighbor 2^53 round to the SAME
    * double, and rounding is monotone but not strict — so REFUTATION
    * stays sound under rounding (round(min) ≤ round(v) ≤ round(max)
    * whenever min ≤ v ≤ max: a present value is never refuted) but an
    * ALL-MATCH proof does not: `min >= round(lit)` can hold while
    * `min >= lit` fails by one ulp, falsely proving a file all-true
    * and serving wrong metadata answers. Strictly-inside-±2^53 is the
    * exactness certificate for all three operands: any long that
    * ROUNDS strictly below 2^53 IS its rounded double (the nearest
    * representable neighbors of an out-of-range long are ≥ 2^53), so
    * gating |min|, |max| and |lit| < 2^53 makes every compared value
    * exact. Timestamps (micros) sit inside the bound for ±285 years
    * around the epoch; giant raw doubles lose provability, never
    * correctness. */
  private val ExactDoubleBound = 9007199254740992.0 // 2^53
  private def numExact(st: Column): Column =
    abs(st.getField("minNum")) < lit(ExactDoubleBound) &&
      abs(st.getField("maxNum")) < lit(ExactDoubleBound)
  private def litExact(x: Double): Boolean =
    math.abs(x) < ExactDoubleBound

  /** ALL-rows-match as a Column — the T-proof dual of [[keepColumn]]
    * (which proves "no row can match"). Sound ONLY for a COMPLETE
    * predicate ([[PredicateExtractor.convertComplete]]): a weakened
    * predicate's T-proof says nothing about its dropped conjuncts.
    * Every comparison leaf additionally requires a TRUSTED ZERO null
    * count — null rows fail every comparison, so "every row matches"
    * needs none — and, for numeric comparisons, the ±2^53 exactness
    * certificate ([[numExact]]/[[litExact]]) on stats and literal
    * alike. The conservative fallthrough is FALSE ("unproven"),
    * the opposite direction from keepColumn's TRUE ("keep").
    *
    * NaN (round 14): every T-proof whose claim bounds the values from
    * ABOVE (`<`, `<=`, `=`, BETWEEN, IN via min==max) is unsound when
    * float stats may hide NaN — the invisible NaN row fails the
    * predicate while the proof claims all rows pass — so those leaves
    * additionally require [[nanOk]]. `>`, `>=` and `!=` stay: min is
    * faithful, and a hidden NaN row satisfies `> lit` (Spark orders
    * NaN above everything) and `!= lit` anyway. */
  def allMatchColumn(pred: Pred, stats: Column): Column = pred match {
    case And(l, r) => allMatchColumn(l, stats) && allMatchColumn(r, stats)
    // OR: one branch covering every row suffices (conservative — rows
    // could be covered jointly, but min/max can't prove a split)
    case Or(l, r)  => allMatchColumn(l, stats) || allMatchColumn(r, stats)

    case Between(c, lo, hi) =>
      val st = element_at(stats, lit(c))
      val num = for { l <- lo.num; h <- hi.num
        if litExact(l) && litExact(h) } yield
        when(numDefined(st) && numExact(st) && noNulls(st) && nanOk(st),
          st.getField("minNum") >= lit(l) && st.getField("maxNum") <= lit(h))
      val str = for { l <- lo.str; h <- hi.str } yield
        when(strDefined(st) && noNulls(st),
          st.getField("minStr") >= lit(l) && st.getField("maxStr") <= lit(h))
      coalesce(num.toSeq ++ str.toSeq :+ lit(false): _*)

    case In(c, vs) if vs.nonEmpty =>
      // provable only for a constant block (min == max) whose one
      // value is in the list
      val st = element_at(stats, lit(c))
      val hit = vs.map { v =>
        val num = v.num.filter(litExact).map(x =>
          when(numDefined(st) && numExact(st) && noNulls(st) && nanOk(st),
            st.getField("minNum") === lit(x) && st.getField("maxNum") === lit(x)))
        val str = v.str.map(x =>
          when(strDefined(st) && noNulls(st),
            st.getField("minStr") === lit(x) && st.getField("maxStr") === lit(x)))
        coalesce(num.toSeq ++ str.toSeq :+ lit(false): _*)
      }.reduce(_ || _)
      hit

    case Cmp(op, c, v) =>
      val st = element_at(stats, lit(c))
      val numCmp: (Column, Column) => Option[Column => Column] = (mn, mx) => op match {
        case "="  => Some(x => mn === x && mx === x)
        case "!=" => Some(x => mx < x || mn > x)
        case ">"  => Some(x => mn > x)
        case ">=" => Some(x => mn >= x)
        case "<"  => Some(x => mx < x)
        case "<=" => Some(x => mx <= x)
        case _    => None
      }
      // claims that bound values from above need NaN-faithful stats;
      // >, >= and != survive a hidden NaN row (it matches them)
      val needNanOk = op == "=" || op == "<" || op == "<="
      val numGuard =
        if (needNanOk) numDefined(st) && numExact(st) && noNulls(st) && nanOk(st)
        else numDefined(st) && numExact(st) && noNulls(st)
      val num = for {
        x <- v.num
        if litExact(x)
        f <- numCmp(st.getField("minNum"), st.getField("maxNum"))
      } yield when(numGuard, f(lit(x)))
      val str = for {
        x <- v.str
        f <- numCmp(st.getField("minStr"), st.getField("maxStr"))
      } yield when(strDefined(st) && noNulls(st), f(lit(x)))
      coalesce(num.toSeq ++ str.toSeq :+ lit(false): _*)

    case NullCheck(c, negated) =>
      val st = element_at(stats, lit(c))
      val nc = st.getField("nullCount")
      val n = st.getField("rows")
      val proved =
        if (negated) when(st.isNotNull && nc.isNotNull && nc >= 0, nc === lit(0L))
        else when(st.isNotNull && nc.isNotNull && n.isNotNull && nc >= 0, nc === n)
      coalesce(proved, lit(false))
  }

  private def noNulls(st: Column): Column = {
    val nc = st.getField("nullCount")
    nc.isNotNull && nc === lit(0L)
  }

  /** Per-file TRI-STATE for a COMPLETE predicate: (file, all_true,
    * all_false). `all_true` = every block PROVES all its rows match;
    * `all_false` = every block refuted. Files straddling the predicate
    * (or with missing stats) are neither — the caller's "undecided"
    * class. One distributed aggregation, file-listing-scale result —
    * the filtered dictionary serve's decision
    * ([[graft.plans.DictDistinctRule]]). */
  def fileTriState(index0: DataFrame, pred: Pred): DataFrame = {
    val index = withCompat(index0)
    val refs = refColumns(pred).toSeq
    val entry = when(col("column").isin(refs: _*),
      struct(col("column").as("key"),
        struct(col("minNum"), col("maxNum"), col("minStr"), col("maxStr"), col("nullCount"), col("rows"), col("nanRisk")).as("value")))
    index.groupBy(col("blockId").as("block_id"), col("file"))
      .agg(map_from_entries(collect_list(entry)).as("stats"))
      .select(col("file"),
        allMatchColumn(pred, col("stats")).as("t"),
        keepColumn(pred, col("stats")).as("keep"))
      .groupBy(col("file"))
      .agg((min(when(col("t"), 1).otherwise(0)) === 1).as("all_true"),
        (max(when(col("keep"), 1).otherwise(0)) === 0).as("all_false"))
  }

  /** Per-block keep/skip decisions as a DataFrame:
    * (block_id, file, rows, row_start, row_end, keep).
    *
    * One distributed aggregation over the index. Only entries for the
    * predicate's referenced columns enter each block's stats map (the
    * `when` drops the rest before the map-side partial collect_list,
    * so the shuffle carries refCols × blocks entries, not the whole
    * index), while every block stays represented — a block with no
    * stats for a referenced column keeps conservatively. */
  def decide(index0: DataFrame, pred: Pred): DataFrame = {
    val index = withCompat(index0)
    val refs = refColumns(pred).toSeq
    val entry = when(col("column").isin(refs: _*),
      struct(col("column").as("key"),
        struct(col("minNum"), col("maxNum"), col("minStr"), col("maxStr"), col("nullCount"), col("rows"), col("nanRisk")).as("value")))
    index.groupBy(col("blockId").as("block_id"), col("file"))
      .agg(
        first(col("rows")).as("rows"),
        first(col("rowStart")).as("row_start"),
        first(col("rowEnd")).as("row_end"),
        map_from_entries(collect_list(entry)).as("stats"))
      .select(col("block_id"), col("file"), col("rows"), col("row_start"), col("row_end"),
        keepColumn(pred, col("stats")).as("keep"))
  }

  /** Batched [[decide]]: keep/skip for MANY predicates in ONE
    * distributed aggregation — (block_id, file, rows, row_start,
    * row_end, keeps: array<boolean> aligned with `preds`). A workload
    * replay evaluates its whole predicate set against the index in a
    * single job instead of one job per shape; the stats map is built
    * once over the union of all referenced columns. */
  def decideMany(index0: DataFrame, preds: Seq[Pred]): DataFrame = {
    require(preds.nonEmpty, "decideMany needs at least one predicate")
    val index = withCompat(index0)
    val refs = preds.flatMap(refColumns).distinct
    val entry = when(col("column").isin(refs: _*),
      struct(col("column").as("key"),
        struct(col("minNum"), col("maxNum"), col("minStr"), col("maxStr"), col("nullCount"), col("rows"), col("nanRisk")).as("value")))
    index.groupBy(col("blockId").as("block_id"), col("file"))
      .agg(
        first(col("rows")).as("rows"),
        first(col("rowStart")).as("row_start"),
        first(col("rowEnd")).as("row_end"),
        map_from_entries(collect_list(entry)).as("stats"))
      .select(col("block_id"), col("file"), col("rows"), col("row_start"), col("row_end"),
        array(preds.map(p => keepColumn(p, col("stats"))): _*).as("keeps"))
  }

  /** Per-file verdicts: a file is skippable only when EVERY one of its
    * blocks (row groups) is refuted. */
  def fileDecisions(index: DataFrame, pred: Pred): DataFrame =
    decide(index, pred).groupBy(col("file"))
      .agg((max(when(col("keep"), 1).otherwise(0)) === 1).as("keep"))

  /** The files the index can PROVE irrelevant — the only thing the
    * driver needs to rewrite a scan, and the smaller of the two lists
    * whenever pruning is doing its job. */
  def skippedFiles(index: DataFrame, pred: Pred): Seq[String] =
    fileDecisions(index, pred).filter(!col("keep"))
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Candidate files (reference parity: an all-pruned predicate keeps
    * everything non-empty-safe, query_enginev5.py:95-99). */
  def keptFiles(index: DataFrame, pred: Pred): Seq[String] = {
    val d = fileDecisions(index, pred)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toSeq
    val kept = d.collect { case (f, true) => f }
    if (kept.isEmpty) d.map(_._1) else kept
  }

  /** Pruned scan: file-level skip from the index + Spark's native
    * row-group pushdown inside survivors + row-level filter. */
  def prunedRead(spark: SparkSession, index: DataFrame, pred: Pred): DataFrame =
    spark.read.parquet(keptFiles(index, pred): _*).filter(pred.toColumn)

  /** The files a stats-only TOP-K cut can PROVE irrelevant for
    * `ORDER BY colName [ASC|DESC] LIMIT k`: [[ZoneMapPruner.topKKept]]
    * (the cut [[graft.engine.GraftEngine]] serves by too) at file level,
    * for the transparent optimizer rule ([[ZoneMapPruneRule]]) — a file
    * is skippable when every block in it is refuted. A column with no
    * index rows anywhere cuts nothing. One pushed filter on the column
    * name over the index; the driver receives one small row per block —
    * file-listing scale, the same contract as [[skippedFiles]]. Sound
    * because the builder emits one entry per (row group, column) even
    * when footer stats are ABSENT (None bounds), so every block of every
    * file that has the column is represented, and a file with no
    * entries never appears — and is therefore never skipped
    * (conservative for schema-evolved files missing the column). */
  def topKSkippedFiles(index0: DataFrame, colName: String, k: Int,
      ascending: Boolean, nullsFirst: Boolean): Seq[String] = {
    val blocks = withCompat(index0).filter(col("column") === lit(colName))
      .select(col("file"), col("rows"), col("minNum"), col("maxNum"),
        col("nullCount"), col("nanRisk"))
      .collect().toSeq
      .map { r =>
        def opt[T](i: Int)(get: Int => T): Option[T] = if (r.isNullAt(i)) None else Some(get(i))
        r.getString(0) -> ColStats(opt(2)(r.getDouble), opt(3)(r.getDouble), None, None,
          opt(4)(r.getLong).filter(_ >= 0), Some(r.getLong(1)), opt(5)(r.getBoolean))
      }
    ZoneMapPruner.topKKept(blocks, k, ascending, nullsFirst) match {
      case Some(kept) => blocks.map(_._1).distinct.filterNot(kept.contains)
      case None => Nil
    }
  }
}
