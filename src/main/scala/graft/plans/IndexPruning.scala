package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map pruning evaluated AS A QUERY over the stats index table:
  * the same predicate algebra as [[ZoneMapPruner.mayMatch]], compiled
  * into a Spark `Column` over a per-block `map<column, stats>` and
  * evaluated for all blocks in one distributed aggregation.
  *
  * The transparent rules and the engine decide on the DRIVER instead,
  * over a [[ZoneSnapshot]] (blocks × referenced columns, collected
  * once per index generation), so a new literal costs no job. This
  * object serves the scale harnesses and gate rows that evaluate an
  * index as a table, and hands back only per-file verdicts:
  *
  *   - the per-FILE skip list ([[skippedFiles]]) — bounded by file
  *     count, and in the common case much smaller, or
  *   - the kept block list ([[decide]] collected by the caller).
  *
  * Equivalence with `mayMatch` (including the conservative
  * missing-stats / mixed-type fallthroughs) is property-tested in
  * IndexPruningSpec. String comparisons: Spark compares strings by
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
    * evaluated under [[numDefined]] (bounds non-null). */
  private def nanBound(st: Column): Column =
    isnan(st.getField("minNum")) || isnan(st.getField("maxNum"))

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
}
