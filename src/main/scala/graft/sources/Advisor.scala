package graft.sources

import org.apache.spark.sql.SparkSession

/** Session-scoped ADVISORY registry (round 16): serve layers that
  * REFUSE or DEGRADE for a structural reason the engine can fix with
  * a one-time investment record what to build, instead of silently
  * falling back forever.
  *
  * The founding case is the high-cardinality global DISTINCT
  * (mb_dict_distinct's honesty row): a column whose parquet
  * dictionary pages overflow to PLAIN on even one file can never be
  * fully dictionary-served — [[DictionaryIndex.countDistinct]]
  * degrades those files to a scan, which at 100 TB is scan-parity
  * with the engines the serve exists to beat. The fix is not a better
  * scan, it's a different INDEX: an [[AggView]] on the column is
  * bounded by distinct values, not rows, and the transparent
  * [[graft.plans.AggViewRewriteRule]] serves every later
  * `COUNT(DISTINCT col)` from it. The serve path therefore emits a
  * `distinct_view` advisory naming exactly that build — and, under
  * `spark.graft.advisor.autoDistinctView` (default FALSE: a view
  * build is a full-table aggregation, never an implicit side effect
  * of a query), pays the build immediately and registers the view
  * marker so the CURRENT session's next query already serves.
  *
  * Advisories dedupe per (root, column, kind) — a repeated degraded
  * query updates one entry rather than flooding — and the registry is
  * bounded. This is operational metadata, not query state: wrong or
  * stale advisories cost nothing (the builds they suggest are
  * themselves freshness-gated by the view machinery).
  */
object Advisor {

  final case class Advisory(root: String, column: String, kind: String,
      detail: String)

  private def norm(p: String): String = graft.plans.ZoneMapPruneRule.normFile(p)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Advisory]()

  def advise(root: String, column: String, kind: String, detail: String): Unit = {
    if (entries.size > 256) entries.clear() // bounded; advisories are re-emittable
    entries.put((norm(root), column, kind),
      Advisory(norm(root), column, kind, detail))
  }

  /** All advisories, or those for one table root. */
  def advisories(root: Option[String] = None): Seq[Advisory] = {
    val all = scala.jdk.CollectionConverters
      .CollectionHasAsScala(entries.values).asScala.toSeq
    root.fold(all)(r => all.filter(_.root == norm(r)))
      .sortBy(a => (a.root, a.column, a.kind))
  }

  private[graft] def clear(): Unit = entries.clear()

  /** The `distinct_view` advisory + optional auto-build, called from
    * the degraded branch of the dictionary COUNT(DISTINCT) serve.
    * Returns true when a view now exists (pre-existing or just built)
    * and is marker-registered for transparent discovery. The build is
    * guarded per (root, column) within the session; the marker MERGES
    * with any existing view paths (writeMarker overwrites). */
  def onDistinctDegraded(spark: SparkSession, tablePath: String,
      column: String, coveredFiles: Long, totalFiles: Long): Boolean = {
    advise(tablePath, column, "distinct_view",
      s"COUNT(DISTINCT $column) dictionary serve degraded to scanning " +
        s"${totalFiles - coveredFiles} of $totalFiles files (dictionary " +
        "pages overflow on this column's cardinality). Build a " +
        "materialized aggregate view bounded by DISTINCT VALUES instead " +
        s"of rows: AggView.build(spark, root, viewPath, Nil, \"$column\") " +
        "+ AggView.writeMarker — later COUNT(DISTINCT) queries serve " +
        "transparently via AggViewRewriteRule at view scale. Or set " +
        "spark.graft.advisor.autoDistinctView=true to have this serve " +
        "pay the build once itself.")
    val auto =
      try spark.conf
        .get("spark.graft.advisor.autoDistinctView", "false").toBoolean
      catch { case scala.util.control.NonFatal(_) => false }
    if (!auto) return false
    val lock = buildGuard.computeIfAbsent((norm(tablePath), column),
      _ => new Object)
    lock.synchronized {
      val viewPath = new org.apache.hadoop.fs.Path(
        tablePath, s"_graft_aggview_$column").toString
      try {
        val exists =
          try AggView.readMeta(viewPath).valueCol == column
          catch { case scala.util.control.NonFatal(_) => false }
        // a pre-existing view refreshes at delta cost (no-op when the
        // base is unchanged) — the degraded serve that re-triggered
        // this may be degraded precisely because the base moved
        if (!exists) AggView.build(spark, tablePath, viewPath, Nil, column)
        else AggView.refresh(spark, tablePath, viewPath)
        val have = AggView.markerViews(spark, tablePath).getOrElse(Nil)
        if (!have.exists(_.endsWith(s"_graft_aggview_$column")))
          AggView.writeMarker(tablePath, have :+ viewPath)
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  // per-(root, column) build/refresh mutex — concurrent degraded
  // serves must not race two full-table view builds
  private val buildGuard =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Object]()
}
