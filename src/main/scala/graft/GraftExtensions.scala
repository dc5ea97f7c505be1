package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharEntropyStats, RollingHash, SimHash64}
import graft.plans.ZoneMapPruneRule

/** Spark extension point: `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) installs:
  *
  *  - SQL functions `graft_rolling_hash(str)`,
  *    `graft_simhash64(array<string>)` and `graft_char_entropy(str)` —
  *    native Catalyst expressions, callable from plain SQL;
  *  - seven optimizer rules, in this order:
  *    - [[graft.plans.AggViewRewriteRule]] — materialized-view serving
  *      for covered aggregate shapes;
  *    - [[graft.plans.DictDistinctRule]] — COUNT(DISTINCT) and
  *      SELECT DISTINCT served from a current `_graft_dict` sidecar's
  *      dictionary pages;
  *    - [[graft.plans.ZoneAggRule]] — COUNT/MIN/MAX/SUM, filtered or
  *      grouped, answered from a current `_graft_index` sidecar's
  *      footer stats with a straddler-only scan;
  *    - [[ZoneMapPruneRule]] — zone, dictionary, bloom, top-k and
  *      join-key file pruning;
  *    - [[graft.plans.BucketLayoutRule]] — a bucket-spec marker
  *      re-attached to a plain path read;
  *    - [[graft.plans.EagerAggregationRule]] — a grouped partial
  *      aggregate pushed below a bucketed fact join;
  *    - [[graft.plans.DecimalSumRule]] — decimal SUM/AVG onto the
  *      int128 accumulator.
  *
  * Every rule runs in the [[graft.plans.GraftRule]] frame: a rewrite
  * that throws leaves its node to the plain plan and is counted
  * ([[graft.plans.GraftRule.errors]]), and the Spark queries a rule
  * runs to decide run with every graft rule standing down
  * ([[graft.plans.GraftRule.internally]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  private def unary(name: String)(build: Expression => Expression)
      : Seq[Expression] => Expression = { args =>
    require(args.size == 1, s"$name expects exactly 1 argument, got ${args.size}")
    build(args.head)
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_rolling_hash"),
      info(classOf[RollingHash], "graft_rolling_hash",
        "graft_rolling_hash(str) - 64-bit polynomial rolling hash"),
      unary("graft_rolling_hash")(RollingHash(_))))
    e.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      info(classOf[SimHash64], "graft_simhash64",
        "graft_simhash64(array<string>) - 64-bit SimHash"),
      unary("graft_simhash64")(SimHash64(_))))
    e.injectFunction((
      FunctionIdentifier("graft_char_entropy"),
      info(classOf[CharEntropyStats], "graft_char_entropy",
        "graft_char_entropy(str) - struct<n_chars,distinct_chars," +
          "sum_c_log2c,entropy_bits_floor> in the exact floor-log2 domain"),
      unary("graft_char_entropy")(CharEntropyStats(_))))
    // ORDER MATTERS: the view rewrite must run BEFORE zone-map pruning.
    // ZoneMapPruneRule replaces a filtered relation's file index with
    // the pruned subset; AggViewRewriteRule's staleness gate requires
    // the relation's listing to EQUAL the view's covered file set, so
    // a prior prune would silently kill the view serve on exactly the
    // filtered queries it targets. Rewritten plans contain no
    // registered base relation, so the zone rule simply no-ops on them;
    // refused plans reach the zone rule unchanged.
    // DictDistinctRule sits between: a fresh materialized view is
    // strictly better where both could serve (it also covers grouped
    // shapes), and the dictionary serve fires only on filter-less
    // global COUNT(DISTINCT) — plans the pruner has nothing to cut.
    // ZoneAggRule (round 13) slots after DictDistinctRule — disjoint
    // shapes (it serves non-DISTINCT COUNT/MIN/MAX) — and before the
    // pruner, which may further block-prune the straddler scan it
    // emits.
    e.injectOptimizerRule(graft.plans.AggViewRewriteRule(_))
    e.injectOptimizerRule(graft.plans.DictDistinctRule(_))
    e.injectOptimizerRule(graft.plans.ZoneAggRule(_))
    e.injectOptimizerRule(ZoneMapPruneRule(_))
    // Bucket-layout discovery LAST among the relation rewrites: it
    // changes only the physical scan contract (bucketSpec), so the
    // serve rules above keep matching the same logical shapes; the
    // eager-aggregation push is gated on the claim having happened
    // (both run in the same fixpoint batch, so ordering here is a
    // first-pass nicety, not a correctness dependency).
    e.injectOptimizerRule(graft.plans.BucketLayoutRule(_))
    e.injectOptimizerRule(graft.plans.EagerAggregationRule(_))
    // DecimalSumRule LAST (round 15): it replaces the Sum FUNCTION
    // node with the int128 unscaled accumulator, and every
    // recognition rule above matches Spark's Sum shapes —
    // EagerAggregationRule additionally accepts the rewritten form,
    // so fixpoint revisits stay safe.
    e.injectOptimizerRule(graft.plans.DecimalSumRule(_))
  }
}
