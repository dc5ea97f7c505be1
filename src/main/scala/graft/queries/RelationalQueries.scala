package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import Det._

/** The relational/SQL surface of the reference engine (SURVEY.md §2a).
  *
  * The reference executes arbitrary SQL by handing pruned Arrow blocks
  * to DuckDB (reference: query_enginev5.py:236-304); graft declares the
  * same queries as Catalyst plans so Spark plans the scan, pushdown,
  * join strategy, and shuffle. Each query is written for scale: filters
  * and projections sit directly on the parquet scan (pushdown/pruning),
  * dimension joins are broadcast, fact-side aggregations are partial
  * (map-side) before the shuffle.
  *
  * Determinism rules (driver hash-compares against DuckDB): double SUMs
  * go through exact DECIMAL (see [[Det]]), timestamps are output as
  * DATE or ints, every result has a total-order ORDER BY.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val all: Seq[QueryDef] = Seq(

    // q1: TPC-H Q1-style pricing summary — groupBy agg with partial
    // aggregation; filter pushed to the scan.
    QueryDef.sql(
      "q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base_price"),
          dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          davg2(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // q2: the reference's own benchmark query shape — BETWEEN range
    // scan (reference: benchmark.py "where column1 between 18 and 24").
    // Zone-map-prunable: the predicate reaches the parquet scan.
    QueryDef.sql(
      "q2_filter_between",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  l_returnflag, CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem WHERE l_quantity BETWEEN 18 AND 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity").between(18, 24))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"),
          col("l_shipdate").cast("date").as("l_shipdate"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // q3: comparison operators + AND/OR — the exact predicate algebra
    // the reference's pruner understands (query_enginev5.py:107-233).
    QueryDef.sql(
      "q3_filter_compare",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE (o_totalprice >= 450000.0 AND o_orderstatus = 'O')
        |   OR (o_totalprice < 2000.0 AND o_orderstatus <> 'O')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .filter(
          (col("o_totalprice") >= 450000.0 && col("o_orderstatus") === "O") ||
          (col("o_totalprice") < 2000.0 && col("o_orderstatus") =!= "O"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // q4: IN-list filter (query_enginev5.py:137-166).
    QueryDef.sql(
      "q4_filter_in",
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
    },

    // q5: projection — ReadSchema must shrink to exactly these columns.
    QueryDef.sql(
      "q5_projection",
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey") { (s, dir) =>
      t(s, dir, "part").select("p_partkey", "p_name", "p_retailprice").orderBy("p_partkey")
    },

    // q6: COUNT(*) — answerable from parquet footer row counts alone
    // (metadata-only, like the reference's index).
    QueryDef.sql(
      "q6_count_star",
      "SELECT COUNT(*) AS n_rows FROM lineitem") { (s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"))
    },

    // q7: global MIN/MAX/SUM/AVG.
    QueryDef.sql(
      "q7_agg_minmax",
      """SELECT MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(MIN(l_shipdate) AS DATE) AS first_ship, CAST(MAX(l_shipdate) AS DATE) AS last_ship
        |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").agg(
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        dsum2(col("l_extendedprice")).as("sum_price"),
        davg2(col("l_extendedprice")).as("avg_price"),
        min(col("l_shipdate")).cast("date").as("first_ship"),
        max(col("l_shipdate")).cast("date").as("last_ship"))
    },

    // q8: DISTINCT (hash aggregate, map-side partial).
    QueryDef.sql(
      "q8_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")
    },

    // q9: ORDER BY + LIMIT → Spark plans TakeOrderedAndProject (top-k
    // per partition, merge on driver — no full sort at scale).
    QueryDef.sql(
      "q9_orderby_limit",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    },

    // q10: GROUP BY + HAVING.
    QueryDef.sql(
      "q10_groupby_having",
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") >= 3)
        .orderBy("o_custkey")
    },

    // q11: fact ⋈ small dim — explicitly broadcast: no shuffle of the
    // fact table at any scale.
    QueryDef.sql(
      "q11_join_inner",
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },

    // q12: multi-table join chain (TPC-H Q5 shape): two fact-fact
    // shuffle joins + broadcast dims; aggregation keyed by region/nation.
    QueryDef.sql(
      "q12_join_multi",
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderdate") >= "1996-01-01 00:00:00"),
          col("l_orderkey") === col("o_orderkey"))
        // customer is NOT hinted: it is a dim at test sf (auto-broadcast
        // fires under the threshold) but FACT-SIZED at 100x dims — a
        // forced broadcast at sf100 builds a 15M-row driver hash table
        // (measured round 9: 144 s vs 46 s without the hint). nation/
        // region are constant-size — always broadcast.
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("r_name", "n_name")
    },

    // q13: LEFT OUTER join with null-producing side + COALESCE.
    QueryDef.sql(
      "q13_join_left",
      """SELECT n_nationkey, n_name, COUNT(s_suppkey) AS n_suppliers,
        |  COALESCE(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_bal
        |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
        |GROUP BY n_nationkey, n_name ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "supplier"), col("n_nationkey") === col("s_nationkey"), "left")
        .groupBy("n_nationkey", "n_name")
        .agg(
          count(col("s_suppkey")).as("n_suppliers"),
          coalesce(dsum2(col("s_acctbal")), lit(0.0)).as("total_bal"))
        .orderBy("n_nationkey")
    },

    // q14: LEFT SEMI join (EXISTS) — only keys cross the shuffle.
    QueryDef.sql(
      "q14_join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // q15: LEFT ANTI join (NOT EXISTS).
    QueryDef.sql(
      "q15_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // q16: COUNT(DISTINCT) — expands to a two-stage distinct aggregate.
    QueryDef.sql(
      "q16_count_distinct",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // NOT countDistinct(a), countDistinct(b) in one agg: two distinct
      // aggregates plan through Spark's 3-WAY Expand — every input row
      // TRIPLES before the partial agg (measured at sf100 in r10: 5.8x
      // DuckDB marginal). Rounds 10-16 split into three branches (two
      // distinct-pair dedups + a count) joined back — right shuffle
      // volume, but THREE scans of the fact table; the honest cold-cache
      // sf100 ledger row paid them all (33.4 s vs DuckDB 3.6 s).
      // Round 17: ONE scan through a hand-built 2-set GROUPING SETS
      // expand — (flag, partkey) and (flag, suppkey) pairs pre-aggregate
      // map-side in one pass (rows x2 through the partial agg, but only
      // 3 columns wide), the distinct counts are the per-set group
      // counts, and the row total rides the partkey set's pair counts
      // (sum of per-pair counts = rows), so no third branch exists.
      // Counts are exact integers - same result, same oracle hash
      // (measured against the three-branch plan at sf100: rows
      // identical; cold 29.9->14.4 s, warm parity; FileScan count 3->1).
      t(s, dir, "lineitem").createOrReplaceTempView("q16_lineitem")
      s.sql(
        """WITH pairs AS (
          |  SELECT l_returnflag, l_partkey, l_suppkey,
          |         grouping(l_partkey) AS g_part, COUNT(1) AS cnt
          |  FROM q16_lineitem
          |  GROUP BY GROUPING SETS ((l_returnflag, l_partkey),
          |                          (l_returnflag, l_suppkey))
          |)
          |SELECT l_returnflag,
          |  COUNT(CASE WHEN g_part = 0 AND l_partkey IS NOT NULL THEN 1 END) AS n_parts,
          |  COUNT(CASE WHEN g_part = 1 AND l_suppkey IS NOT NULL THEN 1 END) AS n_supps,
          |  SUM(CASE WHEN g_part = 0 THEN cnt ELSE 0 END) AS n_rows
          |FROM pairs GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // q17: CASE WHEN conditional aggregation (pivot-style).
    QueryDef.sql(
      "q17_case_when",
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity > 25 THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS heavy_rev,
        |  CAST(SUM(CASE WHEN l_quantity <= 25 THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS light_rev,
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          sum(when(col("l_quantity") > 25, dec2(col("l_extendedprice")))
            .otherwise(dec2(lit(0)))).cast("double").as("heavy_rev"),
          sum(when(col("l_quantity") <= 25, dec2(col("l_extendedprice")))
            .otherwise(dec2(lit(0)))).cast("double").as("light_rev"),
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"))
        .orderBy("l_returnflag")
    },

    // q18: string functions — LIKE, UPPER, SUBSTRING, LENGTH, concat.
    QueryDef.sql(
      "q18_string_funcs",
      """SELECT p_partkey, UPPER(p_name) AS name_u, SUBSTRING(p_type, 1, 4) AS type_pfx,
        |  LENGTH(p_name) AS name_len, p_brand || '/' || p_type AS brand_type
        |FROM part WHERE p_name LIKE '%ring%' ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").like("%ring%"))
        .select(
          col("p_partkey"), upper(col("p_name")).as("name_u"),
          substring(col("p_type"), 1, 4).as("type_pfx"),
          length(col("p_name")).as("name_len"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")
    },

    // q19: date/time extraction + grouping.
    QueryDef.sql(
      "q19_date_funcs",
      """SELECT YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY YEAR(o_orderdate), MONTH(o_orderdate)
        |ORDER BY yr, mo""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("total"))
        .orderBy("yr", "mo")
    },

    // q20: window rank — top-3 orders per customer.
    QueryDef.sql(
      "q20_window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // q21: running window aggregate + LAG. Running SUM goes through
    // DECIMAL so the prefix sums are exact on both engines.
    QueryDef.sql(
      "q21_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |  LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // q22: scalar subquery — orders above the global mean. Implemented
    // as a broadcast cross-join of the 1-row aggregate (no collect).
    QueryDef.sql(
      "q22_subquery_scalar",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val avgDf = o.agg((sum(dec2(col("o_totalprice"))).cast("double") / count(lit(1))).as("mean_price"))
      o.crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > col("mean_price"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // q23: CTE + UNION ALL of two branches over the same scan.
    QueryDef.sql(
      "q23_cte_union",
      """WITH big AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, 'big' AS tag
        |  FROM orders WHERE o_totalprice > 450000.0),
        |late AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, 'late' AS tag
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00')
        |SELECT o_orderkey, o_custkey, o_totalprice, tag FROM big
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, tag FROM late
        |ORDER BY o_orderkey, tag""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val big = o.filter(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), lit("big").as("tag"))
      val late = o.filter(col("o_orderdate") >= "2001-06-01 00:00:00")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), lit("late").as("tag"))
      big.unionAll(late).orderBy("o_orderkey", "tag")
    },

    // q24: null semantics — nulls from an outer join, IS NULL, COALESCE,
    // and explicit NULLS-FIRST ordering parity.
    QueryDef.sql(
      "q24_null_handling",
      """SELECT n_nationkey, n_name, COALESCE(s_name, 'NO_SUPPLIER') AS supp,
        |  CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END AS missing
        |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
        |ORDER BY n_nationkey, supp""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "supplier"), col("n_nationkey") === col("s_nationkey"), "left")
        .select(
          col("n_nationkey"), col("n_name"),
          coalesce(col("s_name"), lit("NO_SUPPLIER")).as("supp"),
          when(col("s_suppkey").isNull, 1).otherwise(0).as("missing"))
        .orderBy("n_nationkey", "supp")
    },

    // q25: row-level arithmetic expression evaluation (all codegen'd).
    // charge is computed in exact decimal end-to-end: prices/discounts/
    // taxes carry ≤2 decimals, so decimal(·,2) casts are tie-free and
    // the triple product (scale 6) never rounds — double→decimal casts
    // of the *product* would hit genuine half-way ties that Spark
    // (HALF_UP) and DuckDB (rint, half-even) break differently.
    QueryDef.sql(
      "q25_arithmetic",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) * CAST(1 + l_tax AS DECIMAL(8,2)) AS DOUBLE) AS charge,
        |  l_orderkey % 7 AS bucket7,
        |  CAST(l_quantity AS BIGINT) * l_linenumber AS qty_line
        |FROM lineitem WHERE l_quantity <= 2 ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (dec2(col("l_extendedprice")) *
            (lit(1) - col("l_discount")).cast(org.apache.spark.sql.types.DecimalType(8, 2)) *
            (lit(1) + col("l_tax")).cast(org.apache.spark.sql.types.DecimalType(8, 2)))
            .cast("double").as("charge"),
          (col("l_orderkey") % 7).as("bucket7"),
          (col("l_quantity").cast("bigint") * col("l_linenumber")).as("qty_line"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // q27: exact percentiles (median/p90) — Spark `percentile` and
    // DuckDB `quantile_cont` share the linear-interpolation definition,
    // so values are bit-identical on the same sorted data.
    QueryDef.sql(
      "q27_percentile",
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.9) AS p90,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // Exact percentile WITHOUT the object-agg merge. Two stages:
      //   1. (round 14) pre-aggregate to (group, value) COUNTS with a
      //      codegen'd hash agg — shuffle bounded by distinct values,
      //      not rows (the 100 TB lever: rows never reach percentile
      //      machinery);
      //   2. (round 17) replace Spark's `percentile` itself — an
      //      ObjectHashAggregate that builds, merges and sorts a
      //      value→count OpenHashMap per group in ONE task per group
      //      (measured: 2.1 s at sf0.1, 17 tasks with one holding the
      //      whole merge) — with a sort-based cumulative-count window
      //      plus a codegen'd conditional-min aggregate.
      // The interpolation replicates PercentileBase.getPercentile
      // BIT-FOR-BIT: position = (N−1)·p; lower/higher = floor/ceil;
      // lowerKey/higherKey = first value whose cumulative count
      // reaches lower+1 / higher+1 (distinct values sort ascending, so
      // MIN over the qualifying suffix IS the binary-search key);
      // result = lowerKey when higher==lower or the keys collide, else
      // (higher−pos)·lowerKey + (pos−lower)·higherKey — the same IEEE
      // ops in the same order, so the oracle hash is unchanged
      // (RelationalQueriesSpec pins rewrite == percentile() equality).
      {
        val price = col("l_extendedprice")
        val counts = t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_extendedprice")
          .agg(count(lit(1)).as("freq"))
        // cumulative count over distinct values (RANGE==ROWS: values
        // are distinct per group by construction). The group total N
        // rides the SAME window pass as an unbounded-frame sum — one
        // exchange + one sort, no self-join, no duplicated subtree.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("l_extendedprice")
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
        val cum = counts.select(col("l_returnflag"), price, col("freq"),
          sum(col("freq")).over(w).as("cum"),
          sum(col("freq")).over(wAll).as("n"))
        def pos(p: Double) = (col("n") - 1).cast("double") * lit(p)
        def keys(p: Double, tag: String) = Seq(
          min(when(col("cum") >= floor(pos(p)) + 1, price)).as(s"lk$tag"),
          min(when(col("cum") >= ceil(pos(p)) + 1, price)).as(s"hk$tag"))
        def interp(p: Double, tag: String) = {
          val (lk, hk) = (col(s"lk$tag"), col(s"hk$tag"))
          when(ceil(pos(p)) === floor(pos(p)), lk)
            .when(hk === lk, lk)
            .otherwise(
              (ceil(pos(p)).cast("double") - pos(p)) * lk +
                (pos(p) - floor(pos(p)).cast("double")) * hk)
        }
        cum
          .groupBy("l_returnflag")
          .agg(max(col("n")).as("n"),
            (keys(0.5, "50") ++ keys(0.9, "90") ++
              Seq(min(price).as("lo"), max(price).as("hi"))): _*)
          .select(col("l_returnflag"),
            interp(0.5, "50").as("p50"), interp(0.9, "90").as("p90"),
            col("lo"), col("hi"))
          .orderBy("l_returnflag")
      }
    },

    // q28: ROLLUP — hierarchical subtotal aggregation.
    QueryDef.sql(
      "q28_rollup",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    // q29: set operations — INTERSECT / EXCEPT (both DISTINCT-semantics).
    QueryDef.sql(
      "q29_setops",
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      rich.intersect(big).except(building).orderBy("c_custkey")
    },

    // q41 (round 5): BAG-semantics set ops — INTERSECT ALL / EXCEPT
    // ALL keep multiplicities (a customer with 3 urgent and 2 big
    // orders survives the intersect twice), which q29's distinct
    // variants erase. Spark plans these as aggregate-count + generate
    // (min/difference of per-key counts) — no row-pair matching, one
    // shuffle per operand on the compare key.
    QueryDef.sql(
      "q41_setops_all",
      """(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | INTERSECT ALL
        | SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val big = o.filter(col("o_totalprice") > 150000).select("o_custkey")
      val done = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      urgent.intersectAll(big).exceptAll(done).orderBy("o_custkey")
    },

    // q30: mergeable cardinality sketches — the 100 TB answer to
    // COUNT(DISTINCT): per-partition HLL sketches merge associatively,
    // so distinct counts aggregate without a global shuffle of keys
    // and sketches can be stored per segment and re-merged later.
    // Estimates are engine-specific → rows-only for the sketch columns,
    // but exactness is audited in-query against true countDistinct.
    QueryDef.rowsOnly("q30_hll_sketch") { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val perFlag = li.groupBy("l_returnflag")
        .agg(
          hll_sketch_agg(col("l_partkey")).as("sk"),
          countDistinct(col("l_partkey")).as("exact"))
        .persist() // referenced twice: per-group rows + merged estimate
      val merged = perFlag.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_estimate"))
      perFlag
        .select(
          col("l_returnflag"),
          hll_sketch_estimate(col("sk")).as("estimate"),
          col("exact"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact")) / col("exact") < 0.05)
            .cast("int").as("within_5pct"))
        .crossJoin(broadcast(merged))
        .orderBy("l_returnflag")
    },

    // q26: JSON field extraction from the events.props payload.
    QueryDef.sql(
      "q26_json_extract",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
        .orderBy("event_type")
    },

    // q33: PIVOT — wide-format aggregation with explicit pivot values
    // (explicit so the plan needs no value-discovery pre-pass: at
    // scale an unbounded pivot column would mean an extra distinct
    // scan AND an unbounded schema). Oracle: the CASE-based rewrite
    // every engine lowers PIVOT to.
    QueryDef.sql(
      "q33_pivot",
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
        |  CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
        |  CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum2(col("l_quantity")))
        .select(col("l_linestatus"), col("A").as("qty_a"),
          col("N").as("qty_n"), col("R").as("qty_r"))
        .orderBy("l_linestatus")
    },

    // q34: string aggregation (LISTAGG/string_agg). collect_list's
    // order is partition-nondeterministic, so the deterministic form
    // is sort-then-join — matching string_agg's ORDER BY clause, which
    // any cross-engine (or cross-run!) comparison of concatenated
    // groups requires.
    QueryDef.sql(
      "q34_string_agg",
      """SELECT c_nationkey,
        |  string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
        |FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .select("c_nationkey", "c_mktsegment").distinct()
        .groupBy("c_nationkey")
        .agg(array_join(array_sort(collect_list(col("c_mktsegment"))), ",")
          .as("segments"))
        .orderBy("c_nationkey")
    },

    // q35 (round 4): GROUPING SETS — arbitrary grouping combinations in
    // one pass (ROLLUP's general form; Spark expands to a single
    // aggregate over an Expand node, not N scans). GROUPING() bits
    // disambiguate real NULLs from subtotal rows.
    QueryDef.sql(
      "q35_grouping_sets",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
      // DataFrame API spelling: SQL on the loaded view — GROUPING SETS
      // has no direct Dataset builder; the plan is identical (Expand +
      // single HashAggregate, one scan).
      val li = t(s, dir, "lineitem")
      li.createOrReplaceTempView("q35_lineitem")
      s.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          |  COALESCE(l_linestatus, 'ALL') AS ls,
          |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
          |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM q35_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)
    },

    // q37 (round 4): distribution-ranking windows — percent_rank,
    // cume_dist, and quartile NTILE per market segment. Windows are
    // PARTITIONED (by segment), so each partition sorts independently
    // — the scalable form of ranking; a global NTILE would serialize
    // the corpus through one task. Ties broken by c_custkey so every
    // rank is deterministic cross-engine.
    QueryDef.sql(
      "q37_rank_dist",
      """SELECT c_mktsegment, c_custkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).cast("int").as("quartile"))
        .orderBy("c_mktsegment", "c_custkey")
    },

    // q38 (round 5): LATERAL VIEW / posexplode — the row-generator
    // surface (UNNEST WITH ORDINALITY in the reference's DuckDB
    // dialect). Tokens explode WITH their positions, then aggregate
    // back per language: generation and aggregation both run
    // partitioned, and the map-side partial agg keeps the exploded
    // intermediate from ever shuffling at token granularity beyond
    // the (lang, token)-keyed combine.
    QueryDef.sql(
      "q38_explode",
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |e AS (SELECT lang, unnest(toks) AS tok,
        |             unnest(range(0, len(toks))) AS pos FROM t)
        |SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
        |  CAST(COUNT(CASE WHEN pos % 2 = 0 THEN 1 END) AS BIGINT) AS even_pos,
        |  CAST(MAX(length(tok)) AS BIGINT) AS max_len,
        |  CAST(SUM(CASE WHEN length(tok) > 4 THEN 1 ELSE 0 END) AS BIGINT) AS long_toks
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct"),
          count(when(col("pos") % 2 === 0, 1)).as("even_pos"),
          max(length(col("tok"))).cast("long").as("max_len"),
          sum(when(length(col("tok")) > 4, 1L).otherwise(0L)).as("long_toks"))
        .orderBy("lang")
    },

    // q39 (round 5): RANGE-frame window — trailing 30-day sum/count
    // per customer, the value-based frame ROWS can't express (peers
    // at the same date enter the frame together; a gap of >30 days
    // empties it). Both engines order by the same INTEGER day number
    // (datediff from a fixed epoch) so frame boundaries are exact —
    // interval arithmetic on raw timestamps differs in sub-day
    // handling across engines. Partitioned by customer: no global
    // sort, and frame state is bounded by one customer's 31-day
    // order window regardless of corpus size.
    QueryDef.sql(
      "q39_range_frame",
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, CAST(day AS BIGINT) AS day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY day
        |     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_sum,
        |  CAST(COUNT(*) OVER
        |    (PARTITION BY o_custkey ORDER BY day
        |     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_trailing
        |FROM o ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val day = datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
      val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-30, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.cast("long").as("day"),
          col("o_totalprice"))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("trailing_sum"),
          count(lit(1)).over(w).as("n_trailing"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // q40 (round 5): CORRELATED scalar subquery — orders exceeding
    // 1.5× their own customer's average order value (q22 is the
    // uncorrelated global-scalar form; q36 the EXISTS form). The
    // Spark side is the decorrelated plan Catalyst would produce:
    // per-customer aggregate once (one custkey shuffle, map-side
    // combined), joined back on custkey — never a per-row subquery
    // execution. Mean through exact decimal (Det) in both engines;
    // 1.5 is binary-exact so the double product is reproducible.
    QueryDef.sql(
      "q40_correlated_scalar",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val custAvg = o.groupBy("o_custkey")
        .agg((sum(dec2(col("o_totalprice"))).cast("double") / count(lit(1))).as("cavg"))
      o.join(custAvg, "o_custkey")
        .filter(col("o_totalprice") > lit(1.5) * col("cavg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // q36 (round 4): correlated EXISTS / NOT EXISTS in one query —
    // customers with at least one big-ticket order but none cancelled.
    // Catalyst decorrelates to a semi join + anti join (audited shape:
    // no per-row subquery execution, both joins shuffle on c_custkey).
    QueryDef.sql(
      "q36_exists",
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        |                    AND o.o_totalprice < 50000)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust
        .join(ord.filter(col("o_totalprice") > 250000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .join(ord.filter(col("o_orderstatus") === "F" && col("o_totalprice") < 50000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // q43 (round 5): CDC MERGE — the lakehouse `MERGE INTO` semantic
    // join as a library operator (CdcOps.mergeCdc): a deterministic
    // changes batch (deletes %17, balance updates %5, inserted new
    // keys %13) applied to customer. The base table never shuffles:
    // one scan, one broadcast hash join against the CDC batch, a
    // scan-local CASE projection, and a union of the inserts. Balance
    // arithmetic rides DECIMAL(18,2) in both engines (the Det rule);
    // unchanged rows pass the raw double through untouched.
    QueryDef.sql(
      "q43_merge_cdc",
      """WITH ch AS (
        |  SELECT c_custkey, 'D' AS op, CAST(NULL AS DOUBLE) AS bal
        |  FROM customer WHERE c_custkey % 17 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'U',
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 17 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'I', CAST(c_custkey % 1000 AS DOUBLE)
        |  FROM customer WHERE c_custkey % 13 = 0
        |)
        |SELECT b.c_custkey, b.c_nationkey, b.c_mktsegment,
        |  CASE WHEN ch.op = 'U' THEN ch.bal ELSE b.c_acctbal END AS c_acctbal
        |FROM customer b LEFT JOIN ch ON b.c_custkey = ch.c_custkey
        |WHERE ch.op IS NULL OR ch.op <> 'D'
        |UNION ALL
        |SELECT c_custkey, CAST(NULL AS INT), CAST(NULL AS VARCHAR), bal
        |FROM ch WHERE op = 'I'
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val k = col("c_custkey")
      val deletes = cust.filter(k % 17 === 0)
        .select(k.as("c_custkey"), lit("D").as("_op"),
          lit(null).cast("double").as("c_acctbal"))
      val updates = cust.filter(k % 5 === 0 && k % 17 =!= 0)
        .select(k.as("c_custkey"), lit("U").as("_op"),
          (col("c_acctbal").cast("decimal(18,2)") + lit(100))
            .cast("double").as("c_acctbal"))
      val inserts = cust.filter(k % 13 === 0)
        .select((k + lit(1000000L)).as("c_custkey"), lit("I").as("_op"),
          (k % 1000).cast("double").as("c_acctbal"))
      graft.operators.CdcOps.mergeCdc(
          cust, deletes.unionByName(updates).unionByName(inserts), "c_custkey")
        .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
    },

    // q45 (round 6): FULL OUTER join — per-nation counts of premium
    // customers vs premium suppliers, where the filters deliberately
    // leave nations matched on only one side (both null directions
    // exercised at sf0.01: 10 customer-only, 4 supplier-only nations).
    // Scale shape: BOTH fact sides collapse to per-key counts first
    // (map-side partial agg), so the full-outer join sees at most
    // |nation| rows per side — the join input is aggregate-sized no
    // matter how large customer/supplier grow. COALESCE re-keys the
    // output; counts stay NULL (not 0) on the unmatched side, the
    // outer-join semantics under test.
    QueryDef.sql(
      "q45_join_full",
      """SELECT COALESCE(c.nk, s.nk) AS n_nationkey, c.n_cust, s.n_supp
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
        |      FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey) c
        |FULL JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
        |      FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey) s
        |  ON c.nk = s.nk
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9900)
        .groupBy(col("c_nationkey").as("cnk")).agg(count(lit(1)).as("n_cust"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
      c.join(su, col("cnk") === col("snk"), "full_outer")
        .select(
          coalesce(col("cnk"), col("snk")).as("n_nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy("n_nationkey")
    },

    // q46 (round 6): CUBE — all 2^2 grouping combinations of
    // (returnflag, linestatus) in ONE pass. Like q28's ROLLUP and
    // q35's GROUPING SETS, CUBE plans as a single Expand + one
    // HashAggregate over one scan (never 4 scans); GROUPING() bits
    // disambiguate subtotal NULLs from data NULLs. Completes the
    // grouping-analytics family.
    QueryDef.sql(
      "q46_cube",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
          grouping("l_returnflag").cast("int").as("g_rf"),
          grouping("l_linestatus").cast("int").as("g_ls"),
          count(lit(1)).as("n"),
          dsum2(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("g_rf"), col("g_ls"), col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    // q47 (round 6): QUALIFY / keep-latest-per-key — each customer's
    // most recent order, the canonical "latest snapshot per key"
    // pattern every CDC/SCD pipeline ends with. One custkey-partitioned
    // window (single key shuffle, per-partition sort bounded by one
    // customer's orders) then a rank filter — never a groupBy-max +
    // self-join (two shuffles + a re-scan) and never a global sort.
    // Tie-break on o_orderkey makes the winner total-order determined.
    QueryDef.sql(
      "q47_qualify",
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS last_date,
        |       o_totalprice
        |FROM orders
        |QUALIFY row_number() OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("last_date"), col("o_totalprice"))
        .orderBy("o_custkey")
    },

    // q48 (round 7): time-series GAP FILL — daily order counts per
    // priority with missing days materialized as zero rows, the
    // densification every downstream forecaster/charting layer needs.
    // Scale shape: the fact table shuffles ONCE (into per-(key, day)
    // counts); the date spine is generated from the per-key min/max
    // AGGREGATE via sequence()+explode — spine size is bounded by
    // keys × calendar days, never by fact rows, and the fill join is
    // aggregate-vs-aggregate. The naive form (calendar cross-join
    // against the raw fact table) is fact-sized and never planned here.
    QueryDef.sql(
      "q48_gapfill",
      """WITH daily AS (
        |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
        |         COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (SELECT pri, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT pri, CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
        |         CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM bounds)
        |SELECT s.pri, s.d, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
        |FROM spine s LEFT JOIN daily USING (pri, d)
        |ORDER BY pri, d""".stripMargin) { (s, dir) =>
      // persist the (tiny, keys×days) daily aggregate: without it
      // Catalyst collapses the bounds agg-over-agg onto the RAW scan
      // and the fact table is read twice (audited single-scan below)
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri"),
          col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("n"))
        .persist()
      val spine = daily.groupBy("pri")
        .agg(min("d").as("lo"), max("d").as("hi"))
        .select(col("pri"), explode(sequence(col("lo"), col("hi"))).as("d"))
      spine.join(daily, Seq("pri", "d"), "left")
        .select(col("pri"), col("d"), coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy("pri", "d")
    },

    // q49 (round 7): fixed-width HISTOGRAM / feature bucketization —
    // width_bucket semantics with clamped under/overflow buckets, the
    // discretization step of every feature-engineering pipeline and the
    // stats histogram every optimizer builds. Bucket ids are computed
    // SCAN-LOCALLY (one codegen'd expression, no lookup join), then one
    // partial-aggregated shuffle over ≤20 keys; the double division is
    // bit-identical across engines (same IEEE ops), sums are exact
    // decimal.
    QueryDef.sql(
      "q49_histogram",
      s"""SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 900.0) / 5000.0) AS INT), 0), 19) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${Det.sqlSum2("l_extendedprice")} AS sum_price
         |FROM lineitem
         |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(
          least(greatest(floor((col("l_extendedprice") - lit(900.0)) / lit(5000.0))
            .cast("int"), lit(0)), lit(19)).as("bucket"),
          col("l_extendedprice"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          dsum2(col("l_extendedprice")).as("sum_price"))
        .orderBy("bucket")
    },

    // q50 (round 7): UNPIVOT / melt — wide metric columns to tall
    // (metric, value) rows, the inverse of q33's PIVOT and the reshape
    // every metrics store ingests. Plans as an Expand over the ALREADY
    // AGGREGATED wide table (map-side row generation, no extra
    // shuffle — the fact table was reduced to |returnflag| rows
    // first). The oracle replays Spark's unpivot via the portable
    // UNION ALL lowering; all measures cast to DOUBLE so the value
    // column types agree.
    QueryDef.sql(
      "q50_unpivot",
      s"""WITH wide AS (
         |  SELECT l_returnflag,
         |    ${Det.sqlSum2("l_quantity")} AS sum_qty,
         |    ${Det.sqlSum2("l_extendedprice")} AS sum_price,
         |    CAST(COUNT(*) AS DOUBLE) AS n_items
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
         |UNION ALL
         |SELECT l_returnflag, 'sum_price', sum_price FROM wide
         |UNION ALL
         |SELECT l_returnflag, 'n_items', n_items FROM wide
         |ORDER BY l_returnflag, metric""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).cast("double").as("n_items"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n_items")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    },

    // q51_recursive (round 8): RECURSIVE CTE — the hierarchy/graph
    // walk (org charts, category trees, BOM explosion) that plain
    // joins can't express without knowing the depth in advance. The
    // schema has no parent column, so the tree is derived (parent =
    // custkey DIV 2, a binary tree rooted at 1 — both engines compute
    // it with the same integer arithmetic) and each customer walks its
    // ancestor chain to the root. Spark 4 executes this natively as a
    // UnionLoop (audited in PlanAuditSpec): each iteration is one
    // distributed self-join step, rounds = tree depth = O(log n), and
    // every iteration's frontier aggregates map-side — the same plan
    // shape a 100 TB hierarchy closure needs.
    QueryDef.sql(
      "q51_recursive",
      """WITH RECURSIVE anc(c_custkey, ancestor, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT c_custkey, ancestor // 2, depth + 1 FROM anc WHERE ancestor > 1
        |)
        |SELECT c_custkey, CAST(MAX(depth) AS INT) AS depth,
        |  COUNT(*) AS n_ancestors
        |FROM anc GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer").createOrReplaceTempView("q51_customer")
      // Round 17 (guide §1.2 "remove unnecessary passes"): UnionLoop
      // materializes a frontier PER ITERATION — each one is a fixed
      // ~2-job driver round-trip, and with single halvings the job
      // count is the tree DEPTH (measured: 35 jobs / ~1 s of task time
      // at sf0.1 — pure orchestration overhead). Each iteration now
      // walks FOUR halvings: a frontier row explodes into the next ≤4
      // ancestor rows, only the last marked live (= next frontier);
      // intermediate rows are emitted exactly once with live=false, so
      // the anc row set — and the aggregate the oracle hashes — is
      // IDENTICAL (probe: 35→~17 jobs, rows bit-equal; the recursion
      // depth stays semantic, just batched 4-per-materialization).
      s.sql(
        """WITH RECURSIVE anc(c_custkey, ancestor, depth, live) AS (
          |  SELECT c_custkey, c_custkey, 0, true FROM q51_customer
          |  UNION ALL
          |  SELECT c_custkey, s.a, s.d, s.live FROM (
          |    SELECT c_custkey, explode(CASE
          |      WHEN ancestor DIV 8 > 1 THEN array(
          |        struct(ancestor DIV 2  AS a, depth + 1 AS d, false AS live),
          |        struct(ancestor DIV 4  AS a, depth + 2 AS d, false AS live),
          |        struct(ancestor DIV 8  AS a, depth + 3 AS d, false AS live),
          |        struct(ancestor DIV 16 AS a, depth + 4 AS d, true  AS live))
          |      WHEN ancestor DIV 4 > 1 THEN array(
          |        struct(ancestor DIV 2 AS a, depth + 1 AS d, false AS live),
          |        struct(ancestor DIV 4 AS a, depth + 2 AS d, false AS live),
          |        struct(ancestor DIV 8 AS a, depth + 3 AS d, true  AS live))
          |      WHEN ancestor DIV 2 > 1 THEN array(
          |        struct(ancestor DIV 2 AS a, depth + 1 AS d, false AS live),
          |        struct(ancestor DIV 4 AS a, depth + 2 AS d, true  AS live))
          |      ELSE array(
          |        struct(ancestor DIV 2 AS a, depth + 1 AS d, true AS live))
          |      END) AS s
          |    FROM anc WHERE live AND ancestor > 1)
          |)
          |SELECT c_custkey, CAST(MAX(depth) AS INT) AS depth,
          |  COUNT(*) AS n_ancestors
          |FROM anc GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)
    },

    // q52_lateral (round 8): LATERAL join — the top-n-per-group idiom
    // as a correlated inline subquery (each order's 2 priciest line
    // items). Catalyst decorrelates the LATERAL into a set-based plan
    // rather than executing a per-row subquery loop — the difference
    // between O(orders) subqueries and one distributed pass at scale
    // (audited in PlanAuditSpec: no CartesianProduct, single lineitem
    // scan). Values are copied, not aggregated, so the oracle compares
    // exactly; ties break on l_linenumber for a total order.
    QueryDef.sql(
      "q52_lateral",
      """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        |FROM orders o, LATERAL (
        |  SELECT l_linenumber, l_extendedprice FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        |ORDER BY o.o_orderkey, t.l_linenumber""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("q52_orders")
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("q52_lineitem")
      s.sql(
        """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
          |FROM q52_orders o, LATERAL (
          |  SELECT l_linenumber, l_extendedprice FROM q52_lineitem
          |  WHERE l_orderkey = o.o_orderkey
          |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
          |ORDER BY o.o_orderkey, t.l_linenumber""".stripMargin)
    }
  )
}
