package graft

import org.apache.spark.sql.DataFrame

/** Dedicated q12 layout A/B (round 14; round 16: four arms): the
  * HAND-TUNED bucketed plan (ScaleBench's q12Bucketed — join order +
  * agg pushdown + late strings by hand) vs three TRANSPARENT arms
  * (the ORIGINAL q12 SQL over bare paths of the same layouts —
  * BucketLayoutRule re-attaches the spec): gate-off forced push,
  * eager-agg fully disabled, and AUTO — the group-cardinality cost
  * gate ([[graft.plans.EagerAggregationRule]] round 16) routing from
  * a zone sidecar built on li_bkt. Arms INTERLEAVE (A,B,C,D,…) so
  * page-cache drift and GC debt land on all equally. Calm-window
  * gated; asserts the claim, the forced push, the disabled non-push,
  * records the auto decision, and requires identical rows on all arms.
  *
  * Usage: runMain graft.Q12Arms <sfDir> [reps] [buckets]
  * Requires the li_bkt/ord_bkt layouts (ScaleBench builds them).
  * Writes target/q12_arms.json.
  */
object Q12Arms {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Q12Arms <sfDir> [reps] [buckets]")
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val buckets = if (args.length > 2) args(2).toInt else 128
    val spark = BenchWindow.session(
      BenchWindow.shufflePartitions,
      "spark.sql.join.preferSortMergeJoin" -> sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"),
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      BenchWindow.UTC)
    BenchWindow.warm(spark)

    require(
      graft.sources.Bucketing.registerExisting(spark, "li_bkt", "l_orderkey", buckets) &&
        graft.sources.Bucketing.registerExisting(spark, "ord_bkt", "o_orderkey", buckets),
      "bucketed layouts missing — run ScaleBench first")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

    def handArm(): DataFrame = ScaleBench.q12Bucketed(spark, sfDir)
    def transparentArm(): DataFrame = {
      spark.read.parquet(s"$wh/li_bkt").createOrReplaceTempView("li_bkt_v")
      spark.read.parquet(s"$wh/ord_bkt").createOrReplaceTempView("ord_bkt_v")
      spark.read.parquet(s"$sfDir/customer.parquet").createOrReplaceTempView("qa_cust")
      spark.read.parquet(s"$sfDir/nation.parquet").createOrReplaceTempView("qa_nation")
      spark.read.parquet(s"$sfDir/region.parquet").createOrReplaceTempView("qa_region")
      spark.sql(
        """SELECT r_name, n_name,
          |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM li_bkt_v
          |JOIN ord_bkt_v ON l_orderkey = o_orderkey
          |JOIN qa_cust ON o_custkey = c_custkey
          |JOIN qa_nation ON c_nationkey = n_nationkey
          |JOIN qa_region ON n_regionkey = r_regionkey
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY r_name, n_name""".stripMargin)
    }

    // Round 16: FOUR arms. The group-cardinality cost gate
    // (EagerAggregationRule.pushWorthIt) routes the push from the
    // fact root's zone sidecar, so build one on li_bkt — footer-scale,
    // pay-once — and measure what each routing would have cost:
    //   hand        — the hand-tuned plan (join order + manual pre-agg)
    //   trans_push  — transparent SQL, gate OFF (minGroupReduction=0):
    //                 the round-15 behavior, always push
    //   trans_nopush— transparent SQL, eager agg disabled entirely
    //   trans_auto  — transparent SQL, default confs: the gate decides
    //                 from the sidecar's orderkey range (sf100: 600M
    //                 rows over a ~600M-value range → reduction bound
    //                 ~1 → refuse; the verdict's break-even analysis)
    val liLoc = s"$wh/li_bkt"
    if (!graft.sources.SidecarManifest.has(liLoc, spark, graft.sources.SidecarManifest.Zone))
      graft.sources.MicroBlockIndex.saveSidecar(
        graft.sources.MicroBlockIndex.build(spark, liLoc, "li_bkt"), liLoc)
    def pushArm(): DataFrame = {
      spark.conf.set("spark.graft.eagerAgg.enabled", "true")
      spark.conf.set("spark.graft.eagerAgg.minGroupReduction", "0")
      transparentArm()
    }
    def noPushArm(): DataFrame = {
      spark.conf.unset("spark.graft.eagerAgg.minGroupReduction")
      spark.conf.set("spark.graft.eagerAgg.enabled", "false")
      transparentArm()
    }
    def autoArm(): DataFrame = {
      spark.conf.set("spark.graft.eagerAgg.enabled", "true")
      spark.conf.unset("spark.graft.eagerAgg.minGroupReduction")
      transparentArm()
    }

    def hasPreAggUnderJoin(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if Seq(j.left, j.right).exists(_.collectFirst {
              case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
            }.nonEmpty) => true
      }.nonEmpty
    // plan audit: the claim, the forced push, and the auto decision
    val pdf = pushArm()
    val claimed = BenchWindow.fileRelations(pdf)
      .exists(_.bucketSpec.exists(_.bucketColumnNames == Seq("l_orderkey")))
    val pushed = hasPreAggUnderJoin(pdf)
    require(claimed, "transparent arm did not claim the bucket spec")
    require(pushed, "gate-off transparent arm did not push the pre-aggregate")
    require(!hasPreAggUnderJoin(noPushArm()), "disabled rule still pushed")
    val autoPushed = hasPreAggUnderJoin(autoArm())

    // row equality once (sorted stringified rows)
    val hv = handArm().orderBy("r_name", "n_name")
      .collect().map(_.toString).toSeq
    for ((arm, mk) <- Seq(
        ("trans_push", pushArm _), ("trans_nopush", noPushArm _),
        ("trans_auto", autoArm _))) {
      val tv = mk().orderBy("r_name", "n_name")
        .collect().map(_.toString).toSeq
      require(hv == tv, s"$arm disagrees: $hv vs $tv")
    }

    // noop sink, NOT count(): count() lets ColumnPruning drop the
    // revenue SUM out of BOTH arms (the per-row decimal work — the
    // query's dominant cost — was never measured; round-15 bench
    // honesty fix, r14's 17.4 s/19.0 s pair was the pruned query)
    def rep(mk: () => DataFrame): Double =
      BenchWindow.timed(spark, 1)(BenchWindow.sink(mk())).median
    val arms = Seq("hand" -> handArm _, "transparent" -> pushArm _,
      "nopush" -> noPushArm _, "auto" -> autoArm _)
    val (rounds, w) = BenchWindow.calmGated(spark, "q12 arms") { _ =>
      (1 to reps).map(_ => arms.map { case (_, mk) => rep(mk) })
    }
    val armJson = arms.map(_._1).zipWithIndex.map { case (name, i) =>
      val xs = rounds.map(_(i)).sorted
      s""""${name}_median_sec":${BenchWindow.median(xs)},"${name}_reps_sorted":[${xs.mkString(",")}],"""
    }.mkString
    val line =
      s"""{"bench":"q12_arms","sf":"$sfDir","reps":$reps,"buckets":$buckets,$armJson""" +
        s""""claimed":true,"pushed":true,"auto_pushed":$autoPushed,"rows_equal":true,""" +
        s"""${w.json}}"""
    BenchWindow.emit(line, "target/q12_arms.json")
    spark.stop()
  }
}
