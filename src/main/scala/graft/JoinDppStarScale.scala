package graft

import org.apache.spark.sql.functions._

/** sf100 ledger for MULTI-DIM join-driven file pruning over a
  * Z-ORDERED fact (round 13): lineitem z-ordered on
  * (l_suppkey, l_partkey) gives every file a LOCALIZED value set in
  * BOTH key dimensions, so two independent dims — supplier filtered
  * on non-key columns joined on l_suppkey, part filtered on non-key
  * columns (brand + size + price band, the TPC-H q17 shape) joined on
  * l_partkey — each refute fact files through their own dictionary,
  * and the star's cuts INTERSECT: the outer join's dim reaches the
  * fact THROUGH the inner join (plans/JoinFilePruning.relationFor)
  * and prunes the already-pruned relation further. This is the layout
  * answer single-key clustering cannot give: bucket by suppkey and
  * the part dim cuts nothing; z-order and BOTH cut.
  *
  * Measures each single-dim join and the star, scan vs DPP. The index
  * is IN-MEMORY only — a saved `_graft_dict` would be re-DISCOVERED
  * by the scan arm after unregisterDict and the pair would measure
  * DPP vs DPP (the JoinDppScale lesson); the keptFiles==blocks
  * require on the scan arm makes that impossible to miss. Calm-window
  * gated; prints one JSON line.
  *
  * Usage: runMain graft.JoinDppStarScale <sfDir> [blocks] [reps]
  */
object JoinDppStarScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JoinDppStarScale <sfDir> [blocks] [reps]")
    val sfDir = args(0)
    val blocks = if (args.length > 1) args(1).toInt else 64
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = BenchWindow.session(BenchWindow.UTC)
    BenchWindow.warm(spark)

    val sfName = new java.io.File(sfDir).getName
    val out = s"target/scratch/joindppstar/$sfName/lineitem"
    if (!BenchWindow.written(out)) {
      graft.sources.MicroBlockWriter.writeZOrdered(
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select("l_suppkey", "l_partkey", "l_orderkey", "l_quantity"),
        out, Seq("l_suppkey", "l_partkey"), blocks)
    }
    // scrub any sidecar a previous run left (discovery poisons the A/B)
    graft.sources.SidecarManifest.delete(out, graft.sources.SidecarManifest.Dict)
    val idx = graft.sources.DictionaryIndex.build(spark, out, "li",
      Seq("l_suppkey", "l_partkey")).toDF().persist()
    idx.count()

    def dimS = spark.read.parquet(s"$sfDir/supplier.parquet")
      .filter(col("s_nationkey") === 6 &&
        col("s_acctbal").between(1000, 2000))
      .select(col("s_suppkey").as("k_s"))
    def dimP = spark.read.parquet(s"$sfDir/part.parquet")
      .filter(col("p_brand") === "Brand#7" && col("p_size") === 20 &&
        col("p_retailprice").between(920, 960))
      .select(col("p_partkey").as("k_p"))
    val nKeysS = dimS.count()
    val nKeysP = dimP.count()

    def fact = spark.read.parquet(out)
    def j1 = fact.join(dimS, col("l_suppkey") === col("k_s"))
    def j2 = fact.join(dimP, col("l_partkey") === col("k_p"))
    def star = fact.join(dimS, col("l_suppkey") === col("k_s"))
      .join(dimP, col("l_partkey") === col("k_p"))
    def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("l_orderkey"))).first
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def keptFiles(df: org.apache.spark.sql.DataFrame): Int =
      BenchWindow.fileRelations(df).map(_.location.inputFiles)
        .filter(_.exists(_.contains("joindppstar"))).head.length

    val arms = Seq("j1" -> (() => j1), "j2" -> (() => j2),
      "star" -> (() => star))
    // per arm: (scan sec, dpp sec, files kept)
    val (byArm, w) = BenchWindow.calmGated(spark, "joindppstar") { _ =>
      graft.plans.ZoneMapPruneRule.unregisterDict(out)
      arms.map { case (name, mk) =>
        require(keptFiles(mk()) == blocks,
          s"$name scan arm is pruned — a discovered sidecar poisons the A/B")
        val (t, v) = BenchWindow.medianOf(spark, reps)(fp(mk()))
        graft.plans.ZoneMapPruneRule.registerDict(out, idx)
        val kept = keptFiles(mk())
        val (t2, v2) = BenchWindow.medianOf(spark, reps)(fp(mk()))
        require(v == v2, s"$name rows diverged: $v vs $v2")
        graft.plans.ZoneMapPruneRule.unregisterDict(out)
        name -> (t, t2, kept)
      }.toMap
    }
    val keptN = byArm.map { case (n, r) => n -> r._3 }
    require(keptN("star") <= math.min(keptN("j1"), keptN("j2")),
      s"star cut must intersect: $keptN")
    def secs(pick: ((Double, Double, Int)) => Double): String =
      arms.map { case (n, _) => s""""$n":${pick(byArm(n))}""" }.mkString(",")
    BenchWindow.emit(s"""{"bench":"join_dpp_star","sf":"$sfDir","reps":$reps,"blocks":$blocks,"dim_keys_supplier":$nKeysS,"dim_keys_part":$nKeysP,"files_total":$blocks,"files_kept":{"j1":${keptN("j1")},"j2":${keptN("j2")},"star":${keptN("star")}},"scan_sec":{${secs(_._1)}},"dpp_sec":{${secs(_._2)}},${w.json}}""")
    spark.stop()
  }
}
