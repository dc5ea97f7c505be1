package graft.queries

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{GraftEngine, MarkovPrefetcher, PrefetchEval}
import graft.plans.{And, Between, Pred, PredValue}
import graft.sources.{AggView, DictionaryIndex, MicroBlockIndex, MicroBlockWriter}

/** SURVEY.md §2b — the reference's own micro-block machinery exposed as
  * verifiable queries (rows-only checks: outputs are deterministic but
  * hash-level SQL parity is not meaningful for engine internals).
  *
  * Each query works on a micro-blocked copy of `lineitem`, clustered by
  * `l_shipdate` into 16 blocks (built once per JVM per scale factor
  * under target/scratch — the analog of running
  * parquet_to_microblocks.py before using the reference engine).
  */
object MicroBlockQueries {

  private val NumBlocks = 16

  /** Deterministic date-range scan workload (mirrors the reference's
    * smoke-loop of repeated range queries: smoke_test.py / README) —
    * three passes over six month-window predicates, so the access
    * sequence has learnable structure. */
  private[graft] def workload: Seq[Pred] = {
    val months = Seq(
      ("1995-01-01", "1996-01-01"), ("1996-01-01", "1997-01-01"),
      ("1997-01-01", "1998-01-01"), ("1998-01-01", "1999-01-01"),
      ("1999-01-01", "2000-01-01"), ("2000-01-01", "2001-01-01"))
    Seq.fill(3)(months).flatten.map { case (lo, hi) =>
      Between("l_shipdate", PredValue.ts(lo), PredValue.ts(hi))
    }
  }

  private val built = scala.collection.mutable.Set.empty[String]

  /** Ensure `path` carries sidecars CURRENT for the rules — once, at
    * layout-access time, BEFORE any row loads an engine or a serve
    * frame over it. The zone sidecar must pass the shared serve-grade
    * test ([[graft.sources.SidecarManifest.current]]) and carry the
    * round-14 schema (`nanRisk`) plus per-file sums for `sumCols`; when
    * `dictCols` is non-empty, so must a dictionary sidecar indexing at
    * least those columns. Anything else rebuilds here: a layout copied
    * from another path (its sidecars record the old file URIs), a
    * rebuilt layout, or a sidecar predating a row's schema needs.
    * Round-14 lesson (the sf0.1 gate caught it): letting individual
    * gate rows rebuild a SHARED sidecar mid-session deletes part
    * files out from under frames earlier rows already planned
    * (FAILED_READ_FILE on the old sidecar part names). Centralizing
    * the check here makes it run once per layout per JVM and leaves
    * rows nothing to rebuild. */
  private[graft] def ensureSidecars(spark: SparkSession, path: String,
      table: String, sumCols: Seq[String], dictCols: Seq[String] = Nil): Unit = {
    import graft.sources.SidecarManifest
    val zone = MicroBlockIndex.sidecarPath(path)
    def zoneSchemaOk: Boolean = {
      val idx = spark.read.parquet(zone)
      idx.columns.contains("nanRisk") && (sumCols.isEmpty ||
        idx.columns.contains("sumLong") && sumCols.forall(c =>
          idx.filter(col("column") === c && col("sumLong").isNotNull)
            .limit(1).count() > 0))
    }
    if (!SidecarManifest.current(spark, path, SidecarManifest.Zone) || !zoneSchemaOk)
      MicroBlockIndex.saveSidecar(
        MicroBlockIndex.withSums(spark, path,
          MicroBlockIndex.build(spark, path, table), sumCols), path)
    def dictColsOk: Boolean = dictCols.toSet.subsetOf(
      DictionaryIndex.load(spark, DictionaryIndex.sidecarPath(path))
        .select("column").distinct().collect().map(_.getString(0)).toSet)
    if (dictCols.nonEmpty &&
        (!SidecarManifest.current(spark, path, SidecarManifest.Dict) || !dictColsOk))
      DictionaryIndex.saveSidecar(
        DictionaryIndex.build(spark, path, table, dictCols), path)
  }

  /** Build (once) the micro-blocked lineitem copy for this sf dir. */
  private[graft] def microPath(spark: SparkSession, dir: String): String = synchronized {
    val sfName = Paths.get(dir).getFileName.toString
    val out = s"target/scratch/microblocks/$sfName/lineitem"
    if (!built.contains(out)) {
      if (!graft.engine.Tables.builtFromCurrent(out, dir, "lineitem")) {
        val li = graft.engine.Tables.load(spark, dir, "lineitem")
        MicroBlockWriter.write(li, out, "l_shipdate", NumBlocks)
      }
      ensureSidecars(spark, out, "lineitem",
        Seq("l_suppkey", "l_linenumber"), DictColumns)
      built += out
    }
    out
  }

  /** Build (once) the one-file-per-l_linenumber lineitem layout — the
    * per-value-file shape every compaction-by-key job produces, and
    * the regime where grouped DATA-column serving is total (each
    * file's stats prove a single group). */
  private[graft] def lineClusteredPath(
      spark: SparkSession, dir: String): String = synchronized {
    val sfName = Paths.get(dir).getFileName.toString
    val out = s"target/scratch/microblocks/$sfName/lineclustered"
    if (!built.contains(out)) {
      if (!graft.engine.Tables.builtFromCurrent(out, dir, "lineitem")) {
        val li = graft.engine.Tables.load(spark, dir, "lineitem")
          .select("l_linenumber", "l_orderkey", "l_suppkey")
        // one clustering write, one file per group value
        li.repartition(col("l_linenumber"))
          .sortWithinPartitions("l_linenumber")
          .write.mode("overwrite").parquet(out + ".tmp")
        val vals = li.select("l_linenumber").distinct()
          .collect().map(_.getInt(0)).sorted
        val src = spark.read.parquet(out + ".tmp")
        vals.zipWithIndex.foreach { case (v, i) =>
          src.filter(col("l_linenumber") === v).coalesce(1)
            .write.mode(if (i == 0) "overwrite" else "append").parquet(out)
        }
        // drop the staging copy — it exists only to avoid re-shuffling
        // the source once per value
        val tmpP = new org.apache.hadoop.fs.Path(out + ".tmp")
        tmpP.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(tmpP, true)
      }
      ensureSidecars(spark, out, "lineitem", Seq("l_suppkey"))
      built += out
    }
    out
  }

  /** One file per l_returnflag VALUE — the string-key compaction
    * layout (round 15: string data columns serve the grouped
    * metadata arm via the truncation-safe minStr == maxStr proof). */
  private[graft] def strClusteredPath(
      spark: SparkSession, dir: String): String = synchronized {
    val sfName = Paths.get(dir).getFileName.toString
    val out = s"target/scratch/microblocks/$sfName/strclustered"
    if (!built.contains(out)) {
      if (!graft.engine.Tables.builtFromCurrent(out, dir, "lineitem")) {
        val li = graft.engine.Tables.load(spark, dir, "lineitem")
          .select("l_returnflag", "l_orderkey", "l_suppkey")
        val vals = li.select("l_returnflag").distinct()
          .collect().map(_.getString(0)).sorted
        vals.zipWithIndex.foreach { case (v, i) =>
          li.filter(col("l_returnflag") === v).coalesce(1)
            .write.mode(if (i == 0) "overwrite" else "append").parquet(out)
        }
      }
      ensureSidecars(spark, out, "lineitem", Nil)
      built += out
    }
    out
  }

  /** Build (once per sf dir, reuse across JVMs) the BUCKETED
    * lineitem/orders layouts for the transparent-bucket gate row —
    * warehouse-located, catalog-registered by the write, but consumed
    * as bare PATHS (the transparency under test). Table names carry
    * the sf dir so sf0.01 and sf0.1 runs never collide; a layout older
    * than its source table rebuilds (testdata regenerates per round). */
  private[graft] def bucketedPaths(
      spark: SparkSession, dir: String): (String, String) = synchronized {
    val sfName = Paths.get(dir).getFileName.toString
      .toLowerCase.replaceAll("[^a-z0-9]", "_")
    val liT = s"graft_gate_li_bkt_$sfName"
    val ordT = s"graft_gate_ord_bkt_$sfName"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def srcNewest(table: String): Long =
      MicroBlockIndex.listParquetFilesWithStatus(s"$dir/$table.parquet")
        .map(_._2).foldLeft(0L)(math.max)
    def fresh(table: String, src: String): Boolean = {
      val spec = Paths.get(s"$wh/$table", "_graft_bucket_spec.json")
      Files.exists(spec) &&
        Files.getLastModifiedTime(spec).toMillis >= srcNewest(src)
    }
    if (!fresh(liT, "lineitem"))
      graft.sources.Bucketing.writeBucketed(
        graft.engine.Tables.load(spark, dir, "lineitem"), liT, "l_orderkey", 8,
        columns = Seq("l_extendedprice", "l_discount"))
    else graft.sources.Bucketing.registerExisting(spark, liT, "l_orderkey", 8)
    if (!fresh(ordT, "orders"))
      graft.sources.Bucketing.writeBucketed(
        graft.engine.Tables.load(spark, dir, "orders"), ordT, "o_orderkey", 8,
        columns = Seq("o_custkey", "o_orderdate"))
    else graft.sources.Bucketing.registerExisting(spark, ordT, "o_orderkey", 8)
    (s"$wh/$liT", s"$wh/$ordT")
  }

  /** Build (once) the hive-partitioned orders copy for this sf dir —
    * o_orderstatus partitions × o_orderkey-clustered files, the
    * standard two-level 100 TB fact layout ([[MicroBlockWriter
    * .writePartitioned]]). Shared by the listing-level pruning row
    * (mb_partition_prune) and the partitioned transparent-serve row
    * (mb_part_dict_sql). */
  private[graft] def partitionedOrdersPath(
      spark: SparkSession, dir: String): String = synchronized {
    val sfName = Paths.get(dir).getFileName.toString
    val out = s"target/scratch/partitioned/$sfName"
    if (!built.contains(out)) {
      if (!graft.engine.Tables.builtFromCurrent(out, dir, "orders")) {
        val orders = graft.engine.Tables.load(spark, dir, "orders")
        MicroBlockWriter.writePartitioned(
          orders, out, "o_orderstatus", "o_orderkey", 4)
      }
      ensureSidecars(spark, out, "orders", Nil,
        Seq("o_orderpriority", "o_custkey"))
      built += out
    }
    out
  }

  private val engines = scala.collection.mutable.Map.empty[String, GraftEngine]

  private def engine(spark: SparkSession, dir: String): GraftEngine = synchronized {
    engines.getOrElseUpdate(dir,
      new GraftEngine(spark, microPath(spark, dir), "lineitem"))
  }

  /** The memoized per-sf engine, for benchmarking ([[graft.Bench]] /
    * PruningBench) and tests. */
  def engineFor(spark: SparkSession, dir: String): GraftEngine = engine(spark, dir)

  /** The A/B benchmark predicate — a selective range on the cluster
    * key (the reference's `column1 BETWEEN ...` shape, benchmark2.py:32,
    * over the column its microblocks are ordered by). Shared with
    * mb_prune_count so the audited pruning decision and the measured
    * speedup describe the same query. */
  val benchPred: Pred = Between("l_shipdate",
    PredValue.ts("2000-01-01"), PredValue.ts("2000-07-01"))

  /** The serve-choice A/B's SPARSE shape: a narrow range on an
    * UNCLUSTERED column — every zone straddles it, so the zone map
    * keeps all files, but the histogram sees the row trickle and
    * routes the serve to one direct pushdown scan instead of
    * materializing every block into the LRU. */
  val sparsePred: Pred = Between("l_extendedprice",
    PredValue(20000L), PredValue(20200L))

  /** Replay the workload's pruning decisions into a FRESH access log
    * (mb29-31 need per-query clean logs) without rebuilding the
    * zone-map index — the memoized engine's stats are reused. */
  private[graft] def workloadLog(spark: SparkSession, dir: String): graft.engine.AccessLog = {
    val e = engine(spark, dir)
    val log = new graft.engine.AccessLog()
    // ONE batched decision job covers the workload's distinct shapes
    // (the memo then serves the replay) — per-shape jobs multiply the
    // fixed cost ~6x here, unboundedly for real workloads.
    e.candidatesMany(workload.distinct)
    workload.foreach(p => log.log("lineitem", e.candidates(p)))
    log
  }

  val all: Seq[QueryDef] = Seq(

    // mb27: the zone-map index itself — per-(block, column) stats.
    // Served straight from the DISTRIBUTED index Dataset; nothing
    // beyond the query's own result ever collects.
    QueryDef.rowsOnly("mb_index_stats") { (s, dir) =>
      val e = engine(s, dir)
      e.index.select(
          col("blockId").as("block_id"), col("column"), col("rows"),
          col("nullCount").as("null_count"),
          col("minNum").as("min_num"), col("maxNum").as("max_num"))
        .orderBy("block_id", "column")
    },

    // mb28: pruning decisions for a range predicate on the cluster key,
    // with a row-level audit: blocks marked `keep=false` must contain
    // zero matching rows (conservativeness), and kept blocks must cover
    // exactly the full matching row count.
    QueryDef.rowsOnly("mb_prune_count") { (s, dir) =>
      import s.implicits._
      val e = engine(s, dir)
      val pred = benchPred
      val dec = e.decisions(pred)
      // one job for the whole audit: matching rows per block via
      // input_file_name() (not a count() per block — that would be
      // blocks× sequential jobs, unusable at real block counts)
      val norm = graft.plans.ZoneMapPruneRule.normFile _
      val matchingByFile = s.read.parquet(dec.map(_._2).distinct: _*)
        .filter(pred.toColumn)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("matching_rows"))
        .collect()
        .map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
      val audit = dec.map { case (id, file, rows, keep) =>
        val matching = matchingByFile.getOrElse(norm(file), 0L)
        (id, rows, keep, matching, !keep && matching > 0)
      }
      audit.toDF("block_id", "block_rows", "keep", "matching_rows", "pruning_error")
        .orderBy("block_id")
    },

    // mb91 (round 5): small-file compaction — the operational pass any
    // file-skipping layout needs at 100 TB (streaming appends fragment
    // blocks; footer reads, index rows and task counts all scale with
    // file count). Runs on its OWN scratch copy (never the shared
    // engine layout), merges the sub-minRows tail into targetRows
    // blocks, and audits in-query: row count and an exact decimal
    // quantity sum must survive byte-for-byte, the rewritten zone
    // ranges must still be non-overlapping on the cluster key, and a
    // second compaction must be a no-op.
    QueryDef.rowsOnly("mb_compact") { (s, dir) =>
      import s.implicits._
      val out = s"target/scratch/compact/${new java.io.File(dir).getName}"
      // compaction semantics don't depend on input size — a
      // deterministic quarter keeps the three relayout passes (write,
      // compact, no-op check) from dominating the bench
      val li = graft.engine.Tables.load(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      graft.sources.MicroBlockWriter.write(li, out, "l_shipdate", 24)
      def fingerprint() = s.read.parquet(out)
        .agg(count(lit(1)).cast("long"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("string"))
        .collect().head
      val pre = fingerprint()
      val filesBefore = graft.sources.MicroBlockIndex.listParquetFiles(out).size
      val st = graft.sources.MicroBlockWriter.compact(
        s, out, "l_shipdate", minRows = li.count() / 12, targetRows = li.count() / 6)
      val post = fingerprint()
      val filesAfter = graft.sources.MicroBlockIndex.listParquetFiles(out).size
      val stats = graft.sources.MicroBlockIndex.build(s, out, "lineitem")
        .collect().filter(_.column == "l_shipdate").sortBy(_.blockId)
      val ranges0verlap = stats.sliding(2).exists {
        case Array(a, b) => a.maxNum.get > b.minNum.get
        case _ => false
      }
      val st2 = graft.sources.MicroBlockWriter.compact(
        s, out, "l_shipdate", minRows = li.count() / 12, targetRows = li.count() / 6)
      Seq((filesBefore.toLong, filesAfter.toLong, st.smallFiles.toLong,
        st.mergedFiles.toLong, st.rowsMoved, pre == post, ranges0verlap,
        st2.mergedFiles.toLong))
        .toDF("files_before", "files_after", "small_files", "merged_files",
          "rows_moved", "data_identical", "zone_overlap_after", "second_pass_merged")
    },

    // mb95 (round 5): hive-partitioned two-level layout — the standard
    // 100 TB fact arrangement (coarse partition directories pruned at
    // the LISTING level, zone-mapped micro-blocks inside each). The
    // audit is in-query: a partition-filtered read must touch strictly
    // fewer files than the layout holds, return exactly the rows a
    // direct source-table filter returns, and show PartitionFilters in
    // its executed plan (listing-level pruning, zero I/O for skipped
    // partitions — also pinned in PlanAuditSpec).
    QueryDef.rowsOnly("mb_partition_prune") { (s, dir) =>
      import s.implicits._
      val out = partitionedOrdersPath(s, dir)
      val orders = graft.engine.Tables.load(s, dir, "orders")
      val df = s.read.parquet(out)
      val filtered = df.filter(col("o_orderstatus") === "F")
      val filesRead = filtered.select(input_file_name()).distinct().count()
      val filesTotal = df.select(input_file_name()).distinct().count()
      val rowsRead = filtered.count()
      val rowsExpected = orders.filter(col("o_orderstatus") === "F").count()
      val planPruned = filtered.queryExecution.executedPlan.toString
        .contains("PartitionFilters")
      Seq((filesTotal, filesRead, rowsRead, rowsExpected,
        rowsRead == rowsExpected, filesRead < filesTotal, planPruned))
        .toDF("files_total", "files_read", "rows_read", "rows_expected",
          "rows_match", "fewer_files", "partition_filters_in_plan")
    },

    // mb55: row-offset range scan (reference microblock_reader
    // scan_range): blocks covering global rows [25%, 50%) of the
    // table, block-aligned like the reference. The summary row pins
    // the block-superset contract: served rows ⊇ requested range and
    // align to whole blocks.
    QueryDef.rowsOnly("mb_range_scan") { (s, dir) =>
      import s.implicits._
      val e = engine(s, dir)
      val total = e.blocks.map(_.rows).sum
      val (lo, hi) = (total / 4, total / 2 - 1)
      val served = e.scanRange(lo, hi)
      val n = served.count()
      Seq((lo, hi, n, n >= hi - lo + 1))
        .toDF("row_start", "row_end", "rows_served", "covers_range")
    },

    // mb29: access logging + global history over the workload.
    QueryDef.rowsOnly("mb_access_log") { (s, dir) =>
      import s.implicits._
      workloadLog(s, dir).all
        .map(a => (a.queryIdx, a.blocks.size.toLong, a.blocks.mkString(",")))
        .toDF("query_idx", "n_blocks", "blocks")
        .orderBy("query_idx")
    },

    // mb30: the fitted next-block model (context -> next, count) —
    // trained distributed from the logged workload.
    QueryDef.rowsOnly("mb_prefetch_train") { (s, dir) =>
      import s.implicits._
      val model = new MarkovPrefetcher(1)
        .fitSeq(s, workloadLog(s, dir).all.flatMap(_.blocks))
      model.modelRows.toDF("ctx", "next_block", "cnt")
        .orderBy("ctx", "next_block")
    },

    // mb60: zone-map-assisted top-k — the stats index turned into a
    // top-k pruner: blocks scanned in descending stats-max order until
    // the k-th value dominates every unscanned block's max. On the
    // cluster key this touches O(k) rows' worth of blocks; the oracle
    // is the plain ORDER BY ... LIMIT over the raw table.
    QueryDef.sql(
      "mb_topk",
      """SELECT l_orderkey, l_linenumber,
        |  epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS ship_us
        |FROM lineitem
        |ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 12""".stripMargin) { (s, dir) =>
      engine(s, dir).topK("l_shipdate", 12, Seq("l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          // NTZ column: epoch-exact under the UTC session
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
    },

    // mb60b (round 4): the ASC variant, routed through the ENGINE'S SQL
    // ENTRY POINT — engine.sql recognizes ORDER BY col ASC LIMIT k over
    // the bare table and serves only the zone-map bottom-k block set
    // (stats-min order) instead of a full scan; the SQL's own
    // Sort+Limit then runs over the served superset. Oracle is the
    // same SQL over the raw table in DuckDB.
    QueryDef.sql(
      "mb_topk_asc",
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |ORDER BY l_shipdate ASC, l_orderkey, l_linenumber LIMIT 12""".stripMargin) { (s, dir) =>
      engine(s, dir).sql(
        """SELECT l_orderkey, l_linenumber, l_quantity
          |FROM lineitem
          |ORDER BY l_shipdate ASC, l_orderkey, l_linenumber LIMIT 12""".stripMargin)
    },

    // mb46: the reference's SQL entry point end-to-end — SQL string in,
    // predicates extracted from the analyzed plan, pruned + cached
    // blocks served, result identical to running the SQL directly
    // (oracle-checked against DuckDB on the raw table).
    QueryDef.sql(
      "mb_sql_engine",
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_quantity BETWEEN 18 AND 24
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      engine(s, dir).sql(
        """SELECT l_returnflag, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem WHERE l_quantity BETWEEN 18 AND 24
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // mb31: prediction quality — train on the first 2 workload passes,
    // replay the third, score hit-rate@k + MRR (validate_predictions.py /
    // evaluate_model.py), for ALL THREE model classes on the same
    // split: the Markov table (reference-parity serving), the learned
    // log-linear sequence model, and the recurrent GRU — the
    // reference's actual architecture class (model.py's LSTM, as a
    // pure-JVM recurrent net trained by distributed gradients).
    // The fits are memoized per (session, dir) like the layout caches:
    // training is a one-time indexing-side cost (the reference retrains
    // out-of-band via retrain_model.py), so the repeated query — and
    // the bench rep — measures what SERVING the eval costs, not three
    // model fits per rep.
    QueryDef.rowsOnly("mb_prefetch_eval") { (s, dir) =>
      import org.apache.spark.sql.functions.lit
      val (test, models) = prefetchEvalModels(s, dir)
      def row(name: String, m: graft.engine.Prefetcher) =
        PrefetchEval.summarize(s, PrefetchEval.replay(m, test, k = 3), k = 3)
          .withColumn("model", lit(name))
      models.map { case (name, m) => row(name, m) }.reduce(_ unionAll _)
    },

    // mb_adaptive_layout (round 8): WORKLOAD-ADAPTIVE clustering — the
    // access log (the same telemetry that trains the prefetcher)
    // elects the cluster-key set: most-filtered columns win, one key →
    // range clustering, two → z-order. The output scoreboard replays
    // the logged workload against every candidate layout's stats index
    // and reports the row volume each would scan — pure index math, no
    // data reads — with the elected layout flagged. The spec asserts
    // the election picks the workload's measured-best layout
    // (AdaptiveLayoutSpec); at 100 TB this is the closed loop the
    // reference only gestures at: telemetry in, physical design out.
    QueryDef.rowsOnly("mb_adaptive_layout") { (s, dir) =>
      import s.implicits._
      val e = engine(s, dir)
      // a fresh log of a two-hot-column workload: quantity and price
      // dominate, shipdate is an also-ran below the election threshold
      val wl = adaptiveWorkload
      val log = new graft.engine.AccessLog()
      e.candidatesMany(wl.distinct)
      wl.foreach(p => log.log("lineitem",
        e.candidates(p), graft.plans.IndexPruning.refColumns(p).toSeq.sorted))
      val keys = graft.engine.AdaptiveLayout.chooseKeys(log)
      val layouts = adaptiveLayouts(s, dir) // name -> (keys, index)
      val chosenName = layouts.collectFirst {
        case (name, (ks, _)) if ks == keys => name
      }.getOrElse("unbuilt")
      val rows = layouts.map { case (name, (ks, idx)) =>
        (name, ks.mkString(","),
          graft.engine.AdaptiveLayout.replayScanVolume(s, idx, wl),
          name == chosenName)
      }.toSeq
      rows.toDF("layout", "keys", "replay_scan_rows", "chosen")
        .orderBy("layout")
    },

    // mb_selectivity (round 8): HISTOGRAM selectivity estimation — the
    // stats index one level past min/max. Zone maps answer "CAN this
    // block match?"; the per-file equi-width histograms
    // (sources/BlockHistograms, ONE scan, map-side-combined counter
    // cells, grid bounds straight from the zone-map index) answer "HOW
    // MANY rows will?" — the number scan-vs-serve decisions, prefetch
    // sizing, and layout election actually need at 100 TB. Output: per
    // file, estimated vs ACTUAL matching rows for the shared bench
    // predicate plus a TOTAL row — the estimator publishes its own
    // measured accuracy every run instead of being trusted
    // (SelectivitySpec pins bounds + accuracy on synthetic and real
    // layouts).
    QueryDef.rowsOnly("mb_selectivity") { (s, dir) =>
      import s.implicits._
      val path = microPath(s, dir)
      val e = engine(s, dir)
      val hists = graft.sources.BlockHistograms.buildFromIndex(
          s, path, "lineitem", "l_shipdate", e.index, buckets = 32)
        .collect() // file-list scale: one small row per file
      val (qLo, qHi) = benchPred match {
        case Between(_, lo, hi) => (lo.num.get, hi.num.get)
        case p => throw new IllegalStateException(s"range pred expected: $p")
      }
      val actual = s.read.parquet(path).filter(benchPred.toColumn)
        .groupBy(input_file_name().as("file")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def base(f: String) = java.nio.file.Paths.get(
        new java.net.URI(f).getPath).getFileName.toString
      val perFile = hists.map { h =>
        (base(h.file), h.rows,
          graft.sources.BlockHistograms.estimateRange(h, qLo, qHi),
          actual.getOrElse(h.file, 0L))
      }.sortBy(_._1).toSeq
      val total = ("TOTAL", perFile.map(_._2).sum,
        perFile.map(_._3).sum, perFile.map(_._4).sum)
      (perFile :+ total).toDF("file", "file_rows", "est_rows", "actual_rows")
    },

    // mb_dict_distinct (round 10): COUNT(DISTINCT) served from the
    // DICTIONARY PAGES — the stats layer past min/max and histograms.
    // For a fully-dictionary-encoded column chunk the dictionary IS the
    // chunk's exact non-null value set, so distinct counts come from
    // metadata-scale dictionary-page reads instead of data scans; files
    // with PLAIN-fallback pages (the writer's dictionary cap overflows
    // on high-cardinality columns) degrade to ONE pruned scan of just
    // those files — always exact, verified by the oracle's full-scan
    // count every run. The mix below exercises both physical views
    // (int64, double, string) over the 16-file micro-blocked layout;
    // the q16 weak row's at-scale answer (count-distinct without
    // touching data pages) is measured in BENCH_DICT.json.
    QueryDef.sql(
      "mb_dict_distinct",
      """SELECT 'l_linestatus' AS col_name, count(DISTINCT l_linestatus) AS n_distinct FROM lineitem
        |UNION ALL SELECT 'l_orderkey', count(DISTINCT l_orderkey) FROM lineitem
        |UNION ALL SELECT 'l_quantity', count(DISTINCT l_quantity) FROM lineitem
        |UNION ALL SELECT 'l_returnflag', count(DISTINCT l_returnflag) FROM lineitem
        |UNION ALL SELECT 'l_suppkey', count(DISTINCT l_suppkey) FROM lineitem
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val path = microPath(s, dir)
      val idx = dictIndex(s, dir)
      val counts = DictionaryIndex.countDistinctMany(s, idx, path, DictColumns)
      DictColumns.map(c => (c, counts(c)._1))
        .toDF("col_name", "n_distinct").orderBy("col_name")
    },

    // mb_dict_point (round 10): equality POINT LOOKUP pruned by the
    // dictionary index, on the layout class zone maps cannot touch — a
    // HASH-BUCKETED table (16 files by hash(l_suppkey)), where every
    // file's [min, max] spans the whole key range but each file's
    // DICTIONARY holds exactly its bucket's keys, so `l_suppkey = 3`
    // keeps only the files whose value set contains 3 (~1/16; the
    // zone-map contrast — 16/16 kept — is pinned in DictionarySpec).
    // Round 11 served through a fixed 256 MB cost router; round 14
    // replaces the constant with the MEASURED router
    // (prunedReadEqMeasured): the decision-job cost and the scan
    // throughput are EWMAs learned from this session's own runs
    // (first lookup calibrates), and the route is dictionary iff
    // est_decision_sec < table_bytes / est_scan_bps — the same
    // crossover the old threshold hand-approximated, priced on the
    // box it actually runs on. Both routes end in the same row
    // filter, so the oracle's full-scan hash match holds either way;
    // losslessness is pinned in DictionarySpec.
    QueryDef.sql(
      "mb_dict_point",
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_suppkey = 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val (path, idx) = dictBucketIndex(s, dir)
      DictionaryIndex.prunedReadEqMeasured(s, idx, path, "l_suppkey", Seq(PredValue(3L)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // mb_dict_sql (round 11): the dictionary COUNT(DISTINCT) serve
    // with NO API call — plans/DictDistinctRule re-plans a plain
    // spark.sql global count-distinct over a table carrying a CURRENT
    // _graft_dict sidecar onto the sidecar's value sets (uncovered
    // PLAIN-fallback files union in as a pruned scan). The engine's
    // sql() dictServe (mb_sql_engine's machinery) without the engine:
    // any session + GraftExtensions + a saved sidecar. The require
    // proves the executed plan reads the sidecar, not the base; the
    // soundness gate (sidecar file set == live listing EXACTLY —
    // stale serves would be wrong answers) plus append-refusal,
    // refresh re-serve, shape refusals, and fresh-session discovery
    // are pinned in DictDistinctRuleSpec. Oracle = the same global
    // count-distincts full-scanned by DuckDB.
    QueryDef.sql(
      "mb_dict_sql",
      """SELECT COUNT(DISTINCT l_suppkey) AS nd_supp,
        |  COUNT(DISTINCT l_returnflag) AS nd_flag FROM lineitem""".stripMargin) { (s, dir) =>
      val path = microPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_dict_sql_li")
      val df = s.sql(
        """SELECT COUNT(DISTINCT l_suppkey) AS nd_supp,
          |  COUNT(DISTINCT l_returnflag) AS nd_flag
          |FROM graft_dict_sql_li""".stripMargin)
      require(readsDict(df),
        "transparent dictionary count-distinct did not serve from the sidecar")
      df
    },

    // mb_part_dict_sql (round 13): the transparent dictionary serve
    // over a HIVE-PARTITIONED layout — the col=value nesting every
    // real 100 TB fact table uses. Through round 12 the sidecar
    // listing was top-level-only, so partitioned layouts recorded
    // empty coverage and the freshness gate refused every serve; the
    // recursive listing (sources/MicroBlockIndex.listParquetFiles)
    // makes the sidecar see the nested data files, and the require
    // proves the executed plan reads the sidecar. Oracle = the same
    // count-distincts full-scanned over the source orders table (the
    // partitioned copy holds exactly its rows).
    QueryDef.sql(
      "mb_part_dict_sql",
      """SELECT COUNT(DISTINCT o_orderpriority) AS nd_prio,
        |  COUNT(DISTINCT o_custkey) AS nd_cust FROM orders""".stripMargin) { (s, dir) =>
      val path = partitionedOrdersPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_part_dict_orders")
      val df = s.sql(
        """SELECT COUNT(DISTINCT o_orderpriority) AS nd_prio,
          |  COUNT(DISTINCT o_custkey) AS nd_cust
          |FROM graft_part_dict_orders""".stripMargin)
      require(readsDict(df),
        "partitioned-layout dictionary serve did not read the sidecar")
      df
    },

    // mb_dict_where (round 13): the FILTERED dictionary serve —
    // COUNT(DISTINCT col) WHERE p, on the shipdate-clustered layout
    // where zone-map stats DECIDE p for (most) whole files. All-match
    // files serve their dictionary value sets, all-miss files
    // contribute nothing, and the straddling minority unions in as
    // one pruned scan with the original filter — exact by
    // construction (plans/DictDistinctRule.tryCountDistinctFiltered;
    // the all-rows-match proofs need a COMPLETE predicate conversion
    // and per-block zero null counts — IndexPruning.allMatchColumn).
    // Fire/refusal shapes are pinned in DictDistinctRuleSpec. Oracle =
    // the same filtered count-distincts full-scanned by DuckDB.
    QueryDef.sql(
      "mb_dict_where",
      """SELECT COUNT(DISTINCT l_suppkey) AS nd_supp,
        |  COUNT(DISTINCT l_returnflag) AS nd_flag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin) { (s, dir) =>
      // the all-match proofs read per-block min/max + null counts
      // from the layout's `_graft_index` (microPath keeps it current)
      val path = microPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_dict_where_li")
      val df = s.sql(
        """SELECT COUNT(DISTINCT l_suppkey) AS nd_supp,
          |  COUNT(DISTINCT l_returnflag) AS nd_flag
          |FROM graft_dict_where_li
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
      require(readsDict(df),
        "filtered dictionary serve did not read the sidecar")
      df
    },

    // mb_dict_distinct_where (round 13): the filtered serve's
    // SELECT DISTINCT twin — same tri-state machinery as
    // mb_dict_where (all-match files serve their dictionary value
    // sets, straddlers scan with the original filter), with the one
    // extra obligation DISTINCT carries: an all-match file's NULLs
    // pass the filter and belong in the output, so dict-served files
    // need KNOWN null counts (unknown-null files fall to the scan
    // side) and any positive count adds the NULL row from metadata
    // (plans/DictDistinctRule.tryDistinctValuesFiltered; null cases
    // pinned in DictDistinctRuleSpec). Oracle = the same filtered
    // DISTINCT full-scanned by DuckDB.
    QueryDef.sql(
      "mb_dict_distinct_where",
      """SELECT DISTINCT l_suppkey FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      val path = microPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_dict_dwhere_li")
      val df = s.sql(
        """SELECT DISTINCT l_suppkey FROM graft_dict_dwhere_li
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |ORDER BY l_suppkey""".stripMargin)
      require(readsDict(df),
        "filtered DISTINCT dictionary serve did not read the sidecar")
      df
    },

    // mb_zone_agg (round 13): the zone-stats aggregate serve —
    // filtered COUNT(*)/COUNT(col)/MIN/MAX answered from footer
    // metadata for the zone-decided files of the shipdate-clustered
    // layout, with ONE straddler-only scan (plans/ZoneAggRule). The
    // most common interactive query at 100 TB is `SELECT COUNT(*)
    // WHERE p` — this row pins the exact-answers contract (row
    // counts − null counts for COUNT; the EXACT integral stats view
    // for MIN/MAX over ints of any width and MICROS timestamps —
    // trust rules and refusals in ZoneAggRuleSpec). The
    // require proves the Aggregate was REPLACED (optimized root is
    // the rewrite's Project — file-count checks can't discriminate
    // because the pruner alone also shrinks the listing). Oracle =
    // the same aggregates full-scanned by DuckDB.
    QueryDef.sql(
      "mb_zone_agg",
      """SELECT COUNT(*) AS n_rows, COUNT(l_returnflag) AS n_flag,
        |  MIN(l_linenumber) AS min_ln, MAX(l_linenumber) AS max_ln,
        |  MIN(l_suppkey) AS min_supp, MAX(l_shipdate) AS max_ship
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin) { (s, dir) =>
      val path = microPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_zone_agg_li")
      val df = s.sql(
        """SELECT COUNT(*) AS n_rows, COUNT(l_returnflag) AS n_flag,
          |  MIN(l_linenumber) AS min_ln, MAX(l_linenumber) AS max_ln,
          |  MIN(l_suppkey) AS min_supp, MAX(l_shipdate) AS max_ship
          |FROM graft_zone_agg_li
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
      // file counts can't discriminate (the pruner alone also shrinks
      // the listing) — check the serve's plan signature instead
      val servedFired = graft.plans.ZoneAggRule
        .servedSignature(df.queryExecution.optimizedPlan)
      require(servedFired,
        "zone-stats aggregate serve did not replace the Aggregate")
      df
    },

    // mb_zone_agg_grouped (round 13): GROUP BY a PARTITION column
    // served from file metadata — per-status row counts / null-aware
    // column counts / exact int64 min-max over the hive-partitioned
    // orders layout, answered without touching a single data file
    // (the file→partition-value map is already in the FileIndex; the
    // require proves the plan reads NO file of the layout). This is
    // the per-day/per-tenant COUNT(*) every 100 TB fact table gets
    // asked constantly. Deliberately file-driven, not catalog-driven —
    // the trap that got Spark's own metadataOnly optimization removed
    // (empty catalog partitions fabricated groups) cannot occur:
    // groups come from files actually present. Straddler/refusal
    // shapes are pinned in ZoneAggRuleSpec. Oracle = the same grouped
    // aggregates full-scanned over the source orders table.
    QueryDef.sql(
      "mb_zone_agg_grouped",
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  COUNT(o_custkey) AS n_cust,
        |  MIN(o_orderkey) AS min_ok, MAX(o_orderkey) AS max_ok
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val path = partitionedOrdersPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_zone_grouped_ord")
      val df = s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n_rows,
          |  COUNT(o_custkey) AS n_cust,
          |  MIN(o_orderkey) AS min_ok, MAX(o_orderkey) AS max_ok
          |FROM graft_zone_grouped_ord GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
      val readsBase = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.exists(_.contains("/partitioned/"))
      }
      require(!readsBase.exists(identity),
        "grouped zone-stats serve must not read any data file")
      df
    },

    // mb_zone_agg_sum (round 14): SUM served from metadata — the
    // other half of every dashboard aggregate (COUNT/MIN/MAX landed
    // round 13). Footers carry no sums, so the sidecar carries EXACT
    // per-file integral sums computed once at index build
    // (MicroBlockIndex.withSums — one columnar scan of the named
    // columns, stamped into the same sidecar, same freshness gates).
    // Filtered SUM then folds the zone-decided files' sums at plan
    // time and unions ONE straddler scan; SUM's null algebra (all-NULL
    // ⇒ NULL, never 0) survives because all-NULL files record no sum
    // and fall to the scan side. 2^53+ exactness is pinned in
    // ZoneAggRuleSpec (sums are longs end-to-end — the Double view
    // never touches them). Oracle = the same aggregates full-scanned
    // by DuckDB (CAST to BIGINT: DuckDB sums ints into HUGEINT).
    QueryDef.sql(
      "mb_zone_agg_sum",
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin) { (s, dir) =>
      val path = microPath(s, dir) // its zone sidecar carries the sums
      s.read.parquet(path).createOrReplaceTempView("graft_zone_sum_li")
      val df = s.sql(
        """SELECT COUNT(*) AS n_rows, SUM(l_suppkey) AS sum_supp,
          |  SUM(l_linenumber) AS sum_ln
          |FROM graft_zone_sum_li
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
      val servedFired = graft.plans.ZoneAggRule
        .servedSignature(df.queryExecution.optimizedPlan)
      require(servedFired,
        "zone-stats SUM serve did not replace the Aggregate")
      df
    },

    // mb_zone_agg_grouped_data (round 14): GROUP BY a clustered DATA
    // column served from metadata — round 13's grouped arm refused
    // anything but partition columns; now a file whose stats PROVE it
    // holds exactly one group value (min == max with trusted zero
    // nulls and complete coverage, or all-NULL — its own group)
    // serves from footer metadata, and only unprovable files scan.
    // The fixture is the per-value-file layout every
    // compaction-by-key job produces (one file per l_linenumber
    // value); the require proves NO data file is read. Oracle = the
    // same grouped aggregates full-scanned by DuckDB.
    QueryDef.sql(
      "mb_zone_agg_grouped_data",
      """SELECT l_linenumber, COUNT(*) AS n_rows,
        |  CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp,
        |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
        |FROM lineitem GROUP BY l_linenumber
        |ORDER BY l_linenumber""".stripMargin) { (s, dir) =>
      val path = lineClusteredPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_zone_gd_li")
      val df = s.sql(
        """SELECT l_linenumber, COUNT(*) AS n_rows, SUM(l_suppkey) AS sum_supp,
          |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
          |FROM graft_zone_gd_li GROUP BY l_linenumber
          |ORDER BY l_linenumber""".stripMargin)
      val readsBase = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.exists(_.contains("/lineclustered/"))
      }
      require(!readsBase.exists(identity),
        "grouped data-column serve must not read any data file")
      df
    },

    // mb_bucket_join (round 14): the transparent bucketed layout +
    // eager aggregation, end-to-end through PLAIN SQL over bare
    // parquet PATHS — no catalog table, no register call. The layouts
    // are pay-once clustering writes (Bucketing.writeBucketed);
    // BucketLayoutRule re-attaches their specs from the
    // _graft_bucket_spec.json sidecars, so the l⋈o join runs with no
    // exchange on either scan, and EagerAggregationRule pushes the
    // revenue partial below the join (the q12 structural move at
    // 100 TB: the fact side shrinks to |distinct orderkey| BEFORE any
    // shuffle above it). The require proves the push actually
    // happened — an un-pushed plan passes the value check too, which
    // is exactly why plan-shape requires exist. Oracle = the same
    // star over the source tables in DuckDB (decimal-routed sum, the
    // q12 determinism contract).
    QueryDef.sql(
      "mb_bucket_join",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      val (liP, ordP) = bucketedPaths(s, dir)
      s.read.parquet(liP).createOrReplaceTempView("g_bkt_li")
      s.read.parquet(ordP).createOrReplaceTempView("g_bkt_ord")
      graft.engine.Tables.load(s, dir, "customer")
        .createOrReplaceTempView("g_bkt_cust")
      graft.engine.Tables.load(s, dir, "nation")
        .createOrReplaceTempView("g_bkt_nat")
      val df = s.sql(
        """SELECT n_name,
          |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_items
          |FROM g_bkt_li
          |JOIN g_bkt_ord ON l_orderkey = o_orderkey
          |JOIN g_bkt_cust ON o_custkey = c_custkey
          |JOIN g_bkt_nat ON c_nationkey = n_nationkey
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY n_name ORDER BY n_name""".stripMargin)
      val claimed = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
              r.relation.asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .bucketSpec.exists(_.bucketColumnNames == Seq("l_orderkey")) =>
          true
      }.nonEmpty
      require(claimed, "bucket spec was not re-attached to the plain path read")
      val pushed = df.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if Seq(j.left, j.right).exists(_.collectFirst {
              case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
            }.nonEmpty) => true
      }.nonEmpty
      require(pushed, "eager aggregation did not push below the join")
      df
    },

    // mb_join_dpp (round 13): join-driven file pruning end-to-end in
    // the correctness gate — the multi-dim star shape
    // `fact ⋈ dim1 ⋈ dim2` where each dim's filter is on a NON-key
    // column (region / name — nothing constraint inference can
    // propagate to the fact) and the fact is clustered on the
    // LOW-CARDINALITY join key, the regime the feature targets
    // (plans/JoinFilePruning; its honest limit — surviving keys must
    // be ≪ file count — is exactly why the key here is c_nationkey,
    // not a 15M-row custkey). dim2's equality reaches the fact only
    // THROUGH Join(fact, dim1), pinning the round-13 intermediate-join
    // walk; the require proves the fact's file list shrank. Oracle =
    // the same star join full-scanned by DuckDB.
    QueryDef.sql(
      "mb_join_dpp",
      """SELECT n1.n_name AS nation, COUNT(*) AS n_cust,
        |  SUM(c.c_acctbal) AS sum_bal
        |FROM customer c, nation n1, nation n2
        |WHERE c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = 1
        |  AND c.c_nationkey = n2.n_nationkey
        |  AND n2.n_name IN ('NATION_6', 'NATION_7', 'NATION_11')
        |GROUP BY n1.n_name ORDER BY nation""".stripMargin) { (s, dir) =>
      val path = custBucketPath(s, dir)
      val fact = s.read.parquet(path)
      val nat = graft.engine.Tables.load(s, dir, "nation")
      val dim1 = nat.filter(col("n_regionkey") === 1)
        .select(col("n_nationkey").as("k1"), col("n_name").as("nation"))
      val dim2 = nat.filter(col("n_name")
          .isin("NATION_6", "NATION_7", "NATION_11"))
        .select(col("n_nationkey").as("k2"))
      val df = fact
        .join(dim1, col("c_nationkey") === col("k1"))
        .join(dim2, col("c_nationkey") === col("k2"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_cust"), sum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("nation"))
      val kept = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
              r.relation.asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.inputFiles.exists(_.contains("custbucket")) =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }
      require(kept.nonEmpty && kept.head < 16,
        s"join-DPP did not shrink the fact file list (kept $kept of 16)")
      df
    },

    // mb_bloom_point (round 10): the HIGH-CARDINALITY point lookup —
    // where dictionaries fall back (cardinality past the writer's
    // dict cap: doc ids, URLs, order ids) parquet-native BLOOM
    // FILTERS are the only metadata that can refute `col = v` on an
    // unclustered layout. The scratch copy is hash-bucketed by
    // l_orderkey with dictionary encoding OFF and blooms ON for that
    // column (the real high-card regime at any sf); the serve probes
    // each file's bloom (no false negatives — a refuted file provably
    // holds no matching row) and scans only the survivors. Oracle =
    // the same lookup full-scanned over the raw table; BloomSpec pins
    // the never-refutes-present guarantee over every key of a planted
    // corpus, FP-rate bounds, and missing-bloom conservatism.
    QueryDef.sql(
      "mb_bloom_point",
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_orderkey = 7
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val path = bloomBucketPath(s, dir)
      graft.sources.BloomPruning.prunedReadEq(
          s, path, "l_orderkey", Seq(PredValue(7L)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // mb_matview_cdistinct (round 10): the q16 weak row's AT-SCALE
    // answer. Grouped COUNT(DISTINCT) is measured SCAN-bound at sf100
    // (5.8x DuckDB — no single-pass plan beats re-reading the rows,
    // and dictionaries carry no group co-occurrence), so the 100 TB
    // design is to stop re-reading: an incrementally-maintained
    // (group, value, freq) MATERIALIZED VIEW (sources/AggView) bounded
    // by distinct pairs, not rows — frequencies merge ADDITIVELY under
    // append-only ingest, so maintenance costs the delta, and the
    // serve is a view-scale scan. The oracle is q16's full-scan SQL,
    // so the hash match proves view-served counts ARE the scan answer.
    QueryDef.sql(
      "mb_matview_cdistinct",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val parts = AggView
        .serveCountDistinct(s, aggViewPath(s, dir, "l_partkey"))
        .select(col("l_returnflag"), col("n_distinct").as("n_parts"),
          col("n_rows"))
      val supps = AggView
        .serveCountDistinct(s, aggViewPath(s, dir, "l_suppkey"))
        .select(col("l_returnflag"), col("n_distinct").as("n_supps"))
      parts.join(supps, "l_returnflag")
        .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
          col("n_rows"))
        .orderBy("l_returnflag")
    },

    // mb_matview_pctile (round 10): the q27 weak row through the same
    // view. Exact interpolated percentiles need the per-group
    // value->count map; the (group, value, freq) view IS that map,
    // persisted — `percentile(value, q, freq)` over the view is
    // bit-for-bit the raw-row answer (q27's pre-aggregation argument,
    // with the counts read instead of recomputed). Oracle = q27's
    // full-scan SQL.
    QueryDef.sql(
      "mb_matview_pctile",
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.9) AS p90,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      AggView.servePercentile(s, aggViewPath(s, dir, "l_extendedprice"),
          Seq("p50" -> 0.5, "p90" -> 0.9))
        .select(col("l_returnflag"), col("p50"), col("p90"),
          col("lo"), col("hi"))
        .orderBy("l_returnflag")
    },

    // mb_matview_sql (round 10): the TRANSPARENT path of the same
    // view — plain spark.sql over the bare table, no AggView call in
    // the query. AggViewRewriteRule re-plans the Aggregate onto the
    // registered views (the ZoneMapPruneRule deployment story applied
    // to materialized views): the price view serves count-distinct /
    // count(*) / min / percentile, the suppkey view serves its
    // count-distinct, the exact integral SUM, and AVG
    // (Σ v·freq / Σ freq — round 11), and the two partials
    // join on the group key — the require proves the executed plan
    // reads BOTH views and not the base, and the oracle's full-scan
    // SQL proves the rewritten answer IS the scan answer. Staleness
    // gate, roll-ups, refusal shapes, null-safe group joins, and
    // fresh-session `_graft_views` marker discovery are pinned in
    // AggViewRewriteSpec.
    QueryDef.sql(
      "mb_matview_sql",
      """SELECT l_returnflag, COUNT(DISTINCT l_extendedprice) AS nd,
        |  COUNT(DISTINCT l_suppkey) AS nd_supp,
        |  CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp,
        |  AVG(l_suppkey) AS avg_supp,
        |  COUNT(*) AS n_rows, MIN(l_extendedprice) AS lo,
        |  quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val path = microPath(s, dir)
      // NOTE: registration is JVM-global and stays for the session —
      // fine for answers (the rewrite is exact and staleness-gated)
      // but any LATER query measuring a covered-aggregate SCAN over
      // this path would silently serve from the view instead; no
      // current registry row does (scan baselines read the raw sf
      // paths, engine rows go through the block path)
      graft.plans.AggViewRewriteRule.registerView(
        path, aggViewPath(s, dir, "l_extendedprice"))
      graft.plans.AggViewRewriteRule.registerView(
        path, aggViewPath(s, dir, "l_suppkey"))
      s.read.parquet(path).createOrReplaceTempView("graft_mv_lineitem")
      val df = s.sql(
        """SELECT l_returnflag, COUNT(DISTINCT l_extendedprice) AS nd,
          |  COUNT(DISTINCT l_suppkey) AS nd_supp,
          |  SUM(l_suppkey) AS sum_supp,
          |  AVG(l_suppkey) AS avg_supp,
          |  COUNT(*) AS n_rows, MIN(l_extendedprice) AS lo,
          |  PERCENTILE(l_extendedprice, 0.9) AS p90
          |FROM graft_mv_lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
      def scansView(col: String): Boolean = {
        val viewDir = new java.io.File(aggViewPath(s, dir, col)).getAbsolutePath
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.exists(_.toString.contains(viewDir))
        }.exists(identity)
      }
      require(scansView("l_extendedprice") && scansView("l_suppkey"),
        "transparent matview rewrite did not fire on both views")
      df
    },

    // mb_matview_where (round 10): the transparent rewrite UNDER A
    // WHERE. A filter whose references live in (group cols ∪ value
    // col) commutes with the view — every base row maps to a view row
    // with the identical (group, value) tuple, so filtering base rows
    // ≡ filtering view rows and re-weighting by freq. The query is
    // plain spark.sql with a value-column predicate; the require
    // proves it still serves from the view, the oracle's filtered
    // full-scan SQL proves exactness. Coverage/refusal edges
    // (uncovered columns, non-deterministic predicates, multi-view
    // conflicts) are pinned in AggViewRewriteSpec.
    QueryDef.sql(
      "mb_matview_where",
      """SELECT l_returnflag, COUNT(DISTINCT l_extendedprice) AS nd,
        |  COUNT(*) AS n_rows, quantile_cont(l_extendedprice, 0.5) AS p50
        |FROM lineitem WHERE l_extendedprice > 30000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val path = microPath(s, dir)
      graft.plans.AggViewRewriteRule.registerView(
        path, aggViewPath(s, dir, "l_extendedprice"))
      s.read.parquet(path).createOrReplaceTempView("graft_mvw_lineitem")
      val df = s.sql(
        """SELECT l_returnflag, COUNT(DISTINCT l_extendedprice) AS nd,
          |  COUNT(*) AS n_rows, PERCENTILE(l_extendedprice, 0.5) AS p50
          |FROM graft_mvw_lineitem WHERE l_extendedprice > 30000
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      val viewDir = new java.io.File(aggViewPath(s, dir, "l_extendedprice"))
        .getAbsolutePath
      require(df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.exists(_.toString.contains(viewDir))
      }.exists(identity), "filtered transparent matview rewrite did not fire")
      df
    },

    // mb_matview_compact (round 11): the materialized view SURVIVING
    // THE MAINTENANCE LOOP — the composition round 10 refused. The
    // fixture ingests a deterministic quarter of lineitem, builds the
    // view, appends a second deterministic batch as a small-file tail
    // (delta refresh: reads only the tail), COMPACTS the tail
    // (removing small files, writing merged ones — the operational
    // pass any 100 TB layout runs), and delta-refreshes again: the
    // per-file partials drop the dead files' contributions and
    // re-aggregate only the compacted outputs, never re-reading the
    // untouched base (proven with corrupted-survivor tricks in
    // AggViewSpec; measured at sf100 in BENCH_MATVIEW_r11). The serve
    // here is the post-loop view; the oracle replays the final base
    // content (l_orderkey % 4 IN (0,1)) as a full scan — the hash
    // match proves maintenance across compaction lost nothing.
    QueryDef.sql(
      "mb_matview_compact",
      """SELECT l_returnflag, COUNT(DISTINCT l_quantity) AS n_distinct,
        |  COUNT(*) AS n_rows
        |FROM lineitem WHERE l_orderkey % 4 IN (0, 1)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val (_, view) = compactViewPath(s, dir)
      AggView.serveCountDistinct(s, view)
        .select(col("l_returnflag"), col("n_distinct"), col("n_rows"))
        .orderBy("l_returnflag")
    },

    // mb_zorder (round 7): Z-ORDER multi-column clustering, MEASURED
    // against single-key clustering on the same data. Both layouts are
    // micro-blocked lineitem copies; the output is the file-pruning
    // scoreboard of the zone-map index for a quantity-only, price-only,
    // and quantity∧price predicate on each layout. The single-key
    // layout (clustered on l_quantity) prunes only its own key; the
    // z-ordered layout (quantile-bucketed Morton interleave of
    // quantity × price) prunes on BOTH dimensions — the measured
    // reason a 100 TB fact table with two hot filter columns gets
    // OPTIMIZE ZORDER BY instead of a second sorted copy.
    QueryDef.rowsOnly("mb_zorder") { (s, dir) =>
      import s.implicits._
      val (linIdx, zIdx) = zorderIndexes(s, dir)
      val qty = Between("l_quantity", PredValue(11L), PredValue(13L))
      val price = Between("l_extendedprice", PredValue(20000L), PredValue(26000L))
      val preds = Seq("qty" -> qty, "price" -> price, "both" -> And(qty, price))
      val rows = for {
        (layout, idx) <- Seq("linear_qty" -> linIdx, "zorder_qty_price" -> zIdx)
        (pname, p) <- preds
      } yield {
        val total = idx.select("file").distinct.count()
        val skipped = graft.plans.IndexPruning.skippedFiles(idx, p).size.toLong
        (layout, pname, total, total - skipped)
      }
      rows.toDF("layout", "predicate", "total_files", "kept_files")
        .orderBy("layout", "predicate")
    },

    // mb_zone_agg_grouped_str (round 15): GROUP BY a clustered STRING
    // data column served from metadata — row 149's documented refusal
    // closed. Footer binary stats may be TRUNCATED, but compliant
    // truncation is strictly one-sided (a truncated min is a proper
    // prefix — strictly smaller; a truncated max increments its last
    // byte — strictly larger), so minStr == maxStr is unsatisfiable
    // unless both bounds are exact: equality itself certifies the
    // single-valued file, no exactness flag needed
    // (plans/ZoneAggRule.singleGroupValue; the truncated-stats fixture
    // is spec-pinned in ZoneAggRuleSpec). The fixture is the one-file-
    // per-value layout a compaction-by-string-key job produces; the
    // require proves NO data file is read. Oracle = the same grouped
    // aggregates full-scanned by DuckDB.
    QueryDef.sql(
      "mb_zone_agg_grouped_str",
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val path = strClusteredPath(s, dir)
      s.read.parquet(path).createOrReplaceTempView("graft_zone_gs_li")
      val df = s.sql(
        """SELECT l_returnflag, COUNT(*) AS n_rows,
          |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
          |FROM graft_zone_gs_li GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
      val readsBase = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.exists(_.contains("/strclustered/"))
      }
      require(!readsBase.exists(identity),
        "string grouped data-column serve must not read any data file")
      df
    }
  )

  private val prefetchModelCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), (Seq[Int], Seq[(String, graft.engine.Prefetcher)])]

  /** Fit (once per (session, dir)) the three prefetcher classes on the
    * first 2/3 of the workload replay and return (held-out test tail,
    * fitted models). Hyperparameters: logistic 25 epochs (converges to
    * hit 1.0 / MRR 1.0 by ~15, probed round 3); GRU (24, 8, 120, 0.8)
    * — hit 1.0 / MRR 1.0 in ~1 s of fit (probed round 8; the class
    * defaults underfit at 40 epochs). */
  private[graft] def prefetchEvalModels(s: SparkSession, dir: String)
      : (Seq[Int], Seq[(String, graft.engine.Prefetcher)]) = synchronized {
    // entries keyed by a stopped session are dead weight (they pin the
    // SparkSession and its fitted models for the JVM's life) — swept
    // on access, so the memo only ever holds live sessions' models
    prefetchModelCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    prefetchModelCache.getOrElseUpdate((s, dir), {
      val flat = workloadLog(s, dir).all.flatMap(_.blocks)
      val (train, test) = flat.splitAt(flat.size * 2 / 3)
      val markov = new MarkovPrefetcher(1).fitSeq(s, train)
      val learned =
        new graft.engine.LogisticPrefetcher(order = 2, epochs = 25).fit(s, train)
      val gru = new graft.engine.GruPrefetcher(
        hidden = 24, window = 8, epochs = 120, lr = 0.8).fit(s, train)
      (test, Seq("markov" -> markov, "logistic" -> learned, "gru" -> gru))
    })
  }

  /** The adaptive-clustering election's workload: quantity and price
    * carry 7 filtered accesses each (4 two-dim + 3 single-dim), the
    * shipdate straggler 1 of 11 (~9% share — below the 20% election
    * threshold, so it must NOT cost a z-order dimension). */
  private[graft] def adaptiveWorkload: Seq[Pred] = {
    val qtys = Seq((5L, 10L), (11L, 13L), (20L, 30L))
      .map { case (lo, hi) => Between("l_quantity", PredValue(lo), PredValue(hi)) }
    val prices = Seq((10000L, 20000L), (20000L, 26000L), (40000L, 55000L))
      .map { case (lo, hi) => Between("l_extendedprice", PredValue(lo), PredValue(hi)) }
    val both = Seq(
      And(qtys(0), prices(0)), And(qtys(1), prices(1)),
      And(qtys(2), prices(2)), And(qtys(1), prices(2)))
    both ++ qtys ++ prices :+ benchPred
  }

  private val adaptiveCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), Seq[(String, (Seq[String], DataFrame))]]

  /** Candidate layouts for the adaptive election at this sf dir: the
    * incumbent shipdate clustering plus each single hot key and the
    * two-key z-order, with their stats indices (built once per
    * (session, dir), reusing the shared zorder scratch). */
  private def adaptiveLayouts(s: SparkSession, dir: String)
      : Seq[(String, (Seq[String], DataFrame))] = synchronized {
    adaptiveCache.getOrElseUpdate((s, dir), {
      val sfName = Paths.get(dir).getFileName.toString
      val li = graft.engine.Tables.load(s, dir, "lineitem")
      // 64 blocks: a 2-key z-order needs per-dimension granularity
      // (8×8 tiles) — at the engine's default 16 a single-dimension
      // predicate can't keep fewer than a quarter of the files, which
      // would understate every candidate's pruning power equally but
      // z-order's most
      val adaptiveBlocks = 64
      def layout(tag: String, keys: Seq[String]): (String, (Seq[String], DataFrame)) = {
        val out = s"target/scratch/adaptive/$sfName/$tag"
        if (!graft.engine.Tables.builtFromCurrent(out, dir, "lineitem"))
          graft.engine.AdaptiveLayout.cluster(li, out, keys, adaptiveBlocks)
        (tag, (keys, MicroBlockIndex.build(s, out, s"lineitem_$tag").toDF.cache()))
      }
      Seq(
        layout("linear_shipdate", Seq("l_shipdate")),
        layout("linear_qty", Seq("l_quantity")),
        layout("linear_price", Seq("l_extendedprice")),
        layout("zorder_price_qty", Seq("l_extendedprice", "l_quantity")))
    })
  }

  /** The dictionary-served distinct columns: both integer views (a
    * mid-card key and the order key, which overflows the writer's
    * dictionary cap at larger-than-gate scale and exercises the scan
    * fallback), a double, and two strings. */
  private[graft] val DictColumns = Seq(
    "l_linestatus", "l_orderkey", "l_quantity", "l_returnflag", "l_suppkey")

  /** Does the optimized plan of `df` read a `_graft_dict` sidecar — the
    * proof the transparent dictionary rows require? */
  private def readsDict(df: DataFrame): Boolean =
    graft.sources.SidecarManifest.readIn(
      df.queryExecution.optimizedPlan, graft.sources.SidecarManifest.Dict)

  private val dictIdxCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), org.apache.spark.sql.Dataset[graft.sources.FileDict]]

  /** Dictionary index over the engine's micro-blocked lineitem layout,
    * built once per (session, dir) and kept cached (file-count × column
    * rows — metadata scale). */
  private[graft] def dictIndex(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.sources.FileDict] = synchronized {
    dictIdxCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    dictIdxCache.getOrElseUpdate((s, dir),
      DictionaryIndex.build(s, microPath(s, dir), "lineitem", DictColumns).cache())
  }

  private val dictBucketCache = scala.collection.mutable.Map
    .empty[(SparkSession, String), (String, org.apache.spark.sql.Dataset[graft.sources.FileDict])]

  /** The hash-bucketed lineitem copy (16 files by hash(l_suppkey)) and
    * its dictionary index — the layout where equality pruning needs
    * value sets, not min/max. Stale-guarded against regenerated
    * testdata like the other scratch layouts. */
  private[graft] def dictBucketIndex(s: SparkSession, dir: String)
      : (String, org.apache.spark.sql.Dataset[graft.sources.FileDict]) = synchronized {
    dictBucketCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    dictBucketCache.getOrElseUpdate((s, dir), {
      val sfName = Paths.get(dir).getFileName.toString
      val out = s"target/scratch/dictbucket/$sfName/lineitem"
      if (!graft.engine.Tables.builtFromCurrent(out, dir, "lineitem")) {
        val li = graft.engine.Tables.load(s, dir, "lineitem")
        li.repartition(16, col("l_suppkey"))
          .write.mode("overwrite").parquet(out)
      }
      (out, DictionaryIndex.build(s, out, "lineitem", Seq("l_suppkey")).cache())
    })
  }

  private val custBucketCache =
    scala.collection.mutable.Map.empty[String, String]

  /** The LOW-cardinality-key join-DPP layout: customer hash-bucketed
    * into 16 files by c_nationkey (25 values — every file's key SET is
    * tiny, so a few surviving dim keys refute most files) with a SAVED
    * `_graft_dict` sidecar, so the join arm engages through sidecar
    * discovery alone — no register call, no per-query cache clearing.
    * Stale-guarded like the other scratch layouts. */
  private[graft] def custBucketPath(s: SparkSession, dir: String): String =
    synchronized {
      custBucketCache.getOrElseUpdate(dir, {
        val sfName = Paths.get(dir).getFileName.toString
        val out = s"target/scratch/custbucket/$sfName/customer"
        if (!graft.engine.Tables.builtFromCurrent(out, dir, "customer")) {
          val cust = graft.engine.Tables.load(s, dir, "customer")
          cust.repartition(16, col("c_nationkey"))
            .write.mode("overwrite").parquet(out)
        }
        if (!graft.sources.SidecarManifest.current(
            s, out, graft.sources.SidecarManifest.Dict))
          DictionaryIndex.saveSidecar(
            DictionaryIndex.build(s, out, "customer", Seq("c_nationkey")), out)
        out
      })
    }

  private val bloomBucketCache =
    scala.collection.mutable.Map.empty[String, String]

  /** The high-cardinality point-lookup layout: lineitem hash-bucketed
    * by l_orderkey (16 files), dictionary encoding OFF and a bloom
    * filter ON for that column — the shape a 100 TB corpus's doc_id /
    * URL column takes once its cardinality overflows every dictionary
    * cap. Stale-guarded like the other scratch layouts. */
  private[graft] def bloomBucketPath(s: SparkSession, dir: String): String =
    synchronized {
      bloomBucketCache.getOrElseUpdate(dir, {
        val sfName = Paths.get(dir).getFileName.toString
        val out = s"target/scratch/bloombucket/$sfName/lineitem"
        if (!graft.engine.Tables.builtFromCurrent(out, dir, "lineitem")) {
          val li = graft.engine.Tables.load(s, dir, "lineitem")
          val ndv = math.max(1024L, li.count() / 4 / 16) // per-file orderkey guess
          li.repartition(16, col("l_orderkey"))
            .write.mode("overwrite")
            .option("parquet.enable.dictionary#l_orderkey", "false")
            .option("parquet.bloom.filter.enabled#l_orderkey", "true")
            .option("parquet.bloom.filter.expected.ndv#l_orderkey", ndv.toString)
            .parquet(out)
          // discovery marker: any session's plain SQL over this layout
          // gets the transparent bloom cut (ZoneMapPruneRule), no
          // register call — same deployment story as _graft_index/_dict
          graft.sources.BloomPruning.writeMarker(out, Seq("l_orderkey"))
        }
        out
      })
    }

  private val compactViewCache = scala.collection.mutable.Map.empty[String, (String, String)]

  /** Build (once per sf dir, stale-guarded via a done-marker) the
    * MAINTENANCE-LOOP view fixture for mb_matview_compact: a
    * micro-blocked quarter of lineitem (`l_orderkey % 4 = 0`), the
    * (l_returnflag, l_quantity, freq) view built over it, a second
    * deterministic batch (`% 4 = 1`) appended as a small-file tail +
    * DELTA-refreshed, the tail COMPACTED (removing + rewriting base
    * files), and the view delta-refreshed ACROSS the compaction — the
    * round-11 per-file-partials contract exercised end-to-end. The
    * final base content is exactly `l_orderkey % 4 IN (0, 1)`, which
    * the DuckDB oracle replays on the raw table. */
  private[graft] def compactViewPath(s: SparkSession, dir: String): (String, String) =
    synchronized {
      compactViewCache.getOrElseUpdate(dir, {
        val sfName = Paths.get(dir).getFileName.toString
        val root = s"target/scratch/matview-compact/$sfName"
        val base = s"$root/base"
        val view = s"$root/view"
        val done = Paths.get(root, "_graft_fixture_done")
        val stale = !Files.exists(done) ||
          Files.getLastModifiedTime(done).toMillis <
            graft.engine.Tables.sourceMtime(dir, "lineitem")
        if (stale) {
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
          val li = graft.engine.Tables.load(s, dir, "lineitem")
          val li0 = li.filter(pmod(col("l_orderkey"), lit(4)) === 0)
          val li1 = li.filter(pmod(col("l_orderkey"), lit(4)) === 1)
          MicroBlockWriter.write(li0, base, "l_shipdate", 12)
          AggView.build(s, base, view, Seq("l_returnflag"), "l_quantity")
          // streaming-ish tail: 16 small files, each below the
          // original block size, then a delta refresh (append path)
          li1.repartition(16).write.mode("append").parquet(base)
          AggView.refresh(s, base, view)
          // compact ONLY the tail (minRows sits between the tail file
          // size and the original block size), then refresh again —
          // the removed+added file set maintains at delta cost
          val n0 = li0.count()
          graft.sources.MicroBlockWriter.compact(
            s, base, "l_shipdate", minRows = n0 / 14, targetRows = n0 / 4)
          AggView.refresh(s, base, view)
          Files.createDirectories(done.getParent)
          Files.write(done, Array.emptyByteArray)
        }
        (base, view)
      })
    }

  private val aggViewCache = scala.collection.mutable.Map.empty[String, String]

  /** Build (once per sf dir, stale-guarded) the (l_returnflag,
    * valueCol, freq) materialized view over the micro-blocked lineitem
    * copy — the mb_matview_* rows' persisted input. Views are on-disk
    * state like the scratch layouts, not session-bound frames. */
  private[graft] def aggViewPath(s: SparkSession, dir: String,
      valueCol: String): String = synchronized {
    aggViewCache.getOrElseUpdate(s"$dir/$valueCol", {
      val sfName = Paths.get(dir).getFileName.toString
      val base = microPath(s, dir)
      val out = s"target/scratch/aggview/$sfName/$valueCol"
      // stale unless built over the layout's live file set — the
      // rewrite rule's own gate: a rebuilt layout, or a view copied
      // from another path (its meta records the old file URIs), fails
      def files(fs: Iterable[String]) = fs.map(graft.plans.ZoneMapPruneRule.normFile).toSet
      if (!Files.exists(Paths.get(out, "_graft_view")) ||
          files(AggView.readMeta(out).files) != files(MicroBlockIndex.listParquetFiles(base)))
        AggView.build(s, base, out, Seq("l_returnflag"), valueCol)
      out
    })
  }

  // keyed by (session, dir): cached DataFrames are bound to the
  // SparkSession that built them — a new session in the same JVM must
  // rebuild, not serve frames of a stopped session
  private val zIdxCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), (DataFrame, DataFrame)]

  /** Build (once per (session, sf dir)) a single-key layout clustered
    * on l_quantity and a z-ordered layout on (l_quantity,
    * l_extendedprice), both 16 blocks, and return their stats indices.
    * A scratch layout is reused only while it is NEWER than the source
    * table — regenerated testdata invalidates it (stale layouts would
    * silently serve the old rows). */
  private def zorderIndexes(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    synchronized {
      zIdxCache.getOrElseUpdate((s, dir), {
        val sfName = Paths.get(dir).getFileName.toString
        val linOut = s"target/scratch/zorder/$sfName/lineitem_linear"
        val zOut = s"target/scratch/zorder/$sfName/lineitem_z"
        val li = graft.engine.Tables.load(s, dir, "lineitem")
        def stale(out: String): Boolean =
          !graft.engine.Tables.builtFromCurrent(out, dir, "lineitem")
        if (stale(linOut))
          MicroBlockWriter.write(li, linOut, "l_quantity", NumBlocks)
        if (stale(zOut))
          MicroBlockWriter.writeZOrdered(
            li, zOut, Seq("l_quantity", "l_extendedprice"), NumBlocks)
        (MicroBlockIndex.build(s, linOut, "lineitem_linear").toDF.cache(),
          MicroBlockIndex.build(s, zOut, "lineitem_z").toDF.cache())
      })
    }
}
