package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.GraftSession
import graft.plans._
import graft.sources.{BlockStat, MicroBlockIndex}

/** The distributed form of the tri-state and top-k decisions, kept as
  * the reference the driver-side [[ZoneSnapshot]] is checked against:
  * the T-proof compiled into a Spark `Column` ([[allMatchColumn]]), its
  * per-file aggregation ([[fileTriState]]) and the top-k cut over a
  * filtered collect ([[topKSkippedFiles]]). [[IndexPruning.skippedFiles]]
  * is the reference for the skip list. */
object DistributedZoneReference {

  private def withCompat(index: DataFrame): DataFrame =
    if (index.columns.contains("nanRisk")) index
    else index.withColumn("nanRisk", lit(null).cast("boolean"))

  private def numDefined(st: Column): Column =
    st.isNotNull && st.getField("minNum").isNotNull && st.getField("maxNum").isNotNull
  private def strDefined(st: Column): Column =
    st.isNotNull && st.getField("minStr").isNotNull && st.getField("maxStr").isNotNull
  private def nanOk(st: Column): Column =
    coalesce(st.getField("nanRisk") === lit(false), lit(false))
  private val ExactDoubleBound = 9007199254740992.0 // 2^53
  private def numExact(st: Column): Column =
    abs(st.getField("minNum")) < lit(ExactDoubleBound) &&
      abs(st.getField("maxNum")) < lit(ExactDoubleBound)
  private def litExact(x: Double): Boolean = math.abs(x) < ExactDoubleBound
  private def noNulls(st: Column): Column = {
    val nc = st.getField("nullCount")
    nc.isNotNull && nc === lit(0L)
  }

  def allMatchColumn(pred: Pred, stats: Column): Column = pred match {
    case And(l, r) => allMatchColumn(l, stats) && allMatchColumn(r, stats)
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
      val st = element_at(stats, lit(c))
      vs.map { v =>
        val num = v.num.filter(litExact).map(x =>
          when(numDefined(st) && numExact(st) && noNulls(st) && nanOk(st),
            st.getField("minNum") === lit(x) && st.getField("maxNum") === lit(x)))
        val str = v.str.map(x =>
          when(strDefined(st) && noNulls(st),
            st.getField("minStr") === lit(x) && st.getField("maxStr") === lit(x)))
        coalesce(num.toSeq ++ str.toSeq :+ lit(false): _*)
      }.reduce(_ || _)
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

  /** (file, all_true, all_false) per file. */
  def fileTriState(index0: DataFrame, pred: Pred): DataFrame = {
    val index = withCompat(index0)
    val refs = IndexPruning.refColumns(pred).toSeq
    val entry = when(col("column").isin(refs: _*),
      struct(col("column").as("key"),
        struct(col("minNum"), col("maxNum"), col("minStr"), col("maxStr"),
          col("nullCount"), col("rows"), col("nanRisk")).as("value")))
    index.groupBy(col("blockId").as("block_id"), col("file"))
      .agg(map_from_entries(collect_list(entry)).as("stats"))
      .select(col("file"),
        allMatchColumn(pred, col("stats")).as("t"),
        IndexPruning.keepColumn(pred, col("stats")).as("keep"))
      .groupBy(col("file"))
      .agg((min(when(col("t"), 1).otherwise(0)) === 1).as("all_true"),
        (max(when(col("keep"), 1).otherwise(0)) === 0).as("all_false"))
  }

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

/** Driver-side zone decisions ([[ZoneSnapshot]] over [[ZoneMapPruner]]
  * `mayMatch`, `allMatch` and `topKKept`) equal the distributed ones —
  * skip lists, per-file tri-states and top-k cuts — on random stats
  * built to hit every conservative case (unknown null counts, NaN-valued
  * bounds, every `nanRisk` state, bounds and literals at ±2^53,
  * truncated string bounds, blocks with no row for a column, files of
  * several blocks) and on real decimal, MILLIS and MICROS layouts,
  * whose served answers must equal the rows the data holds.
  */
class ZoneParitySpec extends AnyFunSuite {
  import DistributedZoneReference._

  private lazy val spark = GraftSession.local(cores = 4, appName = "graft-zone-parity")

  private def scratch(tag: String) = s"target/scratch/test/zoneparity/$tag"

  private val rnd = new scala.util.Random(53)

  private val big = 9007199254740992.0 // 2^53
  private val edges = Vector(big, -big, big - 1, -(big - 1), math.nextUp(big), 0.0, -0.0)
  private def num(): Double =
    if (rnd.nextInt(5) == 0) edges(rnd.nextInt(edges.size))
    else math.floor(rnd.between(-50.0, 50.0) * 2) / 2
  private def nums(): (Double, Double) = { val a = num(); val b = num(); (a min b, a max b) }

  // whole strings, and their truncated footer bounds (a min cut to a
  // prefix, a max cut with its last character bumped)
  private val words = Vector("apple", "apricot", "banana", "band", "zebra", "中文", "😀x", "")
  private def strBounds(): (String, String) = {
    val ws = Seq.fill(2)(words(rnd.nextInt(words.size))).sortWith(ZoneMapPruner.u8cmp(_, _) < 0)
    if (rnd.nextInt(3) != 0 || ws.head.length < 2 || ws.last.isEmpty) (ws.head, ws.last)
    else (ws.head.take(2), ws.last.init + (ws.last.last + 1).toChar)
  }

  private def litNum(): PredValue = PredValue(num())
  private def litStr(): PredValue = PredValue(words(rnd.nextInt(words.size)).take(1 + rnd.nextInt(4)))

  private def leaf(nonEmptyIn: Boolean): Pred = rnd.nextInt(9) match {
    case 0 | 1 => Cmp(Seq("=", "!=", "<", "<=", ">", ">=")(rnd.nextInt(6)), "x", litNum())
    case 2 => val (a, b) = nums(); Between("x", PredValue(a), PredValue(b))
    case 3 => In("x", Seq.fill((if (nonEmptyIn) 1 else 0) + rnd.nextInt(3))(litNum()))
    case 4 | 5 => Cmp(Seq("=", "!=", "<", "<=", ">", ">=")(rnd.nextInt(6)), "s", litStr())
    case 6 =>
      val ws = Seq(litStr(), litStr()).sortWith((a, b) => ZoneMapPruner.u8cmp(a.str.get, b.str.get) < 0)
      Between("s", ws.head, ws.last)
    case 7 => In("s", Seq.fill(1 + rnd.nextInt(2))(litStr()))
    case _ => NullCheck(Seq("x", "s")(rnd.nextInt(2)), negated = rnd.nextBoolean())
  }

  private def pred(nonEmptyIn: Boolean): Pred = rnd.nextInt(4) match {
    case 0 => leaf(nonEmptyIn)
    case 1 => And(leaf(nonEmptyIn), leaf(nonEmptyIn))
    case 2 => Or(leaf(nonEmptyIn), leaf(nonEmptyIn))
    case _ => And(Or(leaf(nonEmptyIn), leaf(nonEmptyIn)), leaf(nonEmptyIn))
  }

  /** One block's entries; files hold one to three blocks. */
  private def block(file: String, id: Int): Seq[BlockStat] = {
    val rows = 1L + rnd.nextInt(10)
    def nc(): Long = Seq(0L, 0L, rows, math.max(0L, rows - 1), -1L)(rnd.nextInt(5))
    def nanRisk(): Option[Boolean] = Seq(Some(false), Some(false), Some(true), None)(rnd.nextInt(4))
    def entry(column: String, mn: Option[Double], mx: Option[Double],
        ms: Option[String], xs: Option[String]) =
      BlockStat("t", file, id, id * 10L, id * 10L + rows - 1, column, rows, nc(),
        100L, "SNAPPY", mn, mx, ms, xs, nanRisk = nanRisk())
    val x = rnd.nextInt(8) match {
      case 0 => Seq(entry("x", None, None, None, None))
      case 1 => Nil // no row for x in this block
      case 2 => Seq(entry("x", Some(if (rnd.nextBoolean()) Double.NaN else num()),
        Some(Double.NaN), None, None))
      case _ => val (a, b) = nums(); Seq(entry("x", Some(a), Some(b), None, None))
    }
    val s = rnd.nextInt(6) match {
      case 0 => Seq(entry("s", None, None, None, None))
      case 1 => Nil
      case _ => val (a, b) = strBounds(); Seq(entry("s", None, None, Some(a), Some(b)))
    }
    x ++ s :+ entry("y", Some(0.0), Some(1.0), None, None)
  }

  private def randomIndex(): DataFrame = {
    import spark.implicits._
    var id = 0
    val stats = (0 until 40).flatMap { f =>
      (0 to rnd.nextInt(3)).flatMap { _ => id += 1; block(s"file:/t/f$f.parquet", id) }
    }
    spark.createDataset(stats).toDF()
  }

  private def norm(fs: Seq[String]): Set[String] = fs.map(ZoneMapPruneRule.normFile).toSet

  private def triRef(index: DataFrame, p: Pred): (Set[String], Set[String]) = {
    val rows = fileTriState(index, p).collect()
      .map(r => (ZoneMapPruneRule.normFile(r.getString(0)), r.getBoolean(1), r.getBoolean(2)))
    (rows.collect { case (f, true, _) => f }.toSet, rows.collect { case (f, _, true) => f }.toSet)
  }

  /** Every decision the rules take over `index` equals the distributed one. */
  private def assertParity(index: DataFrame, preds: Seq[Pred], completePreds: Seq[Pred],
      topKCols: Seq[String]): Unit = {
    val snap = new ZoneSnapshot(_ => index)
    preds.foreach { p =>
      assert(ZoneSnapshot.skippedFiles(spark, Seq(snap), p) ==
        norm(IndexPruning.skippedFiles(index, p)), s"skip list differs for $p")
    }
    completePreds.foreach { p =>
      assert(snap.triState(spark, p) == triRef(index, p), s"tri-state differs for $p")
    }
    for (c <- topKCols; k <- Seq(1, 3, 10, 50); asc <- Seq(true, false);
         nf <- Seq(true, false)) {
      assert(ZoneSnapshot.topKSkippedFiles(spark, Seq(snap), c, k, asc, nf) ==
        norm(topKSkippedFiles(index, c, k, asc, nf)), s"top-k cut differs for $c k=$k asc=$asc nf=$nf")
    }
  }

  test("driver skip lists, tri-states and top-k cuts equal the distributed ones on random stats") {
    for (_ <- 1 to 6) {
      val index = randomIndex().cache()
      try assertParity(index, Seq.fill(25)(pred(nonEmptyIn = false)),
        Seq.fill(25)(pred(nonEmptyIn = true)), Seq("x"))
      finally index.unpersist()
    }
  }

  test("a legacy frame without nanRisk decides like the distributed path (null = risky)") {
    val index = randomIndex().drop("nanRisk").cache()
    try assertParity(index, Seq.fill(15)(pred(nonEmptyIn = false)),
      Seq.fill(15)(pred(nonEmptyIn = true)), Seq("x"))
    finally index.unpersist()
  }

  /** A two-file layout of `df` with its zone sidecar. */
  private def layout(tag: String, df: DataFrame): String = {
    val out = scratch(tag)
    df.repartition(2).write.mode("overwrite").parquet(out)
    MicroBlockIndex.saveSidecar(MicroBlockIndex.build(spark, out, tag), out)
    out
  }

  /** Decisions on the layout's real index, then every query through the
    * rules against the rows the data holds. */
  private def throughRules(tag: String, out: String, column: String,
      preds: Seq[Pred], queries: Seq[(String, Seq[Any] => Boolean)]): Unit = {
    val index = MicroBlockIndex.load(spark, MicroBlockIndex.sidecarPath(out)).toDF()
    assertParity(index, preds, preds, Seq(column))
    spark.read.parquet(out).createOrReplaceTempView(s"zp_$tag")
    val values = spark.read.parquet(out).select(column).collect().map(_.get(0)).toSeq
    queries.foreach { case (where, holds) =>
      val got = spark.sql(s"SELECT COUNT(*) AS n, COUNT($column) AS nv FROM zp_$tag WHERE $where")
        .collect().head
      val n = values.count(v => v != null && holds(Seq(v)))
      assert((got.getLong(0), got.getLong(1)) == ((n.toLong, n.toLong)), s"$tag: WHERE $where")
    }
  }

  test("decimal, MILLIS and MICROS layouts decide alike and answer right through the rules") {
    val dec = layout("dec", spark.sql(
      "SELECT CAST((id % 3) + 3 AS DECIMAL(12,2)) AS price FROM range(600)"))
    throughRules("dec", dec, "price",
      Seq(Cmp(">", "price", PredValue(250.0)), Cmp(">=", "price", PredValue(4.0)),
        Between("price", PredValue(3.0), PredValue(4.0))),
      Seq("price > 250.00" -> (v => v.head.asInstanceOf[java.math.BigDecimal].doubleValue > 250),
        "price >= 4.00" -> (v => v.head.asInstanceOf[java.math.BigDecimal].doubleValue >= 4)))
    val hour = "TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL '1' HOUR AS ts FROM range(240)"
    val cut = spark.sql("SELECT TIMESTAMP '2024-01-03 00:00:00'").head.getTimestamp(0)
    val cutLit = PredValue.ts("2024-01-03 00:00:00")
    val old = spark.conf.get("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    val millis = try layout("millis", spark.sql(s"SELECT $hour")) finally
      spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    val micros = layout("micros", spark.sql(s"SELECT $hour"))
    for ((tag, out) <- Seq("millis" -> millis, "micros" -> micros))
      throughRules(tag, out, "ts",
        Seq(Cmp(">", "ts", cutLit), Cmp("<=", "ts", cutLit), NullCheck("ts", negated = true)),
        Seq("ts > TIMESTAMP '2024-01-03 00:00:00'" ->
          (v => v.head.asInstanceOf[java.sql.Timestamp].after(cut)),
          "ts <= TIMESTAMP '2024-01-03 00:00:00'" ->
          (v => !v.head.asInstanceOf[java.sql.Timestamp].after(cut))))
  }
}
