package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loading. The reference engine binds one parquet file per
  * engine instance as a named view (reference: query_enginev5.py:55-60);
  * graft binds the whole star schema as temp views so `spark.sql` can
  * address any table.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Table `name` in `dir`: `<name>.parquet` when present, else
    * `<name>.orc` — so a whole warehouse can be ORC and every graft
    * operator runs unchanged (north-star "Parquet/OrC" parity; both
    * formats share the vectorized reader + pushdown + pruning). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else sourceOf(spark, dir, name) match {
      case (p, "parquet") => spark.read.parquet(p)
      case (p, fmt)       => spark.read.format(fmt).load(p)
    }

  private def sourceOf(spark: SparkSession, dir: String, name: String): (String, String) = {
    val pq = new org.apache.hadoop.fs.Path(path(dir, name))
    val fs = pq.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(pq)) (pq.toString, "parquet")
    else (s"$dir/$name.orc", "orc")
  }

  /** events.ts encoding varies across testdata generations (int64
    * epoch-nanos vs native timestamp[us]/NTZ). Keep the nanos legacy
    * conf on (harmless otherwise) and let [[EventStreams.normalizeTs]]
    * branch on the actual file schema — same wall-clock under the UTC
    * session as DuckDB's naive-timestamp read either way. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = sourceOf(spark, dir, "events") match {
      case (p, "parquet") => spark.read.parquet(p)
      case (p, fmt)       => spark.read.format(fmt).load(p)
    }
    graft.streaming.EventStreams.normalizeTs(df)
  }

  /** Format-agnostic read (north-star parity: "Parquet/ORC"). Parquet
    * and ORC share Spark's vectorized columnar reader, predicate
    * pushdown, and column pruning, so every graft operator runs
    * unchanged over either; events get the same ts normalization. */
  def loadAs(spark: SparkSession, path: String, format: String,
             isEvents: Boolean = false): DataFrame = {
    val df = spark.read.format(format).load(path)
    if (isEvents) graft.streaming.EventStreams.normalizeTs(df) else df
  }

  /** Register every test table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** mtime of the newest file directly under `dir` matching `name*`
    * (the source table may be a file or a directory) — the staleness
    * handle every scratch-layout cache keys reuse on: a derived
    * artifact is valid only while NEWER than its source table. */
  def sourceMtime(dir: String, name: String): Long = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val d = Paths.get(dir)
    if (!Files.exists(d)) 0L
    else {
      val it = Files.list(d)
      try it.iterator().asScala
        .filter(_.getFileName.toString.startsWith(name))
        .map(p => Files.getLastModifiedTime(p).toMillis).foldLeft(0L)(math.max)
      finally it.close()
    }
  }

  /** Is the scratch layout at `out` built from the CURRENT source table
    * `name` under `dir` — its `_SUCCESS` exists and is no older than
    * [[sourceMtime]]? The one rebuild test for derived layouts. */
  def builtFromCurrent(out: String, dir: String, name: String): Boolean = {
    val success = java.nio.file.Paths.get(out, "_SUCCESS")
    java.nio.file.Files.exists(success) &&
      java.nio.file.Files.getLastModifiedTime(success).toMillis >=
        sourceMtime(dir, name)
  }
}
