package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the TPC-H-ish test data: N shifted copies
  * of the fact tables (foreign keys re-based per copy so joins stay
  * consistent), dims copied as-is. Exists because the largest
  * driver-provided scale (sf0.1, 17 MB) measures Spark's fixed job
  * overhead rather than scan/shuffle design; the sf1 output is where
  * the graft-vs-DuckDB throughput ratio is decided (see SURVEY.md
  * benchmark section).
  *
  * Usage: runMain graft.ScaleData [srcDir] [outDir] [factor]
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = BenchWindow.plainSession()

    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val customer = spark.read.parquet(s"$src/customer.parquet")
    val O = orders.agg(max(col("o_orderkey").cast("long"))).head.getLong(0) + 1
    val C = customer.agg(max(col("c_custkey").cast("long"))).head.getLong(0) + 1

    /** `factor` copies with each key column re-based by copy index.
      * Keys are cast to long up front so every copy unions with the
      * same schema. */
    def copies(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val base = shifts.keys.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))
      (0 until factor).map { i =>
        shifts.foldLeft(base) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(span * i))
        }
      }.reduce(_ unionAll _)
    }

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // File counts sized to keep every core busy: parquet scans can't
    // split single-row-group files, so a scan's max parallelism IS the
    // file count. (On a real cluster: files ≈ a small multiple of
    // total cores, sized 64-512 MB each.)
    write(copies(customer, Map("c_custkey" -> C)), "customer", 8)
    write(copies(orders, Map("o_orderkey" -> O, "o_custkey" -> C)), "orders", 32)
    write(copies(lineitem, Map("l_orderkey" -> O)), "lineitem", 64)
    Seq("nation", "region", "supplier", "part").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[scale] $n: copied")
    }
    spark.stop()
  }
}
