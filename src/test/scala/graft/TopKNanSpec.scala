package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{GraftEngine, GraftSession}

/** The engine's top-k serves agree with plain Spark over NaN-blind
  * float stats. The fixture (`src/test/resources/topk_nan`, written by
  * pyarrow) holds two files: `d = [1.0, NaN, 2.0]`, whose arrow footer
  * records max 2.0, and `d = [10.0, 20.0]`. Spark sorts NaN above
  * everything, so `ORDER BY d DESC LIMIT 1` is the NaN row; a cut that
  * trusts the footer max serves only the second file and returns 20.0.
  * `topK`, `topKDirect` and `sql`'s ORDER BY … LIMIT path share one
  * cut ([[graft.plans.ZoneMapPruner.topKKept]]). */
class TopKNanSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(cores = 4, appName = "graft-topk-nan")

  private lazy val path = {
    val out = java.nio.file.Paths.get("target/scratch/test/topk-nan")
    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File("src/test/resources/topk_nan"), out.toFile)
    out.toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("topK, topKDirect and sql ORDER BY … LIMIT return plain Spark's rows over NaN-blind stats") {
    // truth first: the engine registers its index with the transparent
    // rule, so plain Spark must run before any engine exists
    val plain = spark.read.parquet(path)
    val desc = rows(plain.orderBy(col("d").desc, col("k")).limit(1))
    val asc = rows(plain.orderBy(col("d").asc, col("k")).limit(1))
    assert(desc == Seq("[2,NaN]"), "fixture: Spark orders NaN first under DESC")

    val e = new GraftEngine(spark, path, "topk_nan_t")
    assert(rows(e.topK("d", 1, Seq("k")).select("k", "d")) == desc)
    assert(rows(e.topKDirect("d", 1, Seq("k")).select("k", "d")) == desc)
    assert(rows(e.sql("SELECT k, d FROM topk_nan_t ORDER BY d DESC, k LIMIT 1")) == desc)
    assert(rows(e.topK("d", 1, Seq("k"), ascending = true).select("k", "d")) == asc)
    assert(rows(e.sql("SELECT k, d FROM topk_nan_t ORDER BY d ASC, k LIMIT 1")) == asc)
  }
}
