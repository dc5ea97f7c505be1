package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.engine.GraftSession
import graft.plans.{GraftRule, ZoneAggRule}
import scala.jdk.CollectionConverters._

/** The frame every graft optimizer rule runs in
  * ([[graft.plans.GraftRule]]):
  *
  *   - inside `GraftRule.internally` every graft rule stands down: a
  *     `COUNT(*)` over a table with a current zone sidecar plans as the
  *     plain aggregate, while outside it the same query serves;
  *   - nested `internally` calls, and one that throws, restore the
  *     outer state;
  *   - under `plans/`, only `GraftRule.scala` declares a `ThreadLocal`,
  *     reads a `spark.graft.*` key through `spark.conf.get` or
  *     overrides a `Rule`'s `apply`.
  */
class GraftRuleSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = GraftSession.local(
    cores = 4, appName = "graft-rule-frame-test")

  private val count = "SELECT COUNT(*) AS n FROM gr_t"

  /** A 4-file table with a saved zone sidecar, as the view `gr_t`. */
  private lazy val table: String = {
    val out = "target/scratch/test/graftrule/t"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    import spark.implicits._
    graft.sources.MicroBlockWriter.write(
      (0L until 4000L).map(i => (i, i % 37)).toDF("k", "v"), out, "k", 4)
    graft.sources.MicroBlockIndex.saveSidecar(
      graft.sources.MicroBlockIndex.build(spark, out, "t"), out)
    spark.read.parquet(out).createOrReplaceTempView("gr_t")
    out
  }

  private def served: Boolean =
    ZoneAggRule.servedSignature(spark.sql(count).queryExecution.optimizedPlan)

  test("inside GraftRule.internally a sidecar'd COUNT(*) plans without the serve; outside it serves") {
    table
    assert(!GraftRule.internally(served), "every graft rule stands down inside internally")
    assert(served, "outside internally the zone sidecar serves")
    assert(spark.sql(count).collect().head.getLong(0) == 4000L)
  }

  test("nested and failing internally calls restore the outer state") {
    table
    GraftRule.internally {
      GraftRule.internally(())
      assert(!served, "the inner call must not clear the outer flag")
    }
    assert(served, "the outermost call must clear the flag")
    intercept[IllegalStateException](GraftRule.internally(throw new IllegalStateException("x")))
    assert(served, "a call that throws must clear the flag")
  }

  /** `path`'s text with block and line comments removed. */
  private def code(path: Path): String = Files.readString(path)
    .replaceAll("(?s)/\\*.*?\\*/", "")
    .replaceAll("(?m)(^|\\s)//.*$", "$1")

  test("under plans/, only GraftRule.scala holds a ThreadLocal, reads a spark.graft key or overrides Rule.apply") {
    val files = Files.walk(Paths.get("src/main/scala/graft/plans")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val frame = files.find(_.getFileName.toString == "GraftRule.scala")
    assert(frame.exists(f => code(f).contains("override def apply(plan: LogicalPlan)")),
      s"the scan found no frame among ${files.size} files")
    val applyOverride = "override\\s+def\\s+apply\\s*\\(\\s*\\w+\\s*:\\s*LogicalPlan\\s*\\)".r
    val found = for {
      f <- files if !frame.contains(f)
      body = code(f)
      what <- Seq(
        Option.when(body.contains("ThreadLocal"))("a ThreadLocal"),
        Option.when(body.contains("spark.conf.get(\"spark.graft."))("a spark.graft conf read"),
        applyOverride.findFirstIn(body).map(_ => "a Rule.apply override")).flatten
    } yield s"${f.getFileName}: $what"
    assert(found.isEmpty, s"rule infrastructure outside GraftRule.scala: $found")
  }
}
