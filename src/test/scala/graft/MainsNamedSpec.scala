package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Scripts and docs name only mains that exist: every `runMain graft.X`
  * in `tools/`, `README.md` and the verify skill resolves to a class
  * with a static `main(Array[String])`. */
class MainsNamedSpec extends AnyFunSuite {

  private def sources: Seq[Path] = {
    val tools = Files.list(Paths.get("tools")).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    (tools ++ Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md")))
      .filter(Files.exists(_))
  }

  test("every runMain graft.X in tools, README and the verify skill names a main") {
    val named = sources.flatMap { p =>
      """runMain\s+graft\.([A-Za-z0-9_.]+)""".r
        .findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> p).toSeq
    }
    assert(named.exists(_._1 == "Verify"), s"scan found no mains in ${sources.mkString(", ")}")
    val missing = named.filterNot { case (name, _) =>
      scala.util.Try {
        val m = Class.forName(s"graft.$name").getMethod("main", classOf[Array[String]])
        java.lang.reflect.Modifier.isStatic(m.getModifiers)
      }.getOrElse(false)
    }
    assert(missing.isEmpty, s"named but not a main: ${missing.mkString(", ")}")
  }
}
