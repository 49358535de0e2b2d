package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scans over `src/`: every session is built through
  * [[graft.core.GraftSession]], and the set of programs and of
  * `SPARK_GRAFT_*` env knobs only changes on purpose, so a new main,
  * suite or knob cannot quietly appear. */
class SessionSourceSpec extends AnyFunSuite {
  private def scalaFiles(roots: String*): Seq[Path] = roots.flatMap { root =>
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  test("only GraftSession builds a SparkSession") {
    val call = "SparkSession" + ".builder" // split so this file won't match
    val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")
    val hits = scalaFiles("src/main", "src/test").filter { (p: Path) =>
      p.normalize != factory.normalize &&
        Files.readString(p).contains(call)
    }
    assert(hits.isEmpty, s"builds a session outside GraftSession: $hits")
  }

  test("the programs under src/main are exactly the five known mains") {
    val objectDecl = "object (\\w+)".r
    val mains = scalaFiles("src/main").flatMap { p =>
      val src = Files.readString(p)
      "def main\\(".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted == Seq("ApiDoc", "PipelineDemo", "PlanAudit",
      "Profile", "Verify"))
  }

  test("src/main reads exactly two SPARK_GRAFT_* env knobs") {
    val knobs = scalaFiles("src/main").flatMap { p =>
      "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(Files.readString(p))
    }.toSet
    assert(knobs == Set("CPUS", "ONLY").map("SPARK_GRAFT_" + _))
  }
}
