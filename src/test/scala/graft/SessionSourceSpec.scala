package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scans over `src/`: every session is built through
  * [[graft.core.GraftSession]], every cut through [[graft.core.Cut]],
  * and the set of programs, of `SPARK_GRAFT_*` env knobs and of
  * `persist()` sites only changes on purpose, so a new main, suite,
  * knob, cut or cache cannot quietly appear; no text operator lets
  * its caller choose between implementations. */
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

  /** `src/main` files with comments stripped, keyed by path under
    * `src/main/scala/graft/`. */
  private lazy val mainCode: Map[String, String] = {
    val root = Paths.get("src/main/scala/graft")
    scalaFiles("src/main").map { p =>
      root.relativize(p).toString -> Files.readString(p)
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    }.toMap
  }

  test("only graft.core.Cut calls localCheckpoint or checkpoint") {
    val call = "\\.(localCheckpoint|checkpoint)\\(".r
    val hits = mainCode.collect {
      case (f, src) if call.findFirstIn(src).isDefined => f
    }.toSet
    assert(hits == Set("core/Cut.scala"),
      "cut outside graft.core.Cut; route it through Cut.of")
  }

  test("the persist() sites are a pinned set, each released by unpersist") {
    val sites = mainCode.map { case (f, src) =>
      f -> "\\.persist\\(".r.findAllIn(src).size
    }.filter(_._2 > 0)
    assert(sites == Map("text/Quality.scala" -> 1, "text/Chunk.scala" -> 1,
      "rel/Spatial.scala" -> 2, "ml/Similarity.scala" -> 2,
      "ml/PQ.scala" -> 1))
    sites.keys.foreach { f =>
      assert(mainCode(f).contains("unpersist("), s"$f never unpersists")
    }
  }

  test("no graft.text operator takes a kernel selector") {
    // a public def with a `kernel` or `hashGrams` parameter lets the
    // caller pick between two implementations of one operator
    val defDecl = "(private(?:\\[\\w+\\])? )?def (\\w+)".r
    val selector = "\\b(kernel|hashGrams)\\s*:".r
    val sites = mainCode.toSeq.filter(_._1.startsWith("text/")).flatMap {
      case (f, src) => selector.findAllMatchIn(src).flatMap { m =>
        defDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
          .filter(_.group(1) == null).map(d => s"$f:${d.group(2)}")
      }
    }.distinct.sorted
    assert(sites.isEmpty, s"operators with an implementation selector: $sites")
  }

  test("src/main reads exactly two SPARK_GRAFT_* env knobs") {
    val knobs = scalaFiles("src/main").flatMap { p =>
      "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(Files.readString(p))
    }.toSet
    assert(knobs == Set("CPUS", "ONLY").map("SPARK_GRAFT_" + _))
  }
}
