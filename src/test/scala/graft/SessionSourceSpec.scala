package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every session is built through [[graft.core.GraftSession]]: a source
  * scan, so a new main or suite cannot quietly build its own. */
class SessionSourceSpec extends AnyFunSuite {
  test("only GraftSession builds a SparkSession") {
    val call = "SparkSession" + ".builder" // split so this file won't match
    val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")
    val hits = Seq("src/main", "src/test").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter { (p: Path) =>
      p.normalize != factory.normalize &&
        Files.readString(p).contains(call)
    }
    assert(hits.isEmpty, s"builds a session outside GraftSession: $hits")
  }
}
