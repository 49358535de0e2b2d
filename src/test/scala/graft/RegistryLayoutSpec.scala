package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: the registry is grouped by domain, so
  * no program file is named after the build round that added it. The
  * `BatchNNSpec` suites under `src/test` keep their names, and comments
  * citing them stay allowed. */
class RegistryLayoutSpec extends AnyFunSuite {
  private def mainFiles: Seq[Path] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally files.close()
  }

  test("no round-named file or registry object under src/main") {
    val named = mainFiles.filter(_.getFileName.toString.matches("Batch[0-9]+.*"))
    assert(named.isEmpty, s"round-named files: ${named.sorted.mkString(", ")}")
    val cites = mainFiles.filter(_.toString.endsWith(".scala")).filter { p =>
      "Batch[0-9]+Entries".r.findFirstIn(Files.readString(p)).isDefined
    }
    assert(cites.isEmpty, s"cite a round-named registry object: ${cites.sorted.mkString(", ")}")
  }
}
