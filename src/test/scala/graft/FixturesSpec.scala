package graft

import java.nio.file.{Files, Paths}
import graft.core.Fixtures
import org.scalatest.funsuite.AnyFunSuite

/** The registry's one fixture cache, checked without Spark. */
class FixturesSpec extends AnyFunSuite {

  test("cached builds each key once, lets a build use another key, and retries a failed build") {
    var builds = 0
    def outer(): Int = Fixtures.cached("spec_outer") {
      builds += 1
      Fixtures.cached("spec_inner")(20) + 1
    }
    assert(outer() === 21)
    assert(outer() === 21)
    assert(builds === 1)
    intercept[IllegalStateException](
      Fixtures.cached[Int]("spec_retry")(throw new IllegalStateException("boom")))
    assert(Fixtures.cached("spec_retry")(7) === 7)
  }

  test("tempFile holds the bytes; tempDir is an empty directory") {
    val bytes = Array[Byte](1, 2, 3)
    val f = Fixtures.tempFile("graft_spec_", ".bin")(bytes)
    assert(Files.readAllBytes(Paths.get(f)).toSeq === bytes.toSeq)
    val d = Fixtures.tempDir("graft_spec_dir_")
    assert(Files.isDirectory(d))
    assert(d.toFile.list().isEmpty)
  }
}
