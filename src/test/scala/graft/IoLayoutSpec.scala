package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main/scala/graft/io`: the tall-cell row, the
  * in-memory blob read and the byte-order reads each live in one
  * module ([[graft.io.Cells]], [[graft.io.Bytes]]), so a format file
  * cannot grow its own copy of them again. */
class IoLayoutSpec extends AnyFunSuite {
  private def ioSources: Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala/graft/io"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => (p.getFileName.toString, Files.readString(p)))
      .sortBy(_._1)
    finally files.close()
  }

  private def hits(pattern: String): Seq[(String, Int)] =
    ioSources.map { case (f, src) => f -> pattern.r.findAllIn(src).size }
      .filter(_._2 > 0)

  test("graft.io builds the tall-cell row and reads blobs in one place") {
    assert(hits("""Row\([^()]*"num",\s*null""") == Seq("Cells.scala" -> 1))
    assert(hits("""Row\([^()]*"str",\s*\w+,\s*null\)""") ==
      Seq("Cells.scala" -> 1))
    assert(hits("""parallelize\(blobs""") == Seq("Cells.scala" -> 1))
  }

  test("no format file defines its own byte-order reader") {
    val reader = "def (u1|u2|u4|u8|uN|uint|i2|i4|i8|f4|f8|i16|i32|i64|u16|" +
      """u8v|be2|be4|u2le|i4le|u4le|u8le|f8be)\((\)|[^)]*\bat: (Int|Long))"""
    assert(hits(reader).map(_._1) == Seq("Bytes.scala"))
  }
}
