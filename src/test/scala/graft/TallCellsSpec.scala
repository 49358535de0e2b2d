package graft

import org.apache.spark.sql.DataFrame
import graft.io.{Dta, Feather, Sas, Sav, TallCells, Xpt}

/** The shared tall-cell surface over every statistical format: the
  * whole-file, in-memory-blob and within-file paged reads of the same
  * bytes must hand back the same cells under the same row ids, and a
  * file with no rows must read as empty everywhere or fail with the
  * format's own `require`, never an index or null-pointer error. */
class TallCellsSpec extends SparkSpec {

  private val cols = Seq(("x", true), ("s", false))

  private val formats: Seq[(String, TallCells, Seq[Seq[Any]] => Array[Byte])] =
    Seq(
      ("sas7bdat", Sas, Sas.dumps(cols, _)),
      ("sav", Sav, Sav.dumps(cols, _)),
      ("dta", Dta, Dta.dumps(cols, _)),
      ("xpt", Xpt, Xpt.dumps(cols, _)),
      ("feather", Feather, Feather.dumps(cols, _)))

  /** (row, key, vtype, value_str, value_double) of every cell, sorted —
    * src_file differs by surface (URI, path, blob name) by design. */
  private def cells(df: DataFrame): Seq[String] =
    df.select("row", "key", "vtype", "value_str", "value_double")
      .collect().map(_.toString).toSeq.sorted

  /** The three surfaces over one file's bytes. */
  private def surfaces(ext: String, r: TallCells,
                       bytes: Array[Byte]): Seq[(String, () => DataFrame)] = {
    val f = java.nio.file.Files.createTempFile("graft_tall_", s".$ext")
    java.nio.file.Files.write(f, bytes)
    f.toFile.deleteOnExit()
    Seq(
      "read" -> (() => r.read(spark, f.toString)),
      "readBlobs" -> (() => r.readBlobs(spark, Seq((s"one.$ext", bytes)))),
      "readPaged" -> (() => r.readPaged(spark, f.toString, partitions = 2)))
  }

  test("read, readBlobs and readPaged agree on a one-row file") {
    formats.foreach { case (ext, r, dump) =>
      val got = surfaces(ext, r, dump(Seq(Seq(1.5, "a"))))
        .map { case (name, df) => name -> cells(df()) }
      val (_, whole) = got.head
      assert(whole.size === 2, ext)
      assert(whole.forall(_.startsWith("[0,")), s"$ext row ids: $whole")
      got.tail.foreach { case (name, c) =>
        assert(c === whole, s"$ext $name diverged from read")
      }
    }
  }

  test("a zero-row file reads empty or fails a named require") {
    def rootCause(t: Throwable): Throwable =
      Option(t.getCause).filter(_ ne t).map(rootCause).getOrElse(t)
    formats.foreach { case (ext, r, dump) =>
      surfaces(ext, r, dump(Seq.empty)).foreach { case (name, df) =>
        try assert(cells(df()).isEmpty, s"$ext $name")
        catch {
          case e: Exception =>
            val cause = rootCause(e)
            assert(cause.isInstanceOf[IllegalArgumentException] &&
              cause.getMessage.startsWith(s"$ext:"),
              s"$ext $name failed outside the format's require: $cause")
        }
      }
    }
  }
}
