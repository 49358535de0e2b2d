package graft

import graft.io.Xpt

/** SAS Transport (.xpt V5) ingest against a GOLDEN fixture handcrafted
  * from TS-140 by tools/make_xpt_fixture.py and validated by
  * pandas.read_sas(format="xport") before check-in. The IBM-float
  * kernel gets its own exactness cases — including true zero, which
  * pandas itself decodes wrong (documented in the scaladoc) and so
  * can't appear in the pandas-validated fixture. */
class XptSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/xpt"

  private def bytes(f: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))

  /** tools/make_xpt_fixture.py ROWS. */
  private def expected: Seq[(Double, Option[Double], Option[String])] =
    (0 until 18).map { i =>
      ((i + 1).toDouble,
        if (i == 6) None else Some(i * 0.25 - 0.125),
        if (i == 9) None
        else Some(if (i == 17) "lastrow_17" else s"x${i % 5}_$i"))
    }

  test("fixture matches the pandas golden (18 rows, missing, blanks)") {
    val wide = Xpt.readRecords(spark, s"$dir/fixture.xpt")
      .orderBy("row").select($"ID", $"SCORE", $"NAME")
      .as[(Double, Option[Double], Option[String])].collect()
    assert(wide.toSeq === expected)
  }

  test("IBM float kernel: exact round-trip incl. zero and sign") {
    val vals = Seq(0.0, 1.0, -1.0, 0.25, -3.0, 17.5, 1e-10, -2.5e12,
      math.Pi, 1.0 / 3.0)
    vals.foreach { v =>
      val got = Xpt.ibmToDouble(Xpt.doubleToIbm(v), 0)
      assert(got === v, s"round-trip of $v gave $got")
    }
    assert(Xpt.ibmToDouble(Xpt.doubleToIbm(null), 0) === null)
    // every missing class decodes to null
    Seq('.', '_', 'A', 'Z').foreach { m =>
      val b = m.toByte +: Array.fill[Byte](7)(0)
      assert(Xpt.ibmToDouble(b, 0) === null, s"missing class $m")
    }
  }

  test("writer round-trips through the parser and the blob reader") {
    val cols = Seq(("k", true), ("txt", false), ("v", true))
    val data = (0 until 150).map { i =>
      Seq(i.toDouble,
        if (i % 5 == 0) null else s"xpt_$i",
        if (i % 7 == 0) null else (i * 1.25 - 10.0)): Seq[Any]
    }
    val blob = Xpt.dumps(cols, data)
    assert(blob.length % 80 === 0)
    val wide = Xpt.records(
        Xpt.readBlobs(spark, Seq(("t.xpt", blob))), Seq(("K", true),
          ("TXT", false), ("V", true)))
      .orderBy("row").select($"K", $"TXT", $"V")
      .as[(Double, Option[String], Option[Double])].collect()
    assert(wide.length === 150)
    wide.zipWithIndex.foreach { case ((k, txt, v), i) =>
      assert(k === i.toDouble)
      assert(txt === (if (i % 5 == 0) None else Some(s"xpt_$i")))
      assert(v === (if (i % 7 == 0) None else Some(i * 1.25 - 10.0)))
    }
  }

  test("paged reader matches whole-file (driver-side blank-pad trim)") {
    val paged = Xpt.records(
        Xpt.readPaged(spark, s"$dir/fixture.xpt", partitions = 4),
        Seq(("ID", true), ("SCORE", true), ("NAME", false)))
      .orderBy("row").select($"ID", $"SCORE", $"NAME")
      .as[(Double, Option[Double], Option[String])].collect()
    assert(paged.toSeq === expected)
  }

  test("an all-blank FINAL row refuses at write (padding-ambiguous)") {
    val cols = Seq(("a", false), ("b", false))
    val ok = Xpt.dumps(cols, Seq(Seq[Any]("x", null), Seq[Any](null, "y")))
    assert(Xpt.rows(ok, Xpt.parseMeta(ok)).size === 2)
    // interior blank row survives; a FINAL one cannot be represented
    val e = intercept[IllegalArgumentException] {
      Xpt.dumps(cols, Seq(Seq[Any]("x", "y"), Seq[Any](null, null)))
    }
    assert(e.getMessage.contains("indistinguishable from card padding"))
  }

  test("CPORT, V8 namestr width, multi-member and junk refuse loudly") {
    val cport = bytes("fixture.xpt").clone()
    "**COMPRESSED**".getBytes.copyToArray(cport, 20)
    val e1 = intercept[IllegalArgumentException] { Xpt.parseMeta(cport) }
    assert(e1.getMessage.contains("CPORT"))

    val v8 = bytes("fixture.xpt").clone()
    "136  ".getBytes.copyToArray(v8, 3 * 80 + 75)
    val e2 = intercept[IllegalArgumentException] { Xpt.parseMeta(v8) }
    assert(e2.getMessage.contains("NAMESTR length"))

    intercept[IllegalArgumentException] {
      Xpt.parseMeta(Array.fill[Byte](800)(' '))
    }
  }

  test("IO.readData and exportData dispatch .xpt") {
    val df = graft.io.IO.readData(spark, s"$dir/fixture.xpt")
    assert(df.count() === 18L)
    val tmp = java.nio.file.Files.createTempFile("graft_xpt_", ".xpt")
    val src = spark.range(20).selectExpr("CAST(id AS DOUBLE) AS k",
      "'y' || CAST(id AS STRING) AS t")
    graft.io.IO.exportData(src, tmp.toString)
    val back = graft.io.IO.readData(spark, tmp.toString)
      .orderBy("row").select($"K", $"T").as[(Double, String)].collect()
    assert(back.length === 20)
    back.zipWithIndex.foreach { case ((k, t), i) =>
      assert(k === i.toDouble); assert(t === s"y$i")
    }
    java.nio.file.Files.delete(tmp)
  }
}
