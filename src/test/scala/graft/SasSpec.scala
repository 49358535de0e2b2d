package graft

import graft.io.Sas

/** SAS7BDAT ingest against GOLDEN fixtures handcrafted by
  * tools/make_sas_fixture.py and validated by pandas.read_sas (an
  * independent public implementation) before check-in — both the
  * 64-bit meta+data-page layout and the 32-bit single-mix-page layout.
  * The refusal cases pin the documented subset: big-endian and
  * RLE/RDC-compressed files never parse silently wrong. */
class SasSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/sas"

  private def bytes(f: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))

  /** The intended frame both fixtures carry (tools/make_sas_fixture.py
    * ROWS): id f8, score f8 with row 7 missing, name char(8). */
  private def expected: Seq[(Double, Option[Double], String)] =
    (0 until 20).map { i =>
      (i.toDouble,
        if (i == 7) None
        else Some(math.rint((i * 0.5 - 3.0) * 1e6) / 1e6),
        if (i % 4 == 0) "pad" else s"r${i % 3}x")
    }

  private def check(file: String): Unit = {
    val wide = Sas.readRecords(spark, s"$dir/$file")
      .orderBy("row").select($"id", $"score", $"name")
      .as[(Double, Option[Double], String)].collect()
    assert(wide.toSeq === expected)
  }

  test("u64 fixture (meta page + data page) matches the pandas golden") {
    check("fixture_u64.sas7bdat")
  }

  test("x86 fixture (single mix page) matches the pandas golden") {
    check("fixture_x86.sas7bdat")
  }

  test("golden.csv (the pandas-read dump) agrees row for row") {
    // the CSV is what pandas itself decoded from the same bytes — a
    // second anchor independent of the fixture generator's intent
    val golden = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/golden.csv")
      .orderBy("id")
      .select($"id", $"score", $"name")
      .as[(Double, Option[Double], String)].collect()
    val ours = Sas.readRecords(spark, s"$dir/fixture_u64.sas7bdat")
      .orderBy("row").select($"id", $"score", $"name")
      .as[(Double, Option[Double], String)].collect()
    assert(ours.length === golden.length)
    ours.zip(golden).foreach { case ((i1, s1, n1), (i2, s2, n2)) =>
      assert(i1 === i2)
      assert(n1 === n2)
      (s1, s2) match {
        case (None, None) => ()
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9)
        case other => fail(s"missing-value mismatch: $other")
      }
    }
  }

  test("tall cells carry per-column types; numeric missing is null") {
    val tall = Sas.read(spark, s"$dir/fixture_u64.sas7bdat")
    assert(tall.count() === 60L)
    val types = tall.select("key", "vtype").distinct()
      .as[(String, String)].collect().toMap
    assert(types === Map("id" -> "num", "score" -> "num", "name" -> "str"))
    val missing = tall
      .filter($"key" === "score" && $"value_double".isNull)
      .select($"row").as[Long].collect()
    assert(missing.toSeq === Seq(7L))
  }

  test("writer round-trips through the parser and the blob reader") {
    val cols = Seq(("k", true), ("txt", false), ("v", true))
    val data = (0 until 300).map { i =>
      Seq(i.toDouble,
        if (i % 5 == 0) null else s"s${i % 11}",
        if (i % 7 == 0) null else (i * 1.25 - 10.0)): Seq[Any]
    }
    val blob = Sas.dumps(cols, data)
    // 300 rows x 24 bytes spill past one 4096-byte data page — the
    // round-trip covers the multi-data-page path
    val wide = Sas.records(
        Sas.readBlobs(spark, Seq(("t.sas7bdat", blob))), cols)
      .orderBy("row")
      .select($"k", $"txt", $"v")
      .as[(Double, Option[String], Option[Double])].collect()
    assert(wide.length === 300)
    wide.zipWithIndex.foreach { case ((k, txt, v), i) =>
      assert(k === i.toDouble)
      assert(txt === (if (i % 5 == 0) None else Some(s"s${i % 11}")))
      assert(v === (if (i % 7 == 0) None else Some(i * 1.25 - 10.0)))
    }
  }

  test("unknown-endianness, compressed and corrupt files refuse loudly") {
    // an unknown endianness byte refuses; a byte-37 flip on an
    // LE-packed file is GARBAGE under big-endian reads and dies on
    // the geometry checks, never decoding wrong data silently
    val bad = bytes("fixture_u64.sas7bdat").clone()
    bad(37) = 0x02
    val e0 = intercept[IllegalArgumentException] { Sas.parseMeta(bad) }
    assert(e0.getMessage.contains("endianness"))
    val be = bytes("fixture_u64.sas7bdat").clone()
    be(37) = 0x00
    val e1 = intercept[IllegalArgumentException] { Sas.parseMeta(be) }
    assert(e1.getMessage.contains("truncated") ||
      e1.getMessage.contains("geometry"))

    // plant the RDC literal inside the first column-text blob: BOTH
    // codecs parse since round 16 — a compression literal over plain
    // data pages must still decode (the literal only gates how data
    // SUBHEADERS decompress; fixed-stride page rows are untouched)
    val rdc = bytes("fixture_u64.sas7bdat").clone()
    val idAt = (1024 until rdc.length - 8).find(i =>
      rdc(i) == 'i'.toByte && rdc(i + 1) == 'd'.toByte &&
        rdc(i + 2) == 0.toByte).get
    "SASYZCR2".getBytes("ISO-8859-1").copyToArray(rdc, idAt)
    val m2 = Sas.parseMeta(rdc)
    assert(m2.compression === Sas.CompRdc)
    assert(Sas.rows(rdc, m2).size === 20)

    val junk = Array.fill[Byte](2048)(0x5A)
    intercept[IllegalArgumentException] { Sas.parseMeta(junk) }

    val truncated = bytes("fixture_u64.sas7bdat").take(3000)
    val e3 = intercept[IllegalArgumentException] {
      Sas.parseMeta(truncated)
    }
    assert(e3.getMessage.contains("truncated"))
  }

  test("big-endian files decode identically to little-endian, " +
      "plain and compressed, whole and paged") {
    val cols = Seq(("k", true), ("txt", false), ("v", true))
    val data = (0 until 300).map { i =>
      Seq(i.toDouble,
        if (i % 5 == 0) null else s"s${i % 11}",
        if (i % 7 == 0) null else (i * 1.25 - 10.0)): Seq[Any]
    }
    def readBack(blob: Array[Byte]) = Sas.records(
        Sas.readBlobs(spark, Seq(("t.sas7bdat", blob))), cols)
      .orderBy("row").select($"k", $"txt", $"v")
      .as[(Double, Option[String], Option[Double])].collect().toSeq
    val le = readBack(Sas.dumps(cols, data))
    Seq(
      ("plain", Sas.dumps(cols, data, bigEndian = true)),
      ("rle", Sas.dumps(cols, data, rle = true, bigEndian = true)),
      ("rdc", Sas.dumps(cols, data, rdc = true, bigEndian = true))
    ).foreach { case (label, blob) =>
      assert(blob(37) === 0x00.toByte, label)
      assert(readBack(blob) === le, label)
    }
    // the paged scan splits a BE file identically (dense ids included)
    val tmp = java.nio.file.Files.createTempFile("graft_sas_be_", ".sas7bdat")
    java.nio.file.Files.write(tmp, Sas.dumps(cols, data, bigEndian = true))
    val paged = Sas.records(
        Sas.readPaged(spark, tmp.toString, partitions = 4), cols)
      .orderBy("row").select($"k", $"txt", $"v")
      .as[(Double, Option[String], Option[Double])].collect().toSeq
    assert(paged === le)
    java.nio.file.Files.delete(tmp)
    // keep the bytes around for the pandas cross-validation step
    // (tools/make_sas_fixture.py check-be <file> — the check-in gate,
    // not a test-time dependency); both codecs pinned
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "scala_sas_be_check.sas7bdat"),
      Sas.dumps(cols, data, bigEndian = true))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "scala_sas_be_rle_check.sas7bdat"),
      Sas.dumps(cols, data, rle = true, bigEndian = true))
  }

  test("IO.readData dispatches .sas7bdat") {
    val df = graft.io.IO.readData(spark, s"$dir/fixture_u64.sas7bdat")
    assert(df.count() === 20L)
    assert(df.columns.sorted.toSeq === Seq("id", "name", "row",
      "score", "src_file"))
  }

  test("paged reader matches the whole-blob reader on both fixtures") {
    Seq("fixture_u64.sas7bdat", "fixture_x86.sas7bdat").foreach { f =>
      val paged = Sas.records(
          Sas.readPaged(spark, s"$dir/$f", partitions = 3),
          Seq(("id", true), ("score", true), ("name", false)))
        .orderBy("row").select($"id", $"score", $"name")
        .as[(Double, Option[Double], String)].collect()
      assert(paged.toSeq === expected, f)
    }
  }

  test("paged reader splits a multi-page file across partitions exactly") {
    val cols = Seq(("k", true), ("txt", false))
    val n = 5000
    val data = (0 until n).map(i =>
      Seq(i.toDouble, s"v${i % 13}"): Seq[Any])
    val tmp = java.nio.file.Files.createTempFile("graft_paged_", ".sas7bdat")
    java.nio.file.Files.write(tmp, Sas.dumps(cols, data))
    val cells = Sas.readPaged(spark, tmp.toString, partitions = 7)
    // ceil-split: 15 pages over 7 requested parts → 5 ranges of ≤3
    assert(cells.rdd.getNumPartitions > 1)
    val wide = Sas.records(cells, cols)
      .orderBy("row").select($"k", $"txt")
      .as[(Double, String)].collect()
    assert(wide.length === n)
    wide.zipWithIndex.foreach { case ((k, txt), i) =>
      assert(k === i.toDouble)
      assert(txt === s"v${i % 13}")
    }
    // row ids are DENSE 0..N−1, identical to readSas's: paged and
    // whole cells join BY ID
    val pagedIds = cells.select($"row").distinct().as[Long]
      .collect().sorted
    assert(pagedIds.toSeq === (0L until n.toLong))
    java.nio.file.Files.delete(tmp)
  }

  test("readSasPagedAll unions per-file paged scans over a directory") {
    val cols = Seq(("k", true), ("txt", false))
    val tmp = java.nio.file.Files.createTempDirectory("graft_paged_all")
    Seq(0, 1).foreach { f =>
      val data = (0 until 1000).map(i =>
        Seq((f * 1000 + i).toDouble, s"v${i % 7}"): Seq[Any])
      java.nio.file.Files.write(tmp.resolve(s"part_$f.sas7bdat"),
        Sas.dumps(cols, data))
    }
    val wide = Sas.records(
        Sas.readPagedAll(spark, tmp.toString, partitions = 3), cols)
      .orderBy("k").select($"k", $"txt")
      .as[(Double, String)].collect()
    assert(wide.length === 2000)
    wide.zipWithIndex.foreach { case ((k, txt), i) =>
      assert(k === i.toDouble)
      assert(txt === s"v${i % 1000 % 7}")
    }
    tmp.toFile.listFiles.foreach(_.delete())
    java.nio.file.Files.delete(tmp)
  }

  test("IO.exportData round-trips .sas7bdat; non-scalar types refuse") {
    val tmp = java.nio.file.Files
      .createTempFile("graft_sas_export_", ".sas7bdat")
    val src = spark.range(50).selectExpr("CAST(id AS DOUBLE) AS k",
      "CAST(id % 2 = 0 AS BOOLEAN) AS flag",
      "'v' || CAST(id AS STRING) AS txt")
    graft.io.IO.exportData(src, tmp.toString)
    val back = graft.io.IO.readData(spark, tmp.toString)
      .orderBy("row").select($"k", $"flag", $"txt")
      .as[(Double, Double, String)].collect()
    assert(back.length === 50)
    back.zipWithIndex.foreach { case ((k, flag, txt), i) =>
      assert(k === i.toDouble)
      assert(flag === (if (i % 2 == 0) 1.0 else 0.0)) // bool widens
      assert(txt === s"v$i")
    }
    java.nio.file.Files.delete(tmp)
    val bad = spark.range(3).selectExpr("array(id) AS a")
    val e = intercept[IllegalArgumentException] {
      graft.io.IO.exportData(bad, "/tmp/never_written.sas7bdat")
    }
    assert(e.getMessage.contains("cast or stringify"))
  }

  // ---------------------------------------------------------------
  // RLE ("SASYZCRL") compression — round 16
  // ---------------------------------------------------------------

  /** The RLE fixture's intended frame (tools/make_sas_fixture.py
    * RLE_ROWS): row 13 is the incompressible raw-fallback row; i%6==0
    * rows carry a 24-zero run (long zero fill); i%5∈{0,1} rows carry
    * 90-char repeat / high-entropy blobs. */
  private def expectedRle: Seq[(Double, Option[Double], Option[Double],
      Option[Double], String, Option[String])] =
    (0 until 60).map { i =>
      if (i == 13)
        (13.137137137, Some(13.731731731), Some(31.137137137),
          Some(1013.7731137),
          (0 until 90).map(j => (65 + (j * 11) % 26).toChar).mkString,
          Some((0 until 16).map(j => (97 + (j * 7) % 26).toChar).mkString))
      else
        (i.toDouble,
          Some(if (i % 6 == 0) 0.0 else i * 1.5 + 0.125),
          Some(if (i % 6 == 0) 0.0 else i * 2.5 + 0.125),
          if (i % 7 == 3) None
          else Some(math.rint((i * 0.25 - 2.0) * 1e6) / 1e6),
          if (i % 5 == 0) "z" * 90
          else if (i % 5 == 1)
            (0 until 90).map(j => (65 + (i * 7 + j * 11) % 26).toChar).mkString
          else s"w$i",
          if (i % 12 == 0) None else Some("x" * (i % 12)))
    }

  test("RLE fixture (pandas-validated compressed subheader rows) decodes") {
    val wide = Sas.readRecords(spark, s"$dir/fixture_rle.sas7bdat")
      .orderBy("row")
      .select($"id", $"z1", $"z2", $"score", $"blob", $"tag")
      .as[(Double, Option[Double], Option[Double], Option[Double],
        String, Option[String])].collect()
    assert(wide.toSeq === expectedRle)
  }

  test("golden_rle.csv (the pandas-read dump) agrees row for row") {
    val golden = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/golden_rle.csv")
      .orderBy("id").select($"id", $"blob")
      .as[(Double, String)].collect()
    val ours = Sas.readRecords(spark, s"$dir/fixture_rle.sas7bdat")
      .orderBy("id").select($"id", $"blob")
      .as[(Double, String)].collect()
    assert(ours.toSeq === golden.toSeq)
  }

  test("RLE writer round-trips; paged scan matches the whole-file read") {
    val cols = Seq(("k", true), ("pad", false), ("txt", false))
    val n = 4000
    val data = (0 until n).map { i =>
      Seq(i.toDouble,
        if (i % 3 == 0) null else "y" * (i % 120), // null → 120 spaces
        s"v${i % 13}"): Seq[Any]
    }
    val blob = Sas.dumps(cols, data, rle = true)
    val plain = Sas.dumps(cols, data)
    // compression must actually bite vs the uncompressed layout (the
    // floor is the per-row 24-byte subheader pointer, which real SAS
    // pays too)
    assert(blob.length * 2 < plain.length,
      s"RLE ${blob.length} vs plain ${plain.length} bytes")
    val whole = Sas.records(
        Sas.readBlobs(spark, Seq(("t.sas7bdat", blob))), cols)
      .orderBy("row").select($"k", $"pad", $"txt")
      .as[(Double, Option[String], String)].collect()
    assert(whole.length === n)
    whole.zipWithIndex.foreach { case ((k, pad, txt), i) =>
      assert(k === i.toDouble)
      assert(pad === (if (i % 3 == 0 || i % 120 == 0) None
        else Some("y" * (i % 120))))
      assert(txt === s"v${i % 13}")
    }
    // paged == whole on the SAME rle bytes (rows are page-local, so
    // the page-range scan survives compression)
    val tmp = java.nio.file.Files.createTempFile("graft_rle_", ".sas7bdat")
    java.nio.file.Files.write(tmp, blob)
    val meta = Sas.parseMeta(blob)
    assert(meta.rle && meta.pageCount > 2, "multi-page rle expected")
    val pagedCells = Sas.readPaged(spark, tmp.toString, partitions = 5)
    val paged = Sas.records(pagedCells, cols)
      .orderBy("row").select($"k", $"pad", $"txt")
      .as[(Double, Option[String], String)].collect()
    assert(paged.toSeq === whole.toSeq)
    // dense ids hold on COMPRESSED pages too (per-page counts come
    // from the pointer walk, not the stride)
    val ids = pagedCells.select($"row").distinct().as[Long].collect().sorted
    assert(ids.toSeq === (0L until whole.length.toLong))
    java.nio.file.Files.delete(tmp)
  }

  test("RDC fixture (pandas-validated compressed subheader rows) decodes " +
      "to the same frame as the RLE fixture") {
    val wide = Sas.readRecords(spark, s"$dir/fixture_rdc.sas7bdat")
      .orderBy("row")
      .select($"id", $"z1", $"z2", $"score", $"blob", $"tag")
      .as[(Double, Option[Double], Option[Double], Option[Double],
        String, Option[String])].collect()
    assert(wide.toSeq === expectedRle)
  }

  test("RDC writer round-trips; paged scan matches the whole-file read") {
    val cols = Seq(("k", true), ("pad", false), ("txt", false))
    val n = 3000
    val data = (0 until n).map { i =>
      Seq(i.toDouble,
        if (i % 3 == 0) null else "y" * (i % 110),
        s"v${i % 13}"): Seq[Any]
    }
    val blob = Sas.dumps(cols, data, rdc = true)
    val plain = Sas.dumps(cols, data)
    assert(blob.length * 2 < plain.length,
      s"RDC ${blob.length} vs plain ${plain.length} bytes")
    val meta = Sas.parseMeta(blob)
    assert(meta.compression === Sas.CompRdc && meta.pageCount > 2)
    val whole = Sas.records(
        Sas.readBlobs(spark, Seq(("t.sas7bdat", blob))), cols)
      .orderBy("row").select($"k", $"pad", $"txt")
      .as[(Double, Option[String], String)].collect()
    assert(whole.length === n)
    whole.zipWithIndex.foreach { case ((k, pad, txt), i) =>
      assert(k === i.toDouble)
      assert(pad === (if (i % 3 == 0 || i % 110 == 0) None
        else Some("y" * (i % 110))))
      assert(txt === s"v${i % 13}")
    }
    val tmp = java.nio.file.Files.createTempFile("graft_rdc_", ".sas7bdat")
    java.nio.file.Files.write(tmp, blob)
    val paged = Sas.records(
        Sas.readPaged(spark, tmp.toString, partitions = 5), cols)
      .orderBy("row").select($"k", $"pad", $"txt")
      .as[(Double, Option[String], String)].collect()
    assert(paged.toSeq === whole.toSeq)
    java.nio.file.Files.delete(tmp)
  }

  test("rdcCompress/rdcDecompress round-trip every byte pattern class; " +
      "copy commands decode (pandas-probed semantics)") {
    val rnd = new scala.util.Random(1637)
    val rows = Seq(
      Array.fill[Byte](200)(0),
      Array.fill[Byte](200)('q'.toByte),
      Array.tabulate[Byte](200)(i => (i % 251).toByte),
      Array.tabulate[Byte](5000)(i => if (i < 4300) ' '.toByte
        else (i % 97).toByte),
      Array.fill[Byte](1)('z'.toByte),
      Array.tabulate[Byte](300)(_ => rnd.nextInt(256).toByte))
    rows.foreach { r =>
      val c = Sas.rdcCompress(r)
      val back = Sas.rdcDecompress(c, 0, c.length, r.length)
      assert(back.toSeq === r.toSeq, s"len ${r.length}")
    }
    // hand-built streams with the COPY commands the writer never
    // emits, bytes matching the pandas probes exactly:
    // 5 literals ABCDE then short-copy 15 at ofs 5
    val sp = Array(0x04, 0x00, 'A', 'B', 'C', 'D', 'E', 0xF2, 0x00)
      .map(_.toByte)
    assert(new String(Sas.rdcDecompress(sp, 0, sp.length, 20)) ===
      "ABCDEABCDEABCDEABCDE")
    // 4 literals ABCD then long-copy len 18 at ofs 4 (overlap wrap)
    val lp = Array(0x0F, 0x80, 'A', 'B', 'C', 'D', 0x21, 0x00, 0x02)
      .map(_.toByte)
    assert(new String(Sas.rdcDecompress(lp, 0, lp.length, 22)) ===
      "ABCDABCDABCDABCDABCDAB")
  }

  test("rleCompress/rleDecompress round-trip every byte pattern class") {
    val rnd = new scala.util.Random(421)
    val rows = Seq(
      Array.fill[Byte](200)(0),
      Array.fill[Byte](200)(' '.toByte),
      Array.fill[Byte](200)('q'.toByte),
      Array.tabulate[Byte](200)(i => (i % 251).toByte),
      Array.tabulate[Byte](5000)(i => if (i < 4300) 0 else (i % 97).toByte),
      Array.fill[Byte](1)('z'.toByte),
      Array.tabulate[Byte](300)(_ => rnd.nextInt(256).toByte))
    rows.foreach { r =>
      val c = Sas.rleCompress(r)
      val back = Sas.rleDecompress(c, 0, c.length, r.length)
      assert(back.toSeq === r.toSeq, s"len ${r.length}")
    }
  }
}
