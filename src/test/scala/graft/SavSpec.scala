package graft

import graft.io.Sav

/** SPSS .sav ingest against fixtures assembled field-by-field from the
  * PSPP "System File Format" spec by tools/make_sav_fixture.py — a
  * second implementation kept deliberately separate from the Scala
  * reader/writer (no independent .sav library exists in this sandbox,
  * unlike sas7bdat's pandas anchor; that honesty note lives in the
  * [[graft.io.Sav]] scaladoc). Both the uncompressed and the
  * bytecode-compressed layouts decode to the same golden frame, and
  * the refusal cases pin the documented subset. */
class SavSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/sav"

  private def bytes(f: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))

  /** tools/make_sav_fixture.py ROWS: id numeric, name string(10) with
    * row 12 blank (null), score numeric with row 5 sysmis. */
  private def expected: Seq[(Double, Option[String], Option[Double])] =
    (0 until 20).map { i =>
      (i.toDouble,
        if (i == 12) None else Some(s"w${i % 4}_$i"),
        if (i == 5) None else Some(i * 0.75 - 2.0))
    }

  private def check(file: String): Unit = {
    val wide = Sav.readRecords(spark, s"$dir/$file")
      .orderBy("row").select($"id", $"name", $"score")
      .as[(Double, Option[String], Option[Double])].collect()
    assert(wide.toSeq === expected)
  }

  test("uncompressed fixture decodes: continuations, sysmis, labels, docs") {
    check("fixture_plain.sav")
  }

  test("bytecode fixture decodes identically (all five command classes)") {
    check("fixture_bytecode.sav")
  }

  test("zsav fixture decodes identically (two-block zlib table)") {
    // the spec-driven builder splits the bytecode stream MID-STREAM
    // across two zlib blocks: a reader that mishandles block
    // boundaries decodes garbage rows, not a clean error
    check("fixture_zlib.zsav")
  }

  test("zsav writer round-trips through the JDK Inflater path") {
    val cols = Seq(("id", true), ("grp", false), ("score", true),
      ("note", false))
    val n = 400
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble, s"g${i % 3}",
        if (i % 4 == 0) null else i * 0.5 - 3.0,
        if (i % 5 == 0) null else s"note_${i}_" + ("p" * (i % 21)))
    }
    val blob = Sav.dumps(cols, data, zsav = true)
    assert(new String(blob, 0, 4,
      java.nio.charset.StandardCharsets.US_ASCII) === "$FL3")
    // zlib must actually shrink the bytecode stream
    val plainLen = Sav.dumps(cols, data, bytecode = true).length
    assert(blob.length < plainLen,
      s"zsav $blob.length vs bytecode $plainLen")
    val wide = Sav.records(
        Sav.readBlobs(spark, Seq(("t.zsav", blob))), cols)
      .orderBy("row").select($"id", $"grp", $"score", $"note")
      .as[(Double, String, Option[Double], Option[String])].collect()
    assert(wide.length === n)
    wide.zipWithIndex.foreach { case ((id, grp, score, note), i) =>
      assert(id === i.toDouble)
      assert(grp === s"g${i % 3}")
      assert(score === (if (i % 4 == 0) None else Some(i * 0.5 - 3.0)))
      assert(note === (if (i % 5 == 0) None
        else Some(s"note_${i}_" + ("p" * (i % 21)))))
    }
  }

  test("very long strings (info 14) fold across 252-byte segments") {
    // tools/make_sav_fixture.py VLS_ROWS: id f8 + one 600-wide text in
    // three segments (255/255/96 declared, 252/252/96 real)
    val wide = Sav.readRecords(spark, s"$dir/fixture_vls.sav")
      .orderBy("row").select($"id", $"txt")
      .as[(Double, Option[String])].collect()
    assert(wide.length === 12)
    wide.zipWithIndex.foreach { case ((id, txt), i) =>
      assert(id === i.toDouble)
      val expect =
        if (i == 4) None
        else Some(s"doc$i:" + (0 until (i * 83) % 592)
          .map(j => (97 + (i * 7 + j) % 26).toChar).mkString)
      assert(txt === expect, s"row $i")
    }
  }

  test("VLS writer round-trips through plain, bytecode AND zsav codecs") {
    val cols = Seq(("k", true), ("doc", false), ("tag", false))
    val n = 40
    def docOf(i: Int): String =
      if (i % 7 == 2) "short"
      else s"D$i|" + ("abcdefghij" * 80).take(300 + (i * 61) % 400)
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble, if (i % 9 == 5) null else docOf(i), s"t${i % 4}")
    }
    Seq(("plain", Sav.dumps(cols, data)),
        ("bytecode", Sav.dumps(cols, data, bytecode = true)),
        ("zsav", Sav.dumps(cols, data, zsav = true))).foreach {
      case (label, blob) =>
        val wide = Sav.records(
            Sav.readBlobs(spark, Seq(("t.sav", blob))), cols)
          .orderBy("row").select($"k", $"doc", $"tag")
          .as[(Double, Option[String], String)].collect()
        assert(wide.length === n, label)
        wide.zipWithIndex.foreach { case ((k, doc, tag), i) =>
          assert(k === i.toDouble, label)
          assert(doc === (if (i % 9 == 5) None else Some(docOf(i))),
            s"$label row $i")
          assert(tag === s"t${i % 4}", label)
        }
    }
  }

  test("zsav block-parallel scan (ztrailer re-sync) matches the " +
      "whole-file read across many block boundaries, with dense ids") {
    // numeric + biasable ints + strings + nulls: all five command
    // classes, and a 64-byte block size so command blocks, their raw
    // runs, and whole cases straddle zlib-block boundaries constantly
    val cols = Seq(("k", true), ("small", true), ("txt", false),
      ("score", true))
    val n = 700
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble,
        if (i % 6 == 1) null else (i % 90).toDouble, // biasable range
        if (i % 5 == 0) null else s"v$i" + ("x" * (i % 17)),
        if (i % 4 == 2) null else i * 0.25 - 3.0)
    }
    Seq(64, 256, 4096).foreach { bs =>
      val blob = Sav.dumps(cols, data, zsav = true, zsavBlockSize = bs)
      val tmp = java.nio.file.Files.createTempFile("graft_zsav_", ".zsav")
      java.nio.file.Files.write(tmp, blob)
      val paged = Sav.records(
          Sav.readPaged(spark, tmp.toString, partitions = 5), cols)
        .orderBy("row").select($"row", $"k", $"small", $"txt", $"score")
        .as[(Long, Double, Option[Double], Option[String], Option[Double])]
        .collect()
      assert(paged.length === n, s"bs=$bs")
      paged.zipWithIndex.foreach { case ((rowId, k, small, txt, score), i) =>
        assert(rowId === i.toLong, s"bs=$bs dense ids")
        assert(k === i.toDouble, s"bs=$bs")
        assert(small === (if (i % 6 == 1) None else Some((i % 90).toDouble)),
          s"bs=$bs $i")
        assert(txt === (if (i % 5 == 0) None
          else Some(s"v$i" + ("x" * (i % 17)))), s"bs=$bs $i")
        assert(score === (if (i % 4 == 2) None else Some(i * 0.25 - 3.0)),
          s"bs=$bs $i")
      }
      java.nio.file.Files.delete(tmp)
    }
  }

  test("zsav paged scan: VLS cases spanning several tiny blocks " +
      "decode identically to the whole-file read") {
    val cols = Seq(("k", true), ("doc", false), ("tag", false))
    val n = 25
    def docOf(i: Int): String =
      if (i % 7 == 2) "short"
      else s"D$i|" + ("abcdefghij" * 80).take(300 + (i * 61) % 400)
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble, if (i % 9 == 5) null else docOf(i), s"t${i % 4}")
    }
    // 64-byte blocks: one VLS case (≥ 700 B wide) spans 10+ blocks,
    // so the straddle continuation pulls multiple tail blocks
    val blob = Sav.dumps(cols, data, zsav = true, zsavBlockSize = 64)
    val tmp = java.nio.file.Files.createTempFile("graft_zsav_vls_", ".zsav")
    java.nio.file.Files.write(tmp, blob)
    val paged = Sav.records(
        Sav.readPaged(spark, tmp.toString, partitions = 6), cols)
      .orderBy("row").select($"k", $"doc", $"tag")
      .as[(Double, Option[String], String)].collect()
    assert(paged.length === n)
    paged.zipWithIndex.foreach { case ((k, doc, tag), i) =>
      assert(k === i.toDouble)
      assert(doc === (if (i % 9 == 5) None else Some(docOf(i))), s"row $i")
      assert(tag === s"t${i % 4}")
    }
    java.nio.file.Files.delete(tmp)
  }

  test("zsav paged scan refuses non-8-aligned block sizes loudly") {
    val cols = Seq(("k", true), ("txt", false))
    val data = (0 until 200).map(i => Seq[Any](i.toDouble, s"w$i"))
    val blob = Sav.dumps(cols, data, zsav = true, zsavBlockSize = 128)
    val meta = Sav.parseMeta(blob)
    // locate the ztrailer via the zheader and mis-align the FIRST
    // block's uncompressed_size (trailer-only patch: the refusal must
    // fire on the table, before any inflation)
    def i8(b: Array[Byte], at: Int): Long = {
      var v = 0L; var i = 7
      while (i >= 0) { v = (v << 8) | (b(at + i) & 0xffL); i -= 1 }
      v
    }
    val broken = blob.clone()
    val trailerAt = i8(broken, meta.dataAt + 8).toInt
    val usizeAt = trailerAt + 24 + 16 // first block's uncompressed_size
    broken(usizeAt) = (broken(usizeAt) + 4).toByte
    val tmp = java.nio.file.Files.createTempFile("graft_zsav_bad_", ".zsav")
    java.nio.file.Files.write(tmp, broken)
    val e = intercept[Exception] {
      Sav.readPaged(spark, tmp.toString).count()
    }
    assert(e.getMessage.contains("multiple of 8"))
    java.nio.file.Files.delete(tmp)
  }

  test("corrupt zsav block tables refuse loudly, never decode garbage") {
    val good = bytes("fixture_zlib.zsav")
    val meta = Sav.parseMeta(good)
    // ztrailer_len is the third i64 of the zheader — misdeclare it
    val broken = good.clone()
    broken(meta.dataAt + 16) = 7
    val e = intercept[IllegalArgumentException] {
      Sav.rows(broken, meta).toSeq
    }
    assert(e.getMessage.contains("zsav"))
    // and a zheader whose self-offset disagrees with its position
    val broken2 = good.clone()
    broken2(meta.dataAt) = (broken2(meta.dataAt) + 1).toByte
    val e2 = intercept[IllegalArgumentException] {
      Sav.rows(broken2, meta).toSeq
    }
    assert(e2.getMessage.contains("zheader"))
  }

  test("long names from info-13 win; tall cells carry types") {
    val tall = Sav.read(spark, s"$dir/fixture_plain.sav")
    assert(tall.count() === 60L)
    val types = tall.select("key", "vtype").distinct()
      .as[(String, String)].collect().toMap
    assert(types === Map("id" -> "num", "name" -> "str", "score" -> "num"))
    val missing = tall
      .filter($"key" === "score" && $"value_double".isNull)
      .select($"row").as[Long].collect()
    assert(missing.toSeq === Seq(5L))
  }

  test("writer round-trips, uncompressed and bytecode, multi-element strings") {
    val cols = Seq(("k", true), ("txt", false), ("v", true))
    val data = (0 until 300).map { i =>
      Seq(i.toDouble,
        if (i % 5 == 0) null else s"some_longer_string_$i", // > 8 bytes
        if (i % 7 == 0) null else (i * 1.25 - 10.0)): Seq[Any]
    }
    Seq(false, true).foreach { bc =>
      val blob = Sav.dumps(cols, data, bytecode = bc)
      val wide = Sav.records(
          Sav.readBlobs(spark, Seq(("t.sav", blob))), cols)
        .orderBy("row")
        .select($"k", $"txt", $"v")
        .as[(Double, Option[String], Option[Double])].collect()
      assert(wide.length === 300, s"bytecode=$bc")
      wide.zipWithIndex.foreach { case ((k, txt, v), i) =>
        assert(k === i.toDouble)
        assert(txt === (if (i % 5 == 0) None
          else Some(s"some_longer_string_$i")))
        assert(v === (if (i % 7 == 0) None else Some(i * 1.25 - 10.0)))
      }
    }
  }

  test("bytecode biased integers actually compress (fewer raw bytes)") {
    val cols = Seq(("n", true))
    val data = (0 until 100).map(i => Seq[Any]((i % 50).toDouble))
    val plain = Sav.dumps(cols, data, bytecode = false)
    val packed = Sav.dumps(cols, data, bytecode = true)
    // 100 biased one-byte commands vs 100 8-byte elements
    assert(packed.length < plain.length - 500)
  }

  test("magic/compression mismatches, big-endian and junk refuse loudly") {
    // zsav is SUPPORTED since round 16 — but only as the consistent
    // ($FL3, compression 2) pair; each half alone refuses
    val zsav = bytes("fixture_plain.sav").clone()
    "$FL3".getBytes.copyToArray(zsav, 0)
    val e1 = intercept[IllegalArgumentException] { Sav.parseMeta(zsav) }
    assert(e1.getMessage.contains("zsav must be 2"))

    val z2 = bytes("fixture_plain.sav").clone()
    z2(72) = 2 // compression code field
    val e2 = intercept[IllegalArgumentException] { Sav.parseMeta(z2) }
    assert(e2.getMessage.contains("zlib"))

    val be = bytes("fixture_plain.sav").clone()
    // byte-swap the layout code: 02 00 00 00 -> 00 00 00 02
    be(64) = 0; be(67) = 2
    val e3 = intercept[IllegalArgumentException] { Sav.parseMeta(be) }
    assert(e3.getMessage.contains("big-endian"))

    intercept[IllegalArgumentException] {
      Sav.parseMeta(Array.fill[Byte](300)(0x41))
    }
  }

  test("IO.readData dispatches .sav") {
    val df = graft.io.IO.readData(spark, s"$dir/fixture_plain.sav")
    assert(df.count() === 20L)
    assert(df.columns.sorted.toSeq === Seq("id", "name", "row",
      "score", "src_file"))
  }

  test("paged reader matches whole-file; bytecode refuses the split") {
    val paged = Sav.records(
        Sav.readPaged(spark, s"$dir/fixture_plain.sav", partitions = 4),
        Seq(("id", true), ("name", false), ("score", true)))
      .orderBy("row").select($"id", $"name", $"score")
      .as[(Double, Option[String], Option[Double])].collect()
    assert(paged.toSeq === expected)
    val e = intercept[IllegalArgumentException] {
      Sav.readPaged(spark, s"$dir/fixture_bytecode.sav")
    }
    assert(e.getMessage.contains("paged scan needs uncompressed"))
  }

  test("IO.exportData round-trips .sav (bytecode) and .zsav incl. nulls") {
    Seq(".sav", ".zsav").foreach { suffix =>
      val tmp = java.nio.file.Files
        .createTempFile("graft_sav_export_", suffix)
      val src = spark.range(40).selectExpr(
        "CAST(id AS DOUBLE) AS k",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id AS DOUBLE) / 4 END AS v",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE 'v' || CAST(id AS STRING) END AS txt")
      graft.io.IO.exportData(src, tmp.toString)
      val back = graft.io.IO.readData(spark, tmp.toString)
        .orderBy("row").select($"k", $"v", $"txt")
        .as[(Double, Option[Double], Option[String])].collect()
      assert(back.length === 40, suffix)
      back.zipWithIndex.foreach { case ((k, v, txt), i) =>
        assert(k === i.toDouble)
        assert(v === (if (i % 3 == 0) None else Some(i / 4.0)))
        assert(txt === (if (i % 5 == 0) None else Some(s"v$i")))
      }
      java.nio.file.Files.delete(tmp)
    }
  }
}
