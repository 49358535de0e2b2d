package graft

import graft.io.Dta
import org.apache.spark.sql.functions.decode

/** Stata .dta ingest against GOLDEN fixtures written by
  * pandas.to_stata — the real producer — in formats 114, 117 and 118
  * (tools/make_dta_fixture.py validates each with pandas.read_stata
  * before check-in). Every numeric type, every release's header
  * layout, missing classes, and the documented refusals. */
class DtaSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/dta"

  private def bytes(f: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))

  /** tools/make_dta_fixture.py frame(): b Int8 (null@3), i Int16
    * (null@7), l Int32 (null@11), f float32 (nan@15), d float64
    * (nan@19), s string (empty@5 -> null). */
  private def expected: Seq[(Option[Double], Option[Double], Option[Double],
      Option[Double], Option[Double], Option[String])] =
    (0 until 25).map { i =>
      (if (i == 3) None else Some(((i % 100) - 20).toDouble),
        if (i == 7) None else Some((i * 300 - 2000).toDouble),
        if (i == 11) None else Some((i * 100000 - 60000).toDouble),
        if (i == 15) None else Some((i * 0.25f - 1.5f).toDouble),
        if (i == 19) None else Some(i * 0.125 - 2.0),
        if (i == 5) None else Some(s"str_${i % 7}_$i"))
    }

  private def check(file: String): Unit = {
    val wide = Dta.readRecords(spark, s"$dir/$file")
      .orderBy("row").select($"b", $"i", $"l", $"f", $"d", $"s")
      .as[(Option[Double], Option[Double], Option[Double], Option[Double],
        Option[Double], Option[String])].collect()
    assert(wide.toSeq === expected)
  }

  test("release 114 (classic header) matches the pandas golden") {
    check("fixture_114.dta")
  }

  test("release 117 (tagged, 33-byte names) matches the pandas golden") {
    check("fixture_117.dta")
  }

  test("release 118 (tagged, UTF-8) matches the pandas golden") {
    check("fixture_118.dta")
  }

  test("tall cells carry per-column types; every missing class is null") {
    val tall = Dta.read(spark, s"$dir/fixture_118.dta")
    assert(tall.count() === 150L)
    val types = tall.select("key", "vtype").distinct()
      .as[(String, String)].collect().toMap
    assert(types === Map("b" -> "num", "i" -> "num", "l" -> "num",
      "f" -> "num", "d" -> "num", "s" -> "str"))
    val missing = tall.filter($"value_str".isNull && $"value_double".isNull)
      .select("key", "row").as[(String, Long)].collect().toSet
    assert(missing === Set(("b", 3L), ("i", 7L), ("l", 11L), ("f", 15L),
      ("d", 19L), ("s", 5L)))
  }

  test("writer round-trips through the parser and the blob reader") {
    val cols = Seq(("k", true), ("txt", false), ("v", true))
    val data = (0 until 200).map { i =>
      Seq(i.toDouble,
        if (i % 5 == 0) null else s"dta_value_$i",
        if (i % 7 == 0) null else (i * 1.25 - 10.0)): Seq[Any]
    }
    val blob = Dta.dumps(cols, data)
    val wide = Dta.records(
        Dta.readBlobs(spark, Seq(("t.dta", blob))), cols)
      .orderBy("row").select($"k", $"txt", $"v")
      .as[(Double, Option[String], Option[Double])].collect()
    assert(wide.length === 200)
    wide.zipWithIndex.foreach { case ((k, txt, v), i) =>
      assert(k === i.toDouble)
      assert(txt === (if (i % 5 == 0) None else Some(s"dta_value_$i")))
      assert(v === (if (i % 7 == 0) None else Some(i * 1.25 - 10.0)))
    }
  }

  test("release 113 (Stata 8 classic, 12-byte formats) round-trips " +
      "through dumps113 and the paged scan; pre-113 still refuses") {
    val cols = Seq(("k", true), ("txt", false), ("v", true))
    val data = (0 until 200).map { i =>
      Seq(i.toDouble,
        if (i % 5 == 0) null else s"dta_value_$i",
        if (i % 7 == 0) null else (i * 1.25 - 10.0)): Seq[Any]
    }
    val blob = Dta.dumps113(cols, data)
    assert(blob(0) === 113.toByte)
    def check(rows: Seq[(Double, Option[String], Option[Double])]): Unit = {
      assert(rows.length === 200)
      rows.zipWithIndex.foreach { case ((k, txt, v), i) =>
        assert(k === i.toDouble)
        assert(txt === (if (i % 5 == 0) None else Some(s"dta_value_$i")))
        assert(v === (if (i % 7 == 0) None else Some(i * 1.25 - 10.0)))
      }
    }
    check(Dta.records(Dta.readBlobs(spark, Seq(("t.dta", blob))), cols)
      .orderBy("row").select($"k", $"txt", $"v")
      .as[(Double, Option[String], Option[Double])].collect().toSeq)
    val tmp = java.nio.file.Files.createTempFile("graft_dta113_", ".dta")
    java.nio.file.Files.write(tmp, blob)
    check(Dta.records(Dta.readPaged(spark, tmp.toString, partitions = 4),
        cols)
      .orderBy("row").select($"k", $"txt", $"v")
      .as[(Double, Option[String], Option[Double])].collect().toSeq)
    java.nio.file.Files.delete(tmp)
    // the ONLY ladder change is the 12-byte formats: a release-112
    // byte on the same bytes refuses (old typlist/missing conventions)
    val old113 = blob.clone(); old113(0) = 112
    val e = intercept[IllegalArgumentException] { Dta.parseMeta(old113) }
    assert(e.getMessage.contains("before 113"))
    // keep the bytes for the pandas cross-validation step
    // (tools/make_dta_fixture.py check-113 — the check-in gate)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "scala_dta113_check.dta"), blob)
  }

  test("paged reader matches whole-file on classic and tagged releases") {
    Seq("fixture_114.dta", "fixture_118.dta").foreach { f =>
      val paged = Dta.records(
          Dta.readPaged(spark, s"$dir/$f", partitions = 4),
          Seq(("b", true), ("i", true), ("l", true), ("f", true),
            ("d", true), ("s", false)))
        .orderBy("row").select($"b", $"i", $"l", $"f", $"d", $"s")
        .as[(Option[Double], Option[Double], Option[Double], Option[Double],
          Option[Double], Option[String])].collect()
      assert(paged.toSeq === expected, f)
    }
  }

  test("paged reader splits strL files: refs resolve via the GSO " +
      "equi-join, matching the pandas-written fixture") {
    // the same pandas convert_strl fixture the whole-file test pins —
    // BOTH paged resolve paths (driver-broadcast inline, and the
    // forced equi-join via gsoInlineBytes = 0) must land on the
    // identical records
    for (f <- Seq("fixture_strl.dta", "fixture_strl_117.dta");
         inlineBytes <- Seq(64L << 20, 0L)) {
      val paged = Dta.records(
          Dta.readPaged(spark, s"$dir/$f", partitions = 4,
            gsoInlineBytes = inlineBytes),
          Seq(("k", true), ("s", false), ("w", false)))
        .orderBy("row").select($"k", $"s", $"w")
        .as[(Double, Option[String], String)].collect()
      assert(paged.length === 24, (f, inlineBytes))
      paged.zipWithIndex.foreach { case ((k, s, w), i) =>
        assert(k === i.toDouble, (f, inlineBytes))
        assert(s === (if (i % 6 == 0) None
          else Some(s"strl_${i}_" + ("q" * (i * 7 % 120)))), (f, inlineBytes))
        assert(w === s"fix$i", (f, inlineBytes))
      }
    }
    // multi-range split on a bigger Scala-written strL file: row ids
    // stay the true indexes and every ref resolves
    val cols = Seq(("id", true), ("txt", false))
    val n = 4000
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble,
        if (i % 7 == 0) null else s"t$i" + ("x" * (i % 83)))
    }
    val tmp = java.nio.file.Files.createTempFile("graft_strl_", ".dta")
    java.nio.file.Files.write(tmp, Dta.dumps(cols, data, strl = true))
    Seq(64L << 20, 0L).foreach { inlineBytes =>
      val cells = Dta.readPaged(spark, tmp.toString, partitions = 6,
        gsoInlineBytes = inlineBytes)
      // the post-join plan may AQE-coalesce tiny data to 1 partition;
      // the range-split assertion belongs to the direct scan path
      if (inlineBytes > 0) assert(cells.rdd.getNumPartitions > 1)
      val wide = Dta.records(cells, cols)
        .orderBy("row").select($"id", $"txt")
        .as[(Double, Option[String])].collect()
      assert(wide.length === n, inlineBytes)
      wide.zipWithIndex.foreach { case ((id, txt), i) =>
        assert(id === i.toDouble, inlineBytes)
        assert(txt === (if (i % 7 == 0) None
          else Some(s"t$i" + ("x" * (i % 83)))), inlineBytes)
      }
    }
    java.nio.file.Files.delete(tmp)
  }

  test("typed read keeps binary strL (t=129) as BinaryType; text " +
      "columns stay strings; writer round-trips") {
    val cols = Seq(("id", 'n'), ("tag", 's'), ("payload", 'y'))
    val data = (0 until 200).map { i =>
      Seq[Any](i.toDouble, if (i % 11 == 5) null else s"t${i % 5}",
        if (i % 7 == 3) null
        else Array.tabulate[Byte](i % 40 + 1)(j => ((i + j * 13) % 256).toByte))
    }
    val blob = Dta.dumpsTyped(cols, data)
    assert(Dta.dtaTypedKinds(blob) ===
      Seq(("id", 'n'), ("tag", 's'), ("payload", 'y')))
    val back = Dta.readTypedBlobs(spark, Seq(("t.dta", blob)))
      .orderBy("row").select($"id", $"tag", $"payload")
      .as[(Double, Option[String], Option[Array[Byte]])].collect()
    assert(back.length === 200)
    back.zipWithIndex.foreach { case ((id, tag, payload), i) =>
      assert(id === i.toDouble)
      assert(tag === (if (i % 11 == 5) None else Some(s"t${i % 5}")))
      if (i % 7 == 3) assert(payload === None, s"$i")
      else assert(payload.get.toSeq ===
        (0 until i % 40 + 1).map(j => ((i + j * 13) % 256).toByte), s"$i")
    }
    // the tall-cell path refuses the SAME bytes toward the typed read
    val e = intercept[Exception] {
      Dta.readBlobs(spark, Seq(("t.dta", blob))).collect()
    }
    assert(e.getMessage.contains("Dta.readTyped"))
    // a pure-text strL file reads typed too (all strings)
    val tcols = Seq(("id", true), ("txt", false))
    val tblob = Dta.dumps(tcols,
      (0 until 30).map(i => Seq[Any](i.toDouble, s"v$i")), strl = true)
    val t = Dta.readTypedBlobs(spark, Seq(("x.dta", tblob)))
      .orderBy("row").select($"id", $"txt")
      .as[(Double, String)].collect()
    t.zipWithIndex.foreach { case ((id, txt), i) =>
      assert(id === i.toDouble); assert(txt === s"v$i")
    }
    // keep the bytes around for the pandas cross-validation step
    // (tools/make_dta_fixture.py <dir> <file> — the check-in gate)
    java.nio.file.Files.write(java.nio.file.Paths
      .get("target", "scala_dta_binstrl_check.dta"), blob)
  }

  test("typed PAGED read splits a binary-strL file; broadcast and " +
      "equi-join resolve paths both match the whole-file typed read") {
    val cols = Seq(("id", 'n'), ("tag", 's'), ("payload", 'y'))
    val n = 300
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble, if (i % 11 == 5) null else s"t${i % 5}",
        if (i % 7 == 3) null
        else Array.tabulate[Byte](i % 48 + 1)(j => ((i + j * 13) % 256).toByte))
    }
    val blob = Dta.dumpsTyped(cols, data)
    val tmp = java.nio.file.Files.createTempFile("graft_typed_paged_", ".dta")
    java.nio.file.Files.write(tmp, blob)
    Seq(64L << 20, 0L).foreach { bound =>
      // every strL column lands as BinaryType on the paged typed scan
      // (classification needs a full cell walk); text decodes via SQL
      val paged = Dta.readTypedPaged(spark, tmp.toString,
          partitions = 5, gsoInlineBytes = bound)
        .orderBy("row")
        .select($"row", $"id", decode($"tag", "UTF-8").as("tag"),
          $"payload")
        .as[(Long, Double, Option[String], Option[Array[Byte]])].collect()
      assert(paged.length === n, bound)
      paged.zipWithIndex.foreach { case ((rowId, id, tag, payload), i) =>
        assert(rowId === i.toLong, s"$bound: dense ids")
        assert(id === i.toDouble, bound)
        assert(tag === (if (i % 11 == 5) None else Some(s"t${i % 5}")),
          s"$bound $i")
        if (i % 7 == 3) assert(payload === None, s"$bound $i")
        else assert(payload.get.toSeq ===
          (0 until i % 48 + 1).map(j => ((i + j * 13) % 256).toByte),
          s"$bound $i")
      }
    }
    java.nio.file.Files.delete(tmp)
    // directory variant: both parallelism axes, gsoInlineBytes
    // FORWARDED (0 forces the equi-join path on every shard)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_typed_paged_all")
    java.nio.file.Files.write(dir2.resolve("shard_a.dta"),
      Dta.dumpsTyped(cols, data.take(150)))
    java.nio.file.Files.write(dir2.resolve("shard_b.dta"),
      Dta.dumpsTyped(cols, data.drop(150)))
    val all = Dta.readTypedPagedAll(spark, dir2.toString,
        partitions = 3, gsoInlineBytes = 0L)
      .orderBy("src_file", "row")
      .select($"src_file", $"row", $"id", $"payload")
      .as[(String, Long, Double, Option[Array[Byte]])].collect()
    assert(all.length === n)
    all.foreach { case (f, rowId, id, payload) =>
      val i = (if (f.endsWith("shard_b.dta")) 150 else 0) + rowId.toInt
      assert(id === i.toDouble, s"all $i")
      if (i % 7 == 3) assert(payload === None, s"all $i")
      else assert(payload.get.toSeq ===
        (0 until i % 48 + 1).map(j => ((i + j * 13) % 256).toByte),
        s"all $i")
    }
    dir2.toFile.listFiles.foreach(_.delete())
    java.nio.file.Files.delete(dir2)
  }

  test("strL payloads dedup to one GSO entry; typed routing keys on " +
      "the CELL's column, never the shared ref's v") {
    // b2 reuses b1's payload bytes row-for-row: the writer dedups, so
    // every b2 cell's ref points at an entry whose v names b1 — the
    // exact cross-column sharing real writers (Stata, pandas) produce.
    // The typed read must still hand b2 back as bytes, and the kinds
    // walk must classify b2 binary even though no GSO entry carries
    // its column index.
    val cols = Seq(("id", 'n'), ("b1", 'y'), ("b2", 'y'), ("t1", 's'),
      ("t2", 's'))
    val data = (0 until 60).map { i =>
      val shared = Array.tabulate[Byte](8)(j => ((i % 5) * 7 + j).toByte)
      Seq[Any](i.toDouble, shared, shared.clone(),
        s"v${i % 4}", s"v${i % 4}") // t2 shares t1's text payloads
    }
    val blob = Dta.dumpsTyped(cols, data)
    // 5 distinct binary + 4 distinct text payloads — not 240 entries
    val raw = new String(blob, java.nio.charset.StandardCharsets.ISO_8859_1)
    val gsoCount = raw.sliding(3).count(_ == "GSO")
    assert(gsoCount === 9, s"expected 9 deduped GSO entries, got $gsoCount")
    assert(Dta.dtaTypedKinds(blob) === Seq(("id", 'n'), ("b1", 'y'),
      ("b2", 'y'), ("t1", 's'), ("t2", 's')))
    val back = Dta.readTypedBlobs(spark, Seq(("t.dta", blob)))
      .orderBy("row")
      .select($"id", $"b1", $"b2", $"t1", $"t2")
      .as[(Double, Array[Byte], Array[Byte], String, String)].collect()
    assert(back.length === 60)
    back.zipWithIndex.foreach { case ((id, b1, b2, t1, t2), i) =>
      assert(id === i.toDouble)
      val want = (0 until 8).map(j => ((i % 5) * 7 + j).toByte)
      assert(b1.toSeq === want, s"$i")
      assert(b2.toSeq === want, s"$i")
      assert(t1 === s"v${i % 4}"); assert(t2 === s"v${i % 4}")
    }
    // keep the bytes for the pandas cross-validation (tool mode
    // "shared"): pandas must resolve the shared refs identically
    java.nio.file.Files.write(java.nio.file.Paths
      .get("target", "scala_dta_shared_check.dta"), blob)
  }

  test("property: random typed frames round-trip through dumpsTyped " +
      "(payload dedup on) under the Stata null rules") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val strGen = Gen.frequency(
      5 -> Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('é', '中', '_'))).map(l => ("s" + l.mkString).take(20)),
      1 -> Gen.const(""), // "" writes a (0,0) ref → reads back null
      1 -> Gen.const(null: String))
    val numGen = Gen.frequency(
      6 -> Gen.choose(-1e12, 1e12).map(java.lang.Double.valueOf),
      1 -> Gen.const(java.lang.Double.valueOf(Double.NaN)), // → missing
      1 -> Gen.const(null: java.lang.Double))
    // small byte alphabet so payloads COLLIDE across rows and columns
    // — the dedup + shared-ref routing is exercised, not incidental
    val binGen = Gen.frequency(
      5 -> Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 3).map(_.toByte)).map(_.toArray)),
      1 -> Gen.const(null: Array[Byte]))
    val rowsGen = for {
      n <- Gen.choose(1, 50)
      rows <- Gen.listOfN(n, for {
        a <- numGen; b <- strGen; c <- binGen; d <- binGen
      } yield Seq[Any](a, b, c, d))
    } yield rows
    val cols = Seq(("a", 'n'), ("b", 's'), ("c", 'y'), ("d", 'y'))
    val samples = (0 until 12).flatMap(i =>
      rowsGen(Gen.Parameters.default, Seed(9876L + i)).map(r => (i, r)))
    assert(samples.size >= 10)
    samples.foreach { case (i, rows) =>
      val blob = Dta.dumpsTyped(cols, rows)
      val back = Dta.readTypedBlobs(spark, Seq((s"p$i.dta", blob)))
        .orderBy("row").select($"a", $"b", $"c", $"d")
        .as[(Option[Double], Option[String], Option[Array[Byte]],
          Option[Array[Byte]])].collect()
      assert(back.length === rows.length, s"sample $i")
      back.zip(rows).zipWithIndex.foreach { case (((a, b, c, d), row), r) =>
        row(0) match {
          case null => assert(a === None, s"$i/$r a")
          case x: java.lang.Double if x.isNaN => assert(a === None, s"$i/$r a")
          case x: java.lang.Double =>
            assert(a === Some(x.doubleValue), s"$i/$r a")
        }
        val wb = Option(row(1).asInstanceOf[String]).filter(_.nonEmpty)
        assert(b === wb, s"$i/$r b")
        Seq((row(2), c, "c"), (row(3), d, "d")).foreach { case (w, g, nm) =>
          (Option(w.asInstanceOf[Array[Byte]]), g) match {
            case (None, None) =>
            case (Some(wv), Some(gv)) =>
              assert(gv.toSeq === wv.toSeq, s"$i/$r $nm")
            case other => fail(s"$i/$r $nm: $other")
          }
        }
      }
    }
  }

  test("MSF, pre-114 and junk refuse loudly") {
    val msf = bytes("fixture_118.dta").clone()
    // <byteorder>LSF -> MSF
    val at = new String(msf, "ISO-8859-1").indexOf("LSF")
    msf(at) = 'M'.toByte
    val e1 = intercept[IllegalArgumentException] { Dta.parseMeta(msf) }
    assert(e1.getMessage.contains("big-endian"))

    val old = bytes("fixture_114.dta").clone()
    old(0) = 108 // release 108
    val e2 = intercept[IllegalArgumentException] { Dta.parseMeta(old) }
    assert(e2.getMessage.contains("before 113"))

    intercept[Exception] { Dta.parseMeta(Array.fill[Byte](64)('x')) }
  }

  // ---------------------------------------------------------------
  // strL (type 32768) — round 16
  // ---------------------------------------------------------------

  test("pandas convert_strl fixtures decode (117 u4+u4 / 118 u2+u48 refs)") {
    // tools/make_dta_fixture.py STRL_ROWS: k numeric, s strL with
    // empties (-> (0,0) ref -> null), long and short payloads
    Seq("fixture_strl.dta", "fixture_strl_117.dta").foreach { f =>
      val wide = Dta.readRecords(spark, s"$dir/$f")
        .orderBy("row").select($"k", $"s", $"w")
        .as[(Double, Option[String], String)].collect()
      assert(wide.length === 24, f)
      wide.zipWithIndex.foreach { case ((k, s, w), i) =>
        assert(k === i.toDouble, f)
        assert(s === (if (i % 6 == 0) None
          else Some(s"strl_${i}_" + ("q" * (i * 7 % 120)))), f)
        assert(w === s"fix$i", f)
      }
    }
  }

  test("strL writer round-trips; binary strL refuses") {
    val cols = Seq(("id", true), ("txt", false), ("note", false))
    val n = 300
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble,
        if (i % 5 == 0) null else "t" * (i % 50) + s"#$i",
        s"n${i % 9}")
    }
    val blob = Dta.dumps(cols, data, strl = true)
    val wide = Dta.records(
        Dta.readBlobs(spark, Seq(("t.dta", blob))), cols)
      .orderBy("row").select($"id", $"txt", $"note")
      .as[(Double, Option[String], String)].collect()
    assert(wide.length === n)
    wide.zipWithIndex.foreach { case ((id, txt, note), i) =>
      assert(id === i.toDouble)
      assert(txt === (if (i % 5 == 0) None else Some("t" * (i % 50) + s"#$i")))
      assert(note === s"n${i % 9}")
    }
    // strings past the str# 2045 cap are exactly what strL is FOR
    val big = Seq(Seq[Any](1.0, "z" * 5000, "n"))
    val wideBlob = Dta.dumps(cols, big, strl = true)
    val back = Dta.records(
        Dta.readBlobs(spark, Seq(("big.dta", wideBlob))), cols)
      .select($"txt").as[String].head()
    assert(back === "z" * 5000)
    intercept[IllegalArgumentException] { Dta.dumps(cols, big) } // str# cap

    // flip one GSO's t byte to 129 (binary): loud refusal, not garbage
    val s = new String(blob, "ISO-8859-1")
    val g = s.indexOf("GSO")
    val binary = blob.clone()
    binary(g + 3 + 12) = 129.toByte
    val meta = Dta.parseMeta(binary)
    val e = intercept[IllegalArgumentException] {
      Dta.rows(binary, meta).toSeq
    }
    assert(e.getMessage.contains("binary strL"))
  }

  test("IO.readData and exportData dispatch .dta / .stata") {
    val df = graft.io.IO.readData(spark, s"$dir/fixture_118.dta")
    assert(df.count() === 25L)
    val tmp = java.nio.file.Files.createTempFile("graft_dta_", ".dta")
    val src = spark.range(30).selectExpr("CAST(id AS DOUBLE) AS k",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE 'x' || CAST(id AS STRING) END AS t")
    graft.io.IO.exportData(src, tmp.toString)
    val back = graft.io.IO.readData(spark, tmp.toString)
      .orderBy("row").select($"k", $"t")
      .as[(Double, Option[String])].collect()
    assert(back.length === 30)
    back.zipWithIndex.foreach { case ((k, t), i) =>
      assert(k === i.toDouble)
      assert(t === (if (i % 3 == 0) None else Some(s"x$i")))
    }
    java.nio.file.Files.delete(tmp)
  }
}
