package graft

import graft.io.Feather

/** Feather v2 (Arrow IPC) ingest against GOLDEN fixtures written by
  * pyarrow — the REAL producer — in uncompressed, LZ4_FRAME and ZSTD
  * form (tools/make_feather_fixture.py validates all three before
  * check-in, and reads the Scala writer's plain AND zstd bytes back).
  * The refusal cases pin the documented subset: >2^53 int64s, nested
  * types and bad magic stop loudly, never decode silently wrong. */
class FeatherSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/feather"

  private def bytes(f: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))

  /** tools/make_feather_fixture.py frame(): 40 rows across TWO record
    * batches of 24 + 16. */
  private def expected: Seq[(Option[Double], Option[Double], Option[Double],
      Option[String], Option[String])] =
    (0 until 40).map { i =>
      (if (i % 7 == 2) None else Some((i * 10007 - 90000).toDouble),
        if (i % 6 == 0) None else Some(i * 0.125 - 1.0),
        if (i % 10 == 7) None else Some(if (i % 3 == 0) 1.0 else 0.0),
        if (i % 12 == 2) None
        else if (i % 12 == 6) Some("")
        else Some(s"s${i}_" + "x" * (i % 9)),
        if (i % 14 == 9) None
        else Some(java.time.LocalDate.ofEpochDay(20000L + i * 13L).toString))
    }

  private def check(file: String): Unit = {
    val wide = Feather.readRecords(spark, s"$dir/$file")
      .orderBy("row")
      .select($"i32", $"f64", $"b", $"s", $"d")
      .as[(Option[Double], Option[Double], Option[Double], Option[String],
        Option[String])].collect()
    assert(wide.length === 40, file)
    wide.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g === e, s"$file row $i")
    }
  }

  test("uncompressed pyarrow fixture decodes (two record batches)") {
    check("fixture_unc.feather")
  }

  test("lz4-framed pyarrow fixture decodes identically") {
    check("fixture_lz4.feather")
  }

  test("every int width and f32 decode; nulls land per column") {
    val tall = Feather.read(spark, s"$dir/fixture_unc.feather")
    val byKey = tall.groupBy("key")
      .agg(org.apache.spark.sql.functions.count("value_double").as("n"),
        org.apache.spark.sql.functions.count("value_str").as("ns"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def nonNull(m: Int, r: Int): Long = (0 until 40).count(_ % m != r).toLong
    assert(byKey("i8")._1 === nonNull(11, 3))
    assert(byKey("i16")._1 === nonNull(13, 5))
    assert(byKey("i64")._1 === nonNull(9, 4))
    assert(byKey("f32")._1 === nonNull(8, 1))
    assert(byKey("s")._2 === nonNull(12, 2))
  }

  test("widened types decode: timestamp[us], uint32, large_utf8, date64") {
    val wide = Feather.readRecords(spark, s"$dir/fixture_unc.feather")
      .orderBy("row").select($"ts", $"u32", $"lu", $"d64")
      .as[(Option[String], Option[Double], Option[String], Option[String])]
      .collect()
    assert(wide.length === 40)
    // epoch 1,700,000,000 s = 2023-11-14 22:13:20 UTC — a hand-checked
    // literal anchors the formatter, the rest follow the closed form
    assert(wide(0)._1 === Some("2023-11-14 22:13:20.000000"))
    wide.zipWithIndex.foreach { case ((ts, u32, lu, d64), i) =>
      if (i % 15 == 8) assert(ts === None, s"ts $i")
      else {
        val us = 1700000000000000L + i.toLong * 987654321L
        val exp = java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
        val got = ts.get
        assert(got.startsWith(exp.toLocalDate.toString), s"ts $i: $got")
        assert(got === Feather.timestampIso(us, 2), s"ts $i")
      }
      assert(u32 === (if (i % 16 == 11) None
        else Some((4000000000L + i).toDouble)), s"u32 $i")
      assert(lu === (if (i % 17 == 4) None
        else Some(s"L${i}_" + "y" * (i % 7))), s"lu $i")
      assert(d64 === (if (i % 18 == 13) None
        else Some(java.time.LocalDate.ofEpochDay(19000L + i * 11L)
          .toString)), s"d64 $i")
    }
  }

  test("dictionary-encoded (categorical) columns decode via the " +
      "DictionaryBatch blocks, whole-file AND paged") {
    val whole = Feather.readRecords(spark, s"$dir/fixture_unc.feather")
      .orderBy("row").select($"cat").as[Option[String]].collect()
    assert(whole.length === 40)
    whole.zipWithIndex.foreach { case (cat, i) =>
      assert(cat === (if (i % 19 == 6) None else Some(s"cat_${i % 5}")), s"$i")
    }
    // the lz4 fixture's dictionary batch is compressed too
    val lz = Feather.readRecords(spark, s"$dir/fixture_lz4.feather")
      .orderBy("row").select($"cat").as[Option[String]].collect()
    assert(lz.toSeq === whole.toSeq)
    // paged: dictionaries pread once on the driver, blocks per task
    val paged = Feather.records(
        Feather.readPaged(spark, s"$dir/fixture_unc.feather",
          partitions = 2),
        Seq(("cat", false)))
      .orderBy("row").select($"cat").as[Option[String]].collect()
    assert(paged.toSeq === whole.toSeq)
  }

  test("golden.csv (pyarrow's own read) agrees on the f64 column") {
    val golden = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/golden.csv")
      .select($"i32", $"f64").orderBy("i32")
      .as[(Option[Double], Option[Double])].collect()
    val ours = Feather.readRecords(spark, s"$dir/fixture_unc.feather")
      .select($"i32", $"f64").orderBy("i32")
      .as[(Option[Double], Option[Double])].collect()
    assert(ours.filter(_._1.nonEmpty).toSeq ===
      golden.filter(_._1.nonEmpty).toSeq)
  }

  test("writer round-trips through the parser; multi-batch files split") {
    val cols = Seq(("k", true), ("grp", false), ("score", true),
      ("note", false))
    val n = 300
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble, s"g${i % 3}",
        if (i % 4 == 0) null else i * 0.5 - 3.0,
        if (i % 5 == 0) null else s"n$i")
    }
    val blob = Feather.dumps(cols, data, rowsPerBatch = 64) // 5 batches
    val meta = Feather.parseMeta(blob)
    assert(meta.blocks.length === 5)
    val wide = Feather.records(
        Feather.readBlobs(spark, Seq(("t.feather", blob))), cols)
      .orderBy("row").select($"k", $"grp", $"score", $"note")
      .as[(Double, String, Option[Double], Option[String])].collect()
    assert(wide.length === n)
    wide.zipWithIndex.foreach { case ((k, grp, score, note), i) =>
      assert(k === i.toDouble)
      assert(grp === s"g${i % 3}")
      assert(score === (if (i % 4 == 0) None else Some(i * 0.5 - 3.0)))
      assert(note === (if (i % 5 == 0) None else Some(s"n$i")))
    }
    // keep the bytes around for the pyarrow cross-validation step
    // (tools/make_feather_fixture.py <dir> <file> — run at fixture
    // regeneration time; the check-in gate, not a test-time dependency)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "scala_feather_check.feather"), blob)
  }

  test("paged reader (footer tail read + per-block tasks) matches whole") {
    val cols = Seq(("k", true), ("txt", false))
    val n = 5000
    val data = (0 until n).map(i =>
      Seq[Any](i.toDouble, s"v${i % 13}"))
    val tmp = java.nio.file.Files.createTempFile("graft_feather_", ".feather")
    java.nio.file.Files.write(tmp,
      Feather.dumps(cols, data, rowsPerBatch = 512)) // 10 blocks
    val paged = Feather.records(
        Feather.readPaged(spark, tmp.toString, partitions = 4), cols)
      .orderBy("row").select($"k", $"txt")
      .as[(Double, String)].collect()
    assert(paged.length === n)
    paged.zipWithIndex.foreach { case ((k, txt), i) =>
      assert(k === i.toDouble)
      assert(txt === s"v${i % 13}")
    }
    // row ids are DENSE 0..N−1, identical to the whole-file read: the
    // paged and whole cells join BY ID
    val pagedIds = Feather.readPaged(spark, tmp.toString,
        partitions = 4)
      .select($"row").distinct().as[Long].collect().sorted
    assert(pagedIds.toSeq === (0L until n.toLong))
    java.nio.file.Files.delete(tmp)
  }

  test("binary columns: typed read keeps bytes exactly; the tall-cell " +
      "path refuses them loudly; writer round-trips") {
    // pyarrow-written blobs byte-for-byte
    val typed = Feather.readTyped(spark, s"$dir/fixture_bin.feather")
      .orderBy("row").select($"media_id", $"blob")
      .as[(Double, Option[Array[Byte]])].collect()
    assert(typed.length === 6)
    typed.zipWithIndex.foreach { case ((id, blob), i) =>
      assert(id === i.toDouble)
      if (i == 3) assert(blob === None)
      else assert(blob.get.toSeq ===
        (0 until i * 11 + 1).map(j => ((i * 37 + j) % 256).toByte), s"$i")
    }
    val e = intercept[Exception] {
      Feather.read(spark, s"$dir/fixture_bin.feather").collect()
    }
    assert(e.getMessage.contains("Feather.readTyped"))
    // Scala writer: kinds n/s/y round-trip through the typed reader
    val cols = Seq(("k", 'n'), ("tag", 's'), ("payload", 'y'))
    val data = (0 until 200).map { i =>
      Seq[Any](i.toDouble, s"t${i % 5}",
        if (i % 7 == 3) null
        else Array.tabulate[Byte](i % 40 + 1)(j => ((i + j * 13) % 256).toByte))
    }
    val blob = Feather.dumpsTyped(cols, data, rowsPerBatch = 64)
    val back = Feather.readTypedBlobs(spark, Seq(("t.feather", blob)))
      .orderBy("row").select($"k", $"tag", $"payload")
      .as[(Double, String, Option[Array[Byte]])].collect()
    assert(back.length === 200)
    back.zipWithIndex.foreach { case ((k, tag, payload), i) =>
      assert(k === i.toDouble)
      assert(tag === s"t${i % 5}")
      if (i % 7 == 3) assert(payload === None)
      else assert(payload.get.toSeq ===
        (0 until i % 40 + 1).map(j => ((i + j * 13) % 256).toByte), s"$i")
    }
  }

  test("typed PAGED read splits a multi-batch binary file and matches " +
      "the whole-file typed read byte-for-byte (plain and zstd)") {
    val cols = Seq(("k", 'n'), ("tag", 's'), ("payload", 'y'))
    val n = 500
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble, s"t${i % 5}",
        if (i % 7 == 3) null
        else Array.tabulate[Byte](i % 64 + 1)(j => ((i * 3 + j * 17) % 256).toByte))
    }
    Seq(false, true).foreach { zstd =>
      val blob = Feather.dumpsTyped(cols, data, rowsPerBatch = 64,
        zstd = zstd)
      val tmp = java.nio.file.Files
        .createTempFile("graft_typed_paged_", ".feather")
      java.nio.file.Files.write(tmp, blob)
      val paged = Feather.readTypedPaged(spark, tmp.toString,
          partitions = 4)
        .orderBy("row").select($"row", $"k", $"tag", $"payload")
        .as[(Long, Double, String, Option[Array[Byte]])].collect()
      assert(paged.length === n, s"zstd=$zstd")
      paged.zipWithIndex.foreach { case ((rowId, k, tag, payload), i) =>
        assert(rowId === i.toLong, s"zstd=$zstd: dense ids") // dense 0..N−1
        assert(k === i.toDouble, s"zstd=$zstd")
        assert(tag === s"t${i % 5}", s"zstd=$zstd")
        if (i % 7 == 3) assert(payload === None, s"zstd=$zstd $i")
        else assert(payload.get.toSeq ===
          (0 until i % 64 + 1).map(j => ((i * 3 + j * 17) % 256).toByte),
          s"zstd=$zstd $i")
      }
      java.nio.file.Files.delete(tmp)
    }
  }

  test("property: random typed frames round-trip through dumpsTyped, " +
      "plain AND zstd, in one multi-blob read") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val strGen = Gen.frequency(
      5 -> Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf('é', '中', '_'))).map(l => ("s" + l.mkString).take(20)),
      1 -> Gen.const(""), // feather has REAL nulls, so "" survives
      1 -> Gen.const(null: String))
    val numGen = Gen.frequency(
      6 -> Gen.choose(-1e12, 1e12).map(java.lang.Double.valueOf),
      1 -> Gen.const(java.lang.Double.valueOf(Double.NaN)), // NaN survives too
      1 -> Gen.const(null: java.lang.Double))
    val binGen = Gen.frequency(
      5 -> Gen.choose(0, 48).flatMap(n =>
        Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
          .map(_.toArray)),
      1 -> Gen.const(null: Array[Byte]))
    val rowsGen = for {
      n <- Gen.choose(0, 50) // 0-row files must round-trip too
      rows <- Gen.listOfN(n, for {
        a <- numGen; b <- strGen; c <- binGen
      } yield Seq[Any](a, b, c))
    } yield rows
    val cols = Seq(("a", 'n'), ("b", 's'), ("c", 'y'))
    val samples = (0 until 12).flatMap(i =>
      rowsGen(Gen.Parameters.default, Seed(4321L + i)).map(r => (i, r)))
    assert(samples.size >= 10)
    val blobs = samples.map { case (i, rows) =>
      (f"f$i%02d.feather",
        Feather.dumpsTyped(cols, rows, rowsPerBatch = 16, zstd = i % 2 == 1))
    }
    val back = Feather.readTypedBlobs(spark, blobs)
      .orderBy("src_file", "row")
      .select($"src_file", $"a", $"b", $"c")
      .as[(String, Option[Double], Option[String], Option[Array[Byte]])]
      .collect().groupBy(_._1)
    samples.foreach { case (i, rows) =>
      val got = back.getOrElse(f"f$i%02d.feather", Array.empty).toSeq
      assert(got.length === rows.length, s"sample $i")
      got.zip(rows).zipWithIndex.foreach { case (((_, a, b, c), row), r) =>
        row(0) match {
          case null => assert(a === None, s"$i/$r a")
          case d: java.lang.Double if d.isNaN =>
            assert(a.exists(_.isNaN), s"$i/$r a NaN")
          case d: java.lang.Double => assert(a === Some(d.doubleValue), s"$i/$r a")
        }
        assert(b === Option(row(1).asInstanceOf[String]), s"$i/$r b")
        (Option(row(2).asInstanceOf[Array[Byte]]), c) match {
          case (None, None) =>
          case (Some(w), Some(g)) => assert(g.toSeq === w.toSeq, s"$i/$r c")
          case other => fail(s"$i/$r c: $other")
        }
      }
    }
  }

  test("readFeatherPagedAll unions per-file batch scans over a directory") {
    val cols = Seq(("k", true), ("txt", false))
    val tmp = java.nio.file.Files.createTempDirectory("graft_feather_all")
    Seq(0, 1, 2).foreach { f =>
      val data = (0 until 800).map(i =>
        Seq[Any]((f * 800 + i).toDouble, s"v${i % 7}"))
      java.nio.file.Files.write(tmp.resolve(s"part_$f.feather"),
        Feather.dumps(cols, data, rowsPerBatch = 128))
    }
    val wide = Feather.records(
        Feather.readPagedAll(spark, tmp.toString, partitions = 3),
        cols)
      .orderBy("k").select($"k", $"txt")
      .as[(Double, String)].collect()
    assert(wide.length === 2400)
    wide.zipWithIndex.foreach { case ((k, txt), i) =>
      assert(k === i.toDouble)
      assert(txt === s"v${i % 800 % 7}")
    }
    tmp.toFile.listFiles.foreach(_.delete())
    java.nio.file.Files.delete(tmp)
  }

  test("zstd pyarrow fixture decodes identically to the uncompressed " +
      "one (incl. the zstd-compressed dictionary batch)") {
    check("fixture_zstd.feather")
    val cat = Feather.readRecords(spark, s"$dir/fixture_zstd.feather")
      .orderBy("row").select($"cat").as[Option[String]].collect()
    cat.zipWithIndex.foreach { case (c, i) =>
      assert(c === (if (i % 19 == 6) None else Some(s"cat_${i % 5}")), s"$i")
    }
  }

  test("zstd writer round-trips: whole-file, paged and typed reads " +
      "all agree; incompressible buffers take the -1 raw escape") {
    val cols = Seq(("k", true), ("txt", false))
    val n = 2000
    val data = (0 until n).map(i => Seq[Any](i.toDouble, s"w${i % 11}"))
    val blob = Feather.dumps(cols, data, rowsPerBatch = 256, zstd = true)
    assert(blob.length < Feather.dumps(cols, data, rowsPerBatch = 256).length)
    val whole = Feather.records(
        Feather.readBlobs(spark, Seq(("z.feather", blob))), cols)
      .orderBy("row").select($"k", $"txt").as[(Double, String)].collect()
    assert(whole.length === n)
    whole.zipWithIndex.foreach { case ((k, txt), i) =>
      assert(k === i.toDouble); assert(txt === s"w${i % 11}")
    }
    val tmp = java.nio.file.Files.createTempFile("graft_zstd_", ".feather")
    java.nio.file.Files.write(tmp, blob)
    val paged = Feather.records(
        Feather.readPaged(spark, tmp.toString, partitions = 3), cols)
      .orderBy("row").select($"k", $"txt").as[(Double, String)].collect()
    assert(paged.toSeq === whole.toSeq)
    java.nio.file.Files.delete(tmp)
    // binary + zstd through the typed path: random bytes don't shrink,
    // so the data buffer exercises the -1 uncompressed escape
    val rnd = new scala.util.Random(7)
    val bcols = Seq(("k", 'n'), ("payload", 'y'))
    val bdata = (0 until 64).map { i =>
      val b = new Array[Byte](200); rnd.nextBytes(b)
      Seq[Any](i.toDouble, b)
    }
    val bblob = Feather.dumpsTyped(bcols, bdata, rowsPerBatch = 16,
      zstd = true)
    val back = Feather.readTypedBlobs(spark,
        Seq(("zb.feather", bblob)))
      .orderBy("row").select($"k", $"payload")
      .as[(Double, Array[Byte])].collect()
    assert(back.length === 64)
    back.zipWithIndex.foreach { case ((k, p), i) =>
      assert(k === i.toDouble)
      assert(p.toSeq === bdata(i)(1).asInstanceOf[Array[Byte]].toSeq, s"$i")
    }
    // keep the bytes around for the pyarrow cross-validation step
    java.nio.file.Files.write(java.nio.file.Paths
      .get("target", "scala_feather_zstd_check.feather"),
      Feather.dumps(Seq(("k", true), ("grp", false), ("score", true),
        ("note", false)),
        (0 until 300).map { i =>
          Seq[Any](i.toDouble, s"g${i % 3}",
            if (i % 4 == 0) null else i * 0.5 - 3.0,
            if (i % 5 == 0) null else s"n$i")
        }, rowsPerBatch = 64, zstd = true))
  }

  test("big int64, bad magic and truncation refuse loudly") {
    val e2 = intercept[Exception] {
      Feather.readRecords(spark, s"$dir/fixture_bigint.feather")
        .collect()
    }
    assert(e2.getMessage.contains("2^53"))

    val junk = Array.fill[Byte](64)('Q')
    intercept[IllegalArgumentException] { Feather.parseMeta(junk) }

    val cut = bytes("fixture_unc.feather").dropRight(3)
    intercept[IllegalArgumentException] { Feather.parseMeta(cut) }
  }

  // ---- embedding-vector columns: fixed_size_list<f32>, list<f32>,
  // list<f64> — the standard Arrow layouts for embedding tables ----

  /** tools/make_feather_fixture.py vector closed form, 30 rows in TWO
    * record batches of 16 + 14. */
  private def vecExpect(i: Int): (Option[Seq[Float]], Option[Seq[Any]],
      Option[Seq[Double]]) = (
    if (i % 7 == 3) None
    else Some((0 until 8).map(j => (i + j * 0.25).toFloat)),
    if (i % 9 == 4) None
    else Some((0 until i % 5).map(j =>
      if (j == 1 && i % 6 == 0) null
      else java.lang.Float.valueOf((i - j * 0.5).toFloat))),
    if (i % 8 == 5) None else Some((0 until 3).map(j => i * 0.125 + j)))

  private def checkVecRows(rows: Array[org.apache.spark.sql.Row],
                           label: String): Unit = {
    assert(rows.length === 30, label)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("doc_id") === i.toDouble, s"$label $i")
      val (fsl, lst, d) = vecExpect(i)
      assert(Option(r.getAs[scala.collection.Seq[Float]]("emb_fsl")).map(_.toSeq) === fsl,
        s"$label emb_fsl $i")
      assert(Option(r.getAs[scala.collection.Seq[Any]]("emb_list")).map(_.toSeq) === lst,
        s"$label emb_list $i")
      assert(Option(r.getAs[scala.collection.Seq[Double]]("emb_d")).map(_.toSeq) === d,
        s"$label emb_d $i")
    }
  }

  test("pyarrow vector fixtures decode as ArrayType (fixed_size_list " +
      "f32 + list f32 with null elements + list f64; all 3 codecs)") {
    import org.apache.spark.sql.types._
    Seq("fixture_vec.feather", "fixture_vec_lz4.feather",
        "fixture_vec_zstd.feather").foreach { f =>
      val df = Feather.readTyped(spark, s"$dir/$f")
      assert(df.schema("emb_fsl").dataType === ArrayType(FloatType), f)
      assert(df.schema("emb_list").dataType === ArrayType(FloatType), f)
      assert(df.schema("emb_d").dataType === ArrayType(DoubleType), f)
      checkVecRows(df.orderBy("row").collect(), f)
    }
  }

  test("typed PAGED vector read splits the multi-batch fixture and " +
      "matches the whole-file read; the tall-cell paths refuse toward " +
      "the typed read") {
    Seq("fixture_vec.feather", "fixture_vec_zstd.feather").foreach { f =>
      checkVecRows(Feather.readTypedPaged(spark, s"$dir/$f",
        partitions = 3).orderBy("row").collect(), s"paged $f")
    }
    val e = intercept[Exception] {
      Feather.read(spark, s"$dir/fixture_vec.feather").collect()
    }
    assert(e.getMessage.contains("Feather.readTyped"))
    assert(e.getMessage.contains("vector column"))
    val e2 = intercept[Exception] {
      Feather.readPaged(spark, s"$dir/fixture_vec.feather").count()
    }
    assert(e2.getMessage.contains("Feather.readTypedPaged"))
  }

  test("Scala vector writer round-trips both layouts (v fixed / V " +
      "variable), plain and zstd, incl. null rows and null elements") {
    val cols = Seq(("vid", 'n'), ("fsl", 'v'), ("lst", 'V'))
    val n = 50
    val data = (0 until n).map { i =>
      Seq[Any](i.toDouble,
        if (i % 7 == 3) null
        else (0 until 6).map(j => (i + j * 0.25).toFloat),
        if (i % 9 == 4) null
        else (0 until i % 5).map(j =>
          if (j == 1 && i % 6 == 0) null
          else java.lang.Float.valueOf((i - j * 0.5).toFloat)))
    }
    Seq(false, true).foreach { zstd =>
      val blob = Feather.dumpsTyped(cols, data, rowsPerBatch = 16,
        zstd = zstd)
      val back = Feather.readTypedBlobs(spark,
          Seq(("v.feather", blob)))
        .orderBy("row").collect()
      assert(back.length === n, s"zstd=$zstd")
      back.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Double]("vid") === i.toDouble, s"zstd=$zstd $i")
        assert(Option(r.getAs[scala.collection.Seq[Float]]("fsl")).map(_.toSeq) ===
          Option(data(i)(1)).map(_.asInstanceOf[Seq[Float]].toSeq),
          s"zstd=$zstd fsl $i")
        assert(Option(r.getAs[scala.collection.Seq[Any]]("lst")).map(_.toSeq) ===
          Option(data(i)(2)).map(_.asInstanceOf[Seq[Any]].toSeq),
          s"zstd=$zstd lst $i")
      }
      // the typed PAGED scan splits the same bytes identically
      val tmp = java.nio.file.Files
        .createTempFile("graft_vec_paged_", ".feather")
      java.nio.file.Files.write(tmp, blob)
      val paged = Feather.readTypedPaged(spark, tmp.toString,
          partitions = 4)
        .drop("src_file").orderBy("row").collect()
      assert(paged.map(_.toSeq).toSeq ===
        back.map(_.toSeq.drop(1)).toSeq, s"zstd=$zstd paged")
      java.nio.file.Files.delete(tmp)
    }
    // mixed fixed widths refuse loudly
    val e = intercept[IllegalArgumentException] {
      Feather.dumpsTyped(Seq(("v", 'v')),
        Seq(Seq[Any](Seq(1f, 2f)), Seq[Any](Seq(1f, 2f, 3f))))
    }
    assert(e.getMessage.contains("mixed widths"))
    // keep the bytes around for the pyarrow cross-validation step
    // (tools/make_feather_fixture.py <dir> <file> vec — the check-in
    // gate, not a test-time dependency)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "scala_vec_check.feather"),
      Feather.dumpsTyped(cols, data, rowsPerBatch = 16))
  }

  test("IO.readData and exportData dispatch .feather") {
    val tmp = java.nio.file.Files
      .createTempFile("graft_feather_io_", ".feather")
    java.nio.file.Files.delete(tmp)
    val src = spark.range(50).selectExpr("CAST(id AS DOUBLE) AS k",
      "'v' || CAST(id AS STRING) AS txt")
    graft.io.IO.exportData(src, tmp.toString)
    val back = graft.io.IO.readData(spark, tmp.toString)
      .orderBy("row").select($"k", $"txt")
      .as[(Double, String)].collect()
    assert(back.length === 50)
    back.zipWithIndex.foreach { case ((k, txt), i) =>
      assert(k === i.toDouble)
      assert(txt === s"v$i")
    }
    java.nio.file.Files.delete(tmp)
  }
}
