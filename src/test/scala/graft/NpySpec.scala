package graft

import org.apache.spark.sql.functions._
import graft.io.Npy

/** npy/npz ingest against GOLDEN fixtures written by numpy itself
  * (src/test/resources/npy — generated with np.save/np.savez, so the
  * parser is checked against the real producer, not a self-written
  * encoder). */
class NpySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/npy"

  private def coo(file: String) =
    Npy.read(spark, s"$dir/$file")
      .select($"coords", $"value", $"value_long", $"dtype")

  test("f8 1-D: exact doubles, coords, dtype") {
    val got = coo("f8_1d.npy").orderBy(element_at($"coords", 1))
      .as[(Seq[Long], Double, Option[Long], String)].collect()
    assert(got.map(_._2).toSeq === Seq(1.5, -2.25, 3.75, 0.0, 1e300))
    assert(got.map(_._1).toSeq === (0 until 5).map(i => Seq(i.toLong)))
    assert(got.forall(_._3.isEmpty) && got.forall(_._4 == "<f8"))
  }

  test("f4 2-D: C-order coords and widened float values") {
    val got = coo("f4_2d.npy")
      .orderBy(element_at($"coords", 1), element_at($"coords", 2))
      .as[(Seq[Long], Double, Option[Long], String)].collect()
    assert(got.length === 12)
    got.zipWithIndex.foreach { case ((c, v, _, _), k) =>
      assert(c === Seq(k / 4L, k % 4L))
      assert(v === k * 0.5) // exact in f4 and f8
    }
  }

  test("i8 1-D: value_long exact at +-2^53, value is the double view") {
    val got = coo("i8_1d.npy").orderBy(element_at($"coords", 1))
      .as[(Seq[Long], Double, Option[Long], String)].collect()
    assert(got.map(_._3.get).toSeq ===
      Seq(-9007199254740992L, 0L, 42L, 9007199254740992L))
    assert(got.map(_._2).toSeq === got.map(_._3.get.toDouble).toSeq)
  }

  test("i4 / u1 / b1 dtypes decode with exact integer payloads") {
    val i4 = coo("i4_2d.npy")
      .orderBy(element_at($"coords", 1), element_at($"coords", 2))
      .select($"value_long").as[Long].collect()
    assert(i4.toSeq === Seq(1L, -2L, 3L, -4L, 5L, -6L))
    val u1 = coo("u1_1d.npy").orderBy(element_at($"coords", 1))
      .select($"value_long").as[Long].collect()
    assert(u1.toSeq === Seq(0L, 127L, 255L))
    val b1 = coo("b1_1d.npy").orderBy(element_at($"coords", 1))
      .select($"value_long").as[Long].collect()
    assert(b1.toSeq === Seq(1L, 0L, 1L))
  }

  test("fortran-order file lands on the same logical matrix") {
    val f = Npy.readNpyMatrix(spark, s"$dir/f8_2d_fortran.npy")
      .orderBy("row").select($"values").as[Seq[Double]].collect()
    assert(f.toSeq === Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))
  }

  test("readNpyMatrix: 2-D per-row vectors, 1-D one whole vector") {
    val m = Npy.readNpyMatrix(spark, s"$dir/f4_2d.npy")
      .orderBy("row").select($"row", $"values")
      .as[(Long, Seq[Double])].collect()
    assert(m.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(m(1)._2 === (4 until 8).map(_ * 0.5))
    val v = Npy.readNpyMatrix(spark, s"$dir/f8_1d.npy")
      .select($"row", $"values").as[(Long, Seq[Double])].collect()
    assert(v.length === 1 && v.head._1 === 0L)
    assert(v.head._2 === Seq(1.5, -2.25, 3.75, 0.0, 1e300))
  }

  test("npz archives: stored and deflated entries, names stripped") {
    val z = Npy.readNpz(spark, s"$dir/pair.npz")
    val names = z.select($"array_name").distinct().as[String].collect()
    assert(names.toSet === Set("alpha", "beta"))
    val beta = z.filter($"array_name" === "beta")
      .orderBy(element_at($"coords", 1), element_at($"coords", 2))
      .select($"value_long").as[Long].collect()
    assert(beta.toSeq === Seq(7L, 8L, 9L, 10L))
    val g = Npy.readNpz(spark, s"$dir/pair_c.npz")
      .orderBy(element_at($"coords", 1))
      .select($"value").as[Double].collect()
    assert(g.toSeq === Seq(3.5, 4.5)) // deflated entry
  }

  test("IO.readData dispatches .npy and .npz by extension") {
    assert(graft.io.IO.readData(spark, s"$dir/f8_1d.npy").count() === 5L)
    assert(graft.io.IO.readData(spark, s"$dir/pair.npz")
      .select($"array_name").distinct().count() === 2L)
  }

  test("npyBytes is BYTE-identical to np.save for the golden fixture") {
    // the writer is checked against the real producer: same dict
    // spelling, same 64-byte alignment, same raw little-endian buffer
    val mine = Npy.npyBytes("<f4", Seq(3L, 4L),
      Array.tabulate(12)(_ * 0.5))
    val golden = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "f4_2d.npy"))
    assert(mine.toSeq === golden.toSeq)
  }

  test("readNpyBlobs parses a blob exactly like readNpy parses the file") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "f8_1d.npy"))
    val blob = Npy.readBlobs(spark, Seq(("f8_1d.npy", bytes)))
      .orderBy(element_at($"coords", 1))
      .select($"coords", $"value", $"dtype")
      .as[(Seq[Long], Double, String)].collect()
    val file = coo("f8_1d.npy").orderBy(element_at($"coords", 1))
      .select($"coords", $"value", $"dtype")
      .as[(Seq[Long], Double, String)].collect()
    assert(blob.toSeq === file.toSeq)
  }

  test("writeNpyShards -> readNpyMatrix round-trips ids and vectors") {
    val df = (0L until 10L).map(i =>
      (i, Seq(i * 0.25f, -i * 1.5f, i.toFloat))).toDF("id", "vec")
    val tmp = java.nio.file.Files.createTempDirectory("npy_shards_").toFile
    try {
      Npy.writeNpyShards(df, "id", "vec", tmp.getPath, rowsPerShard = 4)
      // ceil(10/4) = 3 self-describing shard files
      assert(tmp.listFiles().count(_.getName.endsWith(".npy")) === 3)
      val back = Npy.readNpyMatrix(spark, tmp.getPath)
        .select(element_at($"values", 1).cast("long").as("id"),
          slice($"values", lit(2), size($"values")).as("vec"))
        .orderBy("id").as[(Long, Seq[Double])].collect()
      assert(back.map(_._1).toSeq === (0L until 10L))
      // f4 embeddings widen losslessly through the f8 shard format
      back.foreach { case (i, v) =>
        assert(v === Seq(i * 0.25f, -i * 1.5f, i.toFloat).map(_.toDouble))
      }
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("rank-0 scalar npy: readNpy yields one row, readNpyMatrix row 0") {
    // shape () means empty coords: every element_at must sit behind a
    // rank guard or ANSI mode throws INVALID_ARRAY_INDEX
    val blob = Npy.npyBytes("<f8", Seq.empty, Array(42.5))
    val tmp = java.nio.file.Files.createTempFile("npy_scalar_", ".npy")
    try {
      java.nio.file.Files.write(tmp, blob)
      val coo0 = Npy.read(spark, tmp.toString)
        .select($"coords", $"value").as[(Seq[Long], Double)].collect()
      assert(coo0.toSeq === Seq((Seq.empty[Long], 42.5)))
      val m = Npy.readNpyMatrix(spark, tmp.toString)
        .select($"row", $"values").as[(Long, Seq[Double])].head()
      assert(m === ((0L, Seq(42.5))))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  test("empty arrays, bad magic and unsupported dtypes refuse loudly") {
    assert(coo("f4_1d_empty.npy").count() === 0L)
    intercept[IllegalArgumentException] {
      Npy.parseHeader("not an npy".getBytes)
    }
    // hand-build a big-endian header: the parser must refuse, not
    // silently byte-swap
    val hdr = "{'descr': '>f8', 'fortran_order': False, 'shape': (1,), }"
    val pad = hdr + " " * (63 - hdr.length % 64) + "\n"
    val bytes = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 1, 0,
      (pad.length & 0xff).toByte, ((pad.length >> 8) & 0xff).toByte) ++
      pad.getBytes ++ new Array[Byte](8)
    intercept[IllegalArgumentException] { Npy.parseHeader(bytes) }
  }
}
