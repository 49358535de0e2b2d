package graft

import graft.mm.Multimodal
import graft.entries.MediaEntries

/** The real javax.imageio codec path: lossless container round-trips,
  * analytic moment parity, resize floor-sampling, corrupt-input
  * handling. */
class MultimodalCodecSpec extends SparkSpec {
  import spark.implicits._

  private def f(id: Int)(x: Int, y: Int): Int = (x * 7 + y * 13 + id * 31) % 256

  test("bmp encode/decode round-trip is pixel-exact") {
    val img = Multimodal.decodeGray(Multimodal.encodeBmp(5, 3, f(2)))
    assert(img.w == 5 && img.h == 3)
    for (y <- 0 until 3; x <- 0 until 5)
      assert(img.px(y * 5 + x) == f(2)(x, y), s"($x,$y)")
  }

  test("png encode/decode round-trip is pixel-exact") {
    val img = Multimodal.decodeGray(Multimodal.encodePng(7, 4, f(5)))
    assert(img.w == 7 && img.h == 4)
    for (y <- 0 until 4; x <- 0 until 7)
      assert(img.px(y * 7 + x) == f(5)(x, y), s"($x,$y)")
  }

  test("nearest-neighbor resize samples floor coordinates") {
    // 4×2 source with px(x,y) = 10*y + x; 2×2 thumb samples
    // (tx*4/2, ty*2/2) = (0,0), (2,0), (0,1), (2,1)
    val src = Multimodal.GrayImage(4, 2, Array(0, 1, 2, 3, 10, 11, 12, 13))
    assert(Multimodal.resizeNearest(src, 2).toSeq == Seq(0, 2, 10, 12))
  }

  test("imageFeatures matches analytic moments computed in-process") {
    val rows = MediaEntries.syntheticBmps(spark)
    val got = Multimodal.imageFeatures(rows, thumbSide = 8)
      .orderBy("media_id").collect()
    assert(got.length == 24)
    got.foreach { r =>
      val id = r.getLong(0).toInt
      val w = 16 + (id % 3) * 4
      val h = 12 + (id % 2) * 6
      val thumb = for (ty <- 0 until 8; tx <- 0 until 8)
        yield f(id)(tx * w / 8, ty * h / 8)
      val sum = thumb.map(_.toLong).sum
      val sumSq = thumb.map(v => v.toLong * v).sum
      assert(r.getBoolean(1), s"id=$id not ok")
      assert(r.getLong(2) == w && r.getLong(3) == h)
      assert(r.getLong(4) == thumb.min && r.getLong(5) == thumb.max)
      assert(r.getLong(6) == sum)
      assert(r.getDouble(7) == sum.toDouble / 64)
      assert(r.getDouble(8) == (64L * sumSq - sum * sum).toDouble / 4096)
    }
  }

  test("undecodable or null content keeps the row with ok=false") {
    val media = Multimodal.toMediaFrame(spark, Seq(
      (1L, Array[Byte](1, 2, 3, 4), "bin", 0, 0, 0L),
      (2L, null, "png", 0, 0, 0L),
      (3L, Multimodal.encodeBmp(8, 8, f(0)), "bmp", 8, 8, 0L)))
    val out = Multimodal.imageFeatures(media).orderBy("media_id").collect()
    assert(out.length == 3)
    assert(!out(0).getBoolean(1) && out(0).isNullAt(7))
    assert(!out(1).getBoolean(1))
    assert(out(2).getBoolean(1) && out(2).getLong(2) == 8)
  }

  test("imageDHash: brightness-shift invariance and single-pixel locality") {
    // a global +c luma shift (no wrap) cancels from every neighbor
    // comparison -> identical hash; one perturbed pixel at a sampled
    // thumbnail site flips at most its 2 adjacent gradient bits
    def base(x: Int, y: Int): Int = (x * 9 + y * 5) % 120 // max 215+c safe
    val media = Multimodal.toMediaFrame(spark, Seq(
      (0L, Multimodal.encodeBmp(16, 16, base), "bmp", 16, 16, 0L),
      (1L, Multimodal.encodeBmp(16, 16, (x, y) => base(x, y) + 40),
        "bmp", 16, 16, 0L),
      (2L, Multimodal.encodeBmp(16, 16, (x, y) =>
        base(x, y) + (if (x == 5 && y == 4) 90 else 0)), "bmp", 16, 16, 0L),
      (3L, null, "bmp", 0, 0, 0L)))
    val h = Multimodal.imageDHash(media).orderBy("media_id").collect()
    assert(h(0).getBoolean(1) && !h(3).getBoolean(1) && h(3).isNullAt(2))
    def bands(i: Int) = (2 to 5).map(h(i).getInt)
    assert(bands(0) == bands(1)) // brightness invariance
    val flips = bands(0).zip(bands(2))
      .map { case (a, b) => Integer.bitCount(a ^ b) }.sum
    assert(flips >= 1 && flips <= 2, s"perturbation flipped $flips bits")
  }

  test("imageNearDups: banded join equals brute-force hamming pairs") {
    val rnd = new scala.util.Random(31)
    // 12 random images + 4 near-dup copies with one perturbed sampled
    // pixel: banding must find exactly the brute-force <= 3 pairs
    val pix = Array.fill(12)(Array.fill(16, 16)(rnd.nextInt(256)))
    val rows = (0 until 12).map { id =>
      (id.toLong, Multimodal.encodeBmp(16, 16, (x, y) => pix(id)(x)(y)),
        "bmp", 16, 16, 0L)
    } ++ (0 until 4).map { i =>
      (12L + i,
        Multimodal.encodeBmp(16, 16, (x, y) =>
          (pix(i)(x)(y) + (if (x == 7 && y == 6) 128 else 0)) % 256),
        "bmp", 16, 16, 0L)
    }
    val hashes = Multimodal.imageDHash(
      Multimodal.toMediaFrame(spark, rows))
    val banded = Multimodal.imageNearDups(hashes, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    // brute force from the collected hashes
    val hm = hashes.collect().map(r =>
      r.getLong(0) -> (2 to 5).map(r.getInt)).toMap
    val brute = (for {
      a <- hm.keys; b <- hm.keys if a < b
      d = hm(a).zip(hm(b)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      if d <= 3
    } yield (a, b, d)).toSet
    assert(banded == brute)
    // the planted copies must be found (perturbation <= 2 bits)
    (0 until 4).foreach { i =>
      assert(banded.exists(p => p._1 == i.toLong && p._2 == 12L + i),
        s"planted pair ($i, ${12 + i}) missed")
    }
    // maxHamming > 3 without allowWeak is refused loudly
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDups(hashes, maxHamming = 5)
    }
    // the wide (2×32-bit multi-index) kernel must produce the
    // IDENTICAL pair set — same guarantee, bigger key space
    val wide = Multimodal.bandedNearDupsWide(hashes, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(wide == brute)
    // radius-0 fast path (maxHamming <= 1) and tighter thresholds
    // agree with brute force too
    (0 to 2).foreach { h =>
      val w = Multimodal.bandedNearDupsWide(hashes, maxHamming = h)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      assert(w == brute.filter(_._3 <= h), s"maxHamming=$h mismatch")
    }
    intercept[IllegalArgumentException] {
      Multimodal.bandedNearDupsWide(hashes, maxHamming = 4)
    }
  }

  test("imageDHash256: 64-bit bands through the SAME banded kernel " +
      "equal brute force; undecodable keeps its row") {
    val rnd = new scala.util.Random(47)
    // random 17x16 images (the 256-bit grid is the identity resize)
    // + near-dup copies with one perturbed pixel + one corrupt blob
    val pix = Array.fill(10)(Array.fill(17, 16)(rnd.nextInt(256)))
    val rows = (0 until 10).map { id =>
      (id.toLong, Multimodal.encodeBmp(17, 16, (x, y) => pix(id)(x)(y)),
        "bmp", 17, 16, 0L)
    } ++ (0 until 3).map { i =>
      (10L + i,
        Multimodal.encodeBmp(17, 16, (x, y) =>
          (pix(i)(x)(y) + (if (x == 7 && y == 6) 128 else 0)) % 256),
        "bmp", 17, 16, 0L)
    } :+ ((13L, Array[Byte](1, 2, 3), "bmp", 0, 0, 0L))
    val hashes = Multimodal.imageDHash256(
      Multimodal.toMediaFrame(spark, rows))
    assert(hashes.filter(!$"ok").select($"media_id").as[Long].collect()
      .toSeq === Seq(13L))
    val banded = Multimodal.bandedNearDups(hashes, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    // brute force over the four 64-bit bands
    val hm = hashes.filter($"ok").collect().map(r =>
      r.getLong(0) -> (2 to 5).map(r.getLong)).toMap
    val brute = (for {
      a <- hm.keys; b <- hm.keys if a < b
      d = hm(a).zip(hm(b))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= 3
    } yield (a, b, d)).toSet
    assert(banded == brute)
    // a single perturbed pixel flips at most the two gradient bits
    // that touch it — every planted pair must be found
    (0 until 3).foreach { i =>
      assert(banded.exists(p => p._1 == i.toLong && p._2 == 10L + i),
        s"planted pair ($i, ${10 + i}) missed")
    }
  }

  test("nearDupDrops equals the pair kernel's keep-lowest-id drop set " +
      "on clone sets, cross-clone near-dups, and singletons") {
    val rnd = new scala.util.Random(53)
    val pix = Array.fill(6)(Array.fill(17, 16)(rnd.nextInt(256)))
    // clone sets: images 0..2 each copied 3× (ids 0..8, id = 3*base+k)
    val clones = (for (base <- 0 until 3; k <- 0 until 3) yield {
      ((base * 3 + k).toLong,
        Multimodal.encodeBmp(17, 16, (x, y) => pix(base)(x)(y)),
        "bmp", 17, 16, 0L)
    })
    // near-dups OF clone-set base 1 (one perturbed pixel) — their
    // drop/keep must route through the rep pair, not the clones
    val nears = (0 until 2).map { i =>
      (9L + i,
        Multimodal.encodeBmp(17, 16, (x, y) =>
          (pix(1)(x)(y) + (if (x == 7 && y == 6) 128 else 0)) % 256),
        "bmp", 17, 16, 0L)
    }
    // singletons + one corrupt blob (excluded by ok on both paths)
    val singles = (0 until 3).map { i =>
      (11L + i, Multimodal.encodeBmp(17, 16, (x, y) => pix(3 + i)(x)(y)),
        "bmp", 17, 16, 0L)
    } :+ ((14L, Array[Byte](9, 9), "bmp", 0, 0, 0L))
    (0 to 3).foreach { h =>
      val hashes = Multimodal.imageDHash256(
        Multimodal.toMediaFrame(spark, rnd.shuffle(clones ++ nears ++ singles)))
      val fromPairs = Multimodal.bandedNearDups(hashes, maxHamming = h)
        .select($"id_b").distinct().as[Long].collect().toSet
      val drops = Multimodal.nearDupDrops(hashes, maxHamming = h)
        .as[Long].collect().toSet
      assert(drops == fromPairs, s"maxHamming=$h drop sets diverge")
      // every clone set keeps exactly its min id at any threshold
      assert(Set(1L, 2L, 4L, 5L, 7L, 8L).subsetOf(drops))
      // the wide (multi-index) drop-set kernel agrees with ITS pair
      // kernel on the 64-bit fixture too
      val hashes64 = Multimodal.imageDHash(
        Multimodal.toMediaFrame(spark,
          rnd.shuffle(clones ++ nears ++ singles)))
      val wideFromPairs = Multimodal.bandedNearDupsWide(hashes64,
          maxHamming = h)
        .select($"id_b").distinct().as[Long].collect().toSet
      val wideDrops = Multimodal.nearDupDropsWide(hashes64, maxHamming = h)
        .as[Long].collect().toSet
      assert(wideDrops == wideFromPairs,
        s"maxHamming=$h wide drop sets diverge")
    }
  }

  test("byte-histogram features are a real normalized histogram") {
    val media = Multimodal.toMediaFrame(spark, Seq(
      (1L, Array[Byte](0, 0, 0, -1), "bin", 0, 0, 0L))) // 3× bucket 0, 1× bucket 7 (0xff)
    val feat = Multimodal.decodeFeatures(media, dim = 8)
      .orderBy("media_id").as[(Long, Seq[Float], Int)].collect()
    assert(feat.head._3 == 4)
    assert(feat.head._2 == Seq(0.75f, 0f, 0f, 0f, 0f, 0f, 0f, 0.25f))
  }
}
