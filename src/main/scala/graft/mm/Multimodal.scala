package graft.mm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling — north-star
  * training-data-pipeline operators.
  *
  * Media is an opaque `binary` column plus a typed metadata struct.
  * Images are decoded with the JDK's own `javax.imageio` (BMP/PNG/JPEG
  * — zero extra dependencies), converted to integer luma, resized by
  * nearest-neighbor, and reduced to exact pixel moments; everything is
  * integer/power-of-two arithmetic so a SQL oracle can reproduce the
  * values bit-for-bit. The partition-iterator shape (one codec init per
  * partition, stream rows through it) is the Scala analog of
  * `mapInPandas` batches and is what a GPU/native codec would slot
  * into. Mirrors `Features.image_extraction`
  * (gofast/dataops/preprocessing.py:2161).
  */
object Multimodal {

  /** Decoded integer-luma image: row-major `px`, length w·h. */
  final case class GrayImage(w: Int, h: Int, px: Array[Int])

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** Build a media frame from (id, bytes, format, w, h, duration). */
  def toMediaFrame(spark: SparkSession,
                   rows: Seq[(Long, Array[Byte], String, Int, Int, Long)]): DataFrame = {
    val rdd = spark.sparkContext.parallelize(rows.map { case (id, b, f, w, h, d) =>
      Row(id, b, Row(f, w, h, d))
    })
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Encode a synthetic grayscale image as real BMP bytes (24-bit RGB,
    * lossless, decoded exactly by every codec): pixel (x, y) carries
    * luma `pixel(x, y) & 0xff` replicated across R=G=B. Used to build
    * decode fixtures whose pixel values a SQL oracle can recompute. */
  def encodeBmp(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pixel(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** Same image, PNG container (also lossless in the JDK encoder). */
  def encodePng(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pixel(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode any `javax.imageio`-supported container (BMP/PNG/JPEG/GIF)
    * to an integer-luma grid: gray = (299·R + 587·G + 114·B) / 1000,
    * integer division — exact for achromatic pixels (R=G=B=v → v).
    * Returns null when the bytes are not a decodable image. */
  def decodeGray(bytes: Array[Byte]): GrayImage = {
    if (bytes == null || bytes.isEmpty) return null
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        px(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
        x += 1
      }
      y += 1
    }
    GrayImage(w, h, px)
  }

  /** Nearest-neighbor downsample to a `side`×`side` thumbnail: thumb
    * (tx, ty) samples source (tx·w/side, ty·h/side), integer division —
    * the arithmetic a SQL oracle reproduces with `//`. */
  def resizeNearest(img: GrayImage, side: Int): Array[Int] = {
    val out = new Array[Int](side * side)
    var ty = 0
    while (ty < side) {
      val sy = ty * img.h / side
      var tx = 0
      while (tx < side) {
        val sx = tx * img.w / side
        out(ty * side + tx) = img.px(sy * img.w + sx)
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Real decode → grayscale → nearest-neighbor thumbnail → exact
    * pixel moments, one codec pass per partition (mapPartitions: init
    * once, stream rows). Sums are integer-exact; mean/variance divide
    * by powers of two only, so doubles are bit-identical to a SQL
    * oracle computing the same integers. Undecodable or null content
    * yields `ok = false` with null features (row is kept — a 100 TB
    * pipeline must not silently drop corrupt media). */
  def imageFeatures(df: DataFrame, thumbSide: Int = 8): DataFrame = {
    require((thumbSide & (thumbSide - 1)) == 0 && thumbSide > 0,
      s"thumbSide must be a power of two for exact moment arithmetic, got $thumbSide")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("width", LongType, nullable = true),
      StructField("height", LongType, nullable = true),
      StructField("px_min", LongType, nullable = true),
      StructField("px_max", LongType, nullable = true),
      StructField("px_sum", LongType, nullable = true),
      StructField("px_mean", DoubleType, nullable = true),
      StructField("px_var", DoubleType, nullable = true)))
    val n = thumbSide * thumbSide
    val rdd = df.select("media_id", "content").rdd.mapPartitions { it =>
      // codec state (ImageIO reader plumbing) initializes once per
      // partition on first use; rows stream through without re-init
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val img = decodeGray(bytes)
        if (img == null) Row(id, false, null, null, null, null, null, null, null)
        else {
          val t = resizeNearest(img, thumbSide)
          var sum = 0L; var sumSq = 0L
          var mn = Long.MaxValue; var mx = Long.MinValue
          var i = 0
          while (i < n) {
            val v = t(i).toLong
            sum += v; sumSq += v * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          val mean = sum.toDouble / n
          val varr = (n.toLong * sumSq - sum * sum).toDouble / (n.toLong * n)
          Row(id, true, img.w.toLong, img.h.toLong, mn, mx, sum, mean, varr)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Nearest-neighbor downsample to an arbitrary `tw`×`th` grid — the
    * non-square variant [[imageDHash]] needs (9×8). Same integer floor
    * sampling as [[resizeNearest]]. */
  def resizeNearestWH(img: GrayImage, tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val sy = ty * img.h / th
      var tx = 0
      while (tx < tw) {
        out(ty * tw + tx) = img.px(sy * img.w + tx * img.w / tw)
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Perceptual difference hash — dHash (the standard gradient hash of
    * the image-hashing literature, e.g. Krawetz's "Kind of Like That",
    * 2013; more robust than aHash because a global brightness shift
    * cancels out of every neighbor comparison): decode → luma → 9×8
    * nearest-neighbor thumbnail → bit(ty·8+tx) = thumb(tx,ty) <
    * thumb(tx+1,ty), 64 bits. Emitted as FOUR 16-bit band integers
    * (b0..b3 = bits [0,16) [16,32) [32,48) [48,64)) — the band keys
    * [[imageNearDups]] joins on, and a representation whose oracle
    * needs no signed-64-bit gymnastics. Integer-only arithmetic: a SQL
    * engine recomputes every bit from the pixel closed form.
    * Undecodable content keeps its row with ok = false (the
    * imageFeatures convention). Output: (media_id, ok, b0, b1, b2,
    * b3). */
  def imageDHash(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("b0", IntegerType, nullable = true),
      StructField("b1", IntegerType, nullable = true),
      StructField("b2", IntegerType, nullable = true),
      StructField("b3", IntegerType, nullable = true)))
    val rdd = df.select("media_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val img = decodeGray(bytes)
        if (img == null) Row(id, false, null, null, null, null)
        else {
          val t = resizeNearestWH(img, 9, 8)
          val bands = new Array[Int](4)
          var ty = 0
          while (ty < 8) {
            var tx = 0
            while (tx < 8) {
              if (t(ty * 9 + tx) < t(ty * 9 + tx + 1)) {
                val i = ty * 8 + tx
                bands(i / 16) |= 1 << (i % 16)
              }
              tx += 1
            }
            ty += 1
          }
          Row(id, true, bands(0), bands(1), bands(2), bands(3))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** 256-bit perceptual dHash — the corpus-scale variant of
    * [[imageDHash]] for single-corpus media dedup PAST the wide
    * kernel's ~2^25-item knee. Same gradient construction over a
    * 17×16 thumbnail (bit(ty·16+tx) = thumb(tx,ty) < thumb(tx+1,ty),
    * 256 bits) emitted as FOUR 64-bit bands b0..b3. Fed to the SAME
    * [[bandedNearDups]] kernel (which is band-width-agnostic), the
    * pigeonhole guarantee is unchanged — Hamming ≤ 3 differs in ≤ 3
    * of 4 bands, so at least one 64-bit band matches EXACTLY — while
    * the random-collision knee moves from 2^25 items (wide kernel's
    * 32-bit keys + 33× ball explode) to candidates ~4n²/2^64 ≈ n at
    * n ≈ 2^62: no birthday term at any feasible corpus size, no ball
    * enumeration, no probe-side explode. The trade is codec cost
    * (17×16 vs 9×8 sampling — negligible next to decode) and a
    * TIGHTER match criterion: 3/256 differing gradient bits instead
    * of 3/64, i.e. this catches near-identical images; recall for
    * heavier edits needs maxHamming raised (the pigeonhole still
    * holds to 3; past that, allowWeak applies as usual). Output:
    * (media_id, ok, b0, b1, b2, b3) with LONG bands. */
  def imageDHash256(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("b0", LongType, nullable = true),
      StructField("b1", LongType, nullable = true),
      StructField("b2", LongType, nullable = true),
      StructField("b3", LongType, nullable = true)))
    val rdd = df.select("media_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val img = decodeGray(bytes)
        if (img == null) Row(id, false, null, null, null, null)
        else {
          val t = resizeNearestWH(img, 17, 16)
          val bands = new Array[Long](4)
          var ty = 0
          while (ty < 16) {
            var tx = 0
            while (tx < 16) {
              if (t(ty * 17 + tx) < t(ty * 17 + tx + 1)) {
                val i = ty * 16 + tx
                bands(i / 64) |= 1L << (i % 64)
              }
              tx += 1
            }
            ty += 1
          }
          Row(id, true, bands(0), bands(1), bands(2), bands(3))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Image near-duplicates over [[imageDHash]] output: the SimHash
    * banding convention applied to the perceptual hash. A pair within
    * Hamming distance ≤ 3 differs in at most 3 of the 4 bands, so BY
    * PIGEONHOLE it shares at least one identical 16-bit band — the
    * banded equi-join generates candidates without any all-pairs
    * step, and one exact bit_count verify keeps pairs at
    * `maxHamming` or less (maxHamming > 3 weakens the guarantee to
    * best-effort; the method requires it ≤ 3 unless
    * `allowWeak = true`). Cost: 4 band tables, keyed self-join,
    * candidate-bounded verify. Output: (id_a, id_b, hamming). */
  def imageNearDups(hashes: DataFrame, maxHamming: Int = 3,
                    allowWeak: Boolean = false): DataFrame =
    bandedNearDups(hashes, maxHamming, allowWeak)

  /** The banded near-dup kernel behind [[imageNearDups]] — generic
    * over ANY (media_id, ok, b0..b3) 64-bit fingerprint table
    * ([[imageDHash]], [[audioFingerprint]]): same pigeonhole
    * guarantee, same keyed join + bit_count verify. */
  def bandedNearDups(hashes: DataFrame, maxHamming: Int = 3,
                     allowWeak: Boolean = false): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(maxHamming <= 3 || allowWeak,
      s"maxHamming=$maxHamming > 3 breaks the 4-band pigeonhole " +
        "guarantee (pairs may be missed); pass allowWeak = true to " +
        "accept best-effort recall")
    val ok = hashes.filter(col("ok"))
      .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"))
    val bands = (0 until 4).map { k =>
      ok.select(col("media_id"), lit(k).as("_band"),
        col(s"b$k").as("_key"))
    }.reduce(_ unionByName _)
    val cand = bands.as("x").join(bands.as("y"),
        col("x._band") === col("y._band") && col("x._key") === col("y._key") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
      .distinct()
    verifyCandidates(ok, cand, maxHamming)
  }

  /** The keep-lowest-id DROP SET of [[bandedNearDups]] — exactly
    * `pairs.select(id_b).distinct()` (an item drops iff a LOWER-id
    * item sits within `maxHamming`), computed without materializing
    * the pair set. Dedup consumers (media_pipeline, the probe chain)
    * only ever read that projection, and on real corpora the dominant
    * dup mode is IDENTICAL blobs — k copies of one image are k
    * identical fingerprints, and the pair kernel pays C(k,2) verified
    * pairs per clone set just to learn "everyone but the min drops".
    * This kernel collapses identical fingerprints FIRST (one
    * map-side-combinable groupBy; every non-min member drops at
    * hamming 0), then runs the banded join over DISTINCT fingerprints
    * only, each carrying its min id as the representative. A rep
    * drops iff a rep with a smaller min id sits within `maxHamming`:
    * any witness `a < b` for rep b lives in some fingerprint group
    * whose min is `<= a`, so the (min(a's group), b) rep pair is a
    * witness too — the drop set is IDENTICAL to the pair kernel's
    * (asserted in MultimodalSpec), while the candidate term falls
    * from Σ_b n_b² over items to Σ_b d_b² over distinct fingerprints
    * — immune to clone skew. Output: (media_id) — the ids to drop. */
  def nearDupDrops(hashes: DataFrame, maxHamming: Int = 3,
                   allowWeak: Boolean = false): DataFrame =
    collapsedDropSet(hashes, bandedNearDups(_, maxHamming, allowWeak))

  /** [[nearDupDrops]] over the wide (2×32-bit multi-index) kernel —
    * the drop-set face of [[bandedNearDupsWide]] for corpora past the
    * 64-bit bands' birthday knee. Same collapse, same equivalence
    * argument, same output: (media_id) — the ids to drop. */
  def nearDupDropsWide(hashes: DataFrame, maxHamming: Int = 3,
                       allowWeak: Boolean = false): DataFrame =
    collapsedDropSet(hashes, bandedNearDupsWide(_, maxHamming, allowWeak))

  /** The clone collapse shared by the drop-set kernels: cut the
    * fingerprint table (it is consumed ~6× downstream through
    * different exchanges — groupBy, exact-drop join, band x/y, verify
    * a/b — and without a cut each consumer re-runs the upstream
    * decode+hash pass over the MEDIA corpus; measured 5× the whole
    * chain's wall at 400k images — 40 B/item), drop
    * every non-min member of an identical-fingerprint group at
    * hamming 0, and hand ONE min-id representative per distinct
    * fingerprint to `pairKernel`. */
  private def collapsedDropSet(hashes: DataFrame,
      pairKernel: DataFrame => DataFrame): DataFrame = {
    val ok = graft.core.Cut.of(hashes.filter(col("ok"))
      .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3")),
      graft.core.Cut.Reread)
    val reps = ok.groupBy("b0", "b1", "b2", "b3")
      .agg(min(col("media_id")).as("media_id"))
    val exactDrops = ok.join(reps.select(col("media_id").as("_rep"),
        col("b0"), col("b1"), col("b2"), col("b3")),
        Seq("b0", "b1", "b2", "b3"))
      .filter(col("media_id") > col("_rep")).select("media_id")
    val nearDrops = pairKernel(
        reps.select(col("media_id"), lit(true).as("ok"),
          col("b0"), col("b1"), col("b2"), col("b3")))
      .select(col("id_b").as("media_id"))
    exactDrops.union(nearDrops).distinct()
  }

  /** Exact verify shared by the banded kernels: join the candidate
    * (id_a, id_b) pairs back to their bands and keep pairs at
    * bit-exact Hamming ≤ `maxHamming`. Candidate-bounded — never
    * touches non-candidate pairs. */
  private def verifyCandidates(ok: DataFrame, cand: DataFrame,
                               maxHamming: Int): DataFrame = {
    val ha = ok.select(col("media_id").as("id_a"), col("b0").as("_a0"),
      col("b1").as("_a1"), col("b2").as("_a2"), col("b3").as("_a3"))
    val hb = ok.select(col("media_id").as("id_b"), col("b0").as("_b0"),
      col("b1").as("_b1"), col("b2").as("_b2"), col("b3").as("_b3"))
    val hamming = (0 until 4).map(k =>
      bit_count(col(s"_a$k").bitwiseXOR(col(s"_b$k")))).reduce(_ + _)
    cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Wide-band variant of [[bandedNearDups]] for corpora past the
    * 16-bit birthday knee: at n ≫ 2^16 items the 16-bit band keys
    * collide by birthday alone (candidates ~4n²/2^16 even on random
    * hashes — the knee SCALE.md records at ~65k items). This kernel is
    * multi-index hashing over TWO 32-bit substrings (Norouzi, Punjani
    * & Fleet, "Fast Search in Hamming Space with Multi-Index Hashing",
    * CVPR 2012): a pair within Hamming ≤ 3 has ≤ 1 differing bit in
    * at least one 32-bit half (pigeonhole over 2 substrings), so
    * enumerating the radius-1 Hamming ball of the lower-id side's key
    * (33 static variants, pure codegen) and equi-joining against the
    * other side's exact keys finds EVERY such pair — the same
    * guarantee as the 16-bit kernel, while the 2^32 key space pushes
    * the random-collision knee out to ~2^25 items (candidates
    * ~66n·n/2^32). Cost: a 33× linear probe-side explode and the same
    * candidate-bounded bit_count verify; no all-pairs step anywhere.
    * For maxHamming ≤ 1 the ball shrinks to the key itself. Output:
    * (id_a, id_b, hamming) — identical rows to [[bandedNearDups]]. */
  def bandedNearDupsWide(hashes: DataFrame, maxHamming: Int = 3,
                         allowWeak: Boolean = false): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    require(maxHamming <= 3 || allowWeak,
      s"maxHamming=$maxHamming > 3 breaks the 2-substring radius-1 " +
        "multi-index guarantee (pairs may be missed); pass " +
        "allowWeak = true to accept best-effort recall")
    val ok = hashes.filter(col("ok"))
      .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"))
    def u16(c: String): Column = col(c).cast("long")
    val keyed = ok.select(col("media_id"),
      u16("b0").bitwiseOR(shiftleft(u16("b1"), 16)).as("_k0"),
      u16("b2").bitwiseOR(shiftleft(u16("b3"), 16)).as("_k1"))
    val build = (0 until 2).map { k =>
      keyed.select(col("media_id"), lit(k).as("_band"),
        col(s"_k$k").as("_key"))
    }.reduce(_ unionByName _)
    // Hamming ≤ 1 over 2 substrings already pigeonholes to an EXACT
    // substring match — skip the ball enumeration entirely.
    val probe =
      if (maxHamming <= 1) build
      else build.select(col("media_id"), col("_band"),
        explode(array((col("_key") +:
          (0 until 32).map(i => col("_key").bitwiseXOR(lit(1L << i)))): _*))
          .as("_key"))
    val cand = probe.as("x").join(build.as("y"),
        col("x._band") === col("y._band") && col("x._key") === col("y._key") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
      .distinct()
    verifyCandidates(ok, cand, maxHamming)
  }

  /** Byte-level featurizer for opaque (not necessarily image) binary:
    * a `dim`-bucket byte-value histogram normalized by length. Real
    * content statistics — works on any format without a codec, the
    * cheap first-pass filter before full decode at 100 TB. */
  def decodeFeatures(df: DataFrame, dim: Int = 16): DataFrame = {
    require(256 % dim == 0, s"dim must divide 256, got $dim")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("feature", ArrayType(FloatType), nullable = false),
      StructField("n_bytes", IntegerType, nullable = false)))
    val bucketWidth = 256 / dim
    val rdd = df.select("media_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val counts = new Array[Int](dim)
        if (bytes != null) bytes.foreach { b => counts((b & 0xff) / bucketWidth) += 1 }
        val len = if (bytes == null) 0 else bytes.length
        val feat = counts.map(c => if (len == 0) 0f else c.toFloat / len)
        Row(id, feat.toSeq, len)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling for video-ish media: one row per sampled frame
    * offset, `explode(sequence(...))` — a Generator, no shuffle.
    * Frame step is in ms over meta.duration_ms. */
  def sampleFrames(df: DataFrame, everyMs: Long): DataFrame =
    df.withColumn("frame_ms",
        explode(sequence(lit(0L),
          coalesce(col("meta.duration_ms"), lit(0L)),
          lit(everyMs))))
      .select(col("media_id"), col("frame_ms"), col("meta.format").as("format"))

  /** Size-balanced repartition for decode batches: media blobs vary
    * wildly; partition by id hash so decoder tasks get even counts. */
  def repartitionForDecode(df: DataFrame, partitions: Int): DataFrame =
    df.repartition(partitions, col("media_id"))

  // ------------------------------------------------------------------ audio

  /** Encode 16-bit signed PCM mono samples as a real WAV container
    * via the JDK's `javax.sound.sampled` — the audio sibling of
    * [[encodeBmp]], used to build fixtures whose sample values a SQL
    * oracle recomputes in closed form. */
  def encodeWav(samples: Array[Int], sampleRate: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      pcm(2 * i) = (s & 0xff).toByte           // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decoded PCM clip: integer samples (stereo floor-averaged to
    * mono), sample rate in Hz. */
  final case class PcmClip(rate: Int, samples: Array[Int])

  /** Decode any `javax.sound.sampled`-supported container (WAV/AIFF/
    * AU in the stock JDK) to mono integer samples. 8/16-bit PCM,
    * either endianness, any channel count (channels floor-averaged).
    * Returns null when the bytes are not decodable audio. */
  def decodePcm(bytes: Array[Byte]): PcmClip = {
    import javax.sound.sampled.AudioSystem
    if (bytes == null || bytes.isEmpty) return null
    val ais =
      try AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      catch { case _: Exception => return null }
    try {
      import javax.sound.sampled.AudioFormat.Encoding
      val fmt = ais.getFormat
      val bits = fmt.getSampleSizeInBits
      val ch = fmt.getChannels
      val enc = fmt.getEncoding
      // only linear PCM is decoded here: u-law/a-law (common in .au)
      // would need companding tables, and guessing signedness from bit
      // depth alone corrupts samples silently — reject instead
      val signed = enc == Encoding.PCM_SIGNED
      if (!signed && enc != Encoding.PCM_UNSIGNED) return null
      if (bits != 8 && bits != 16) return null
      val raw = ais.readAllBytes()
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * ch
      val n = raw.length / frameBytes
      val out = new Array[Int](n)
      var f = 0
      while (f < n) {
        var acc = 0
        var c = 0
        while (c < ch) {
          val o = f * frameBytes + c * bytesPerSample
          val v =
            if (bits == 8)
              if (signed) raw(o).toInt else (raw(o) & 0xff) - 128
            else {
              val s16 =
                if (fmt.isBigEndian) (raw(o) << 8) | (raw(o + 1) & 0xff)
                else (raw(o + 1) << 8) | (raw(o) & 0xff)
              if (signed) s16 else (s16 & 0xffff) - 32768
            }
          acc += v
          c += 1
        }
        out(f) = Math.floorDiv(acc, ch)
        f += 1
      }
      PcmClip(fmt.getSampleRate.toInt, out)
    } finally ais.close()
  }

  /** Perceptual audio fingerprint — the energy-envelope analog of
    * [[imageDHash]] (the Haitsma–Kalker 2002 "robust audio
    * fingerprinting" idea reduced to its time-domain core): decode →
    * 65 equal frames (floor boundaries k·n/65) → exact int64 frame
    * energies → bit k = e(k) < e(k+1), 64 gradient bits as four
    * 16-bit bands. A global gain change of the SIGN pattern (e.g.
    * polarity flip) cancels; uniform amplitude scaling preserves
    * every energy comparison exactly when integer (energies scale by
    * c²). Integer-only — a SQL engine replays every bit from a
    * closed-form sample formula. Same output contract as imageDHash:
    * (media_id, ok, b0..b3), feeding [[bandedNearDups]]. */
  def audioFingerprint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("b0", IntegerType, nullable = true),
      StructField("b1", IntegerType, nullable = true),
      StructField("b2", IntegerType, nullable = true),
      StructField("b3", IntegerType, nullable = true)))
    val rdd = df.select("media_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val clip = decodePcm(bytes)
        if (clip == null || clip.samples.length < 65)
          Row(id, false, null, null, null, null)
        else {
          val bands = energyBands(clip.samples)
          Row(id, true, bands(0), bands(1), bands(2), bands(3))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** The dHash bit kernel on one decoded image — shared by the batch
    * [[imageDHash]] and the stream-compatible [[imageDHashColumn]]. */
  private[mm] def dhashBands(img: GrayImage): Array[Int] = {
    val t = resizeNearestWH(img, 9, 8)
    val bands = new Array[Int](4)
    var ty = 0
    while (ty < 8) {
      var tx = 0
      while (tx < 8) {
        if (t(ty * 9 + tx) < t(ty * 9 + tx + 1)) {
          val i = ty * 8 + tx
          bands(i / 16) |= 1 << (i % 16)
        }
        tx += 1
      }
      ty += 1
    }
    bands
  }

  /** The energy-gradient bit kernel on one decoded clip — shared by
    * the batch [[audioFingerprint]] and the stream-compatible
    * [[audioFingerprintColumn]]. */
  private[mm] def energyBands(s: Array[Int]): Array[Int] = {
    val n = s.length
    val e = new Array[Long](65)
    var k = 0
    while (k < 65) {
      val lo = k * n / 65
      val hi = (k + 1) * n / 65
      var acc = 0L
      var i = lo
      while (i < hi) { val v = s(i).toLong; acc += v * v; i += 1 }
      e(k) = acc
      k += 1
    }
    val bands = new Array[Int](4)
    var b = 0
    while (b < 64) {
      if (e(b) < e(b + 1)) bands(b / 16) |= 1 << (b % 16)
      b += 1
    }
    bands
  }

  /** [[audioFingerprint]] as a COLUMN — the audio twin of
    * [[imageDHashColumn]], for streaming deploys. NULL for
    * undecodable or too-short clips. */
  def audioFingerprintColumn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val f = udf((bytes: Array[Byte]) => {
      val clip = decodePcm(bytes)
      if (clip == null || clip.samples.length < 65) null
      else { val b = energyBands(clip.samples); (b(0), b(1), b(2), b(3)) }
    })
    c => f(c)
  }

  /** [[imageDHash]] as a COLUMN (UDF over the binary content) —
    * identical bits, but usable where the RDD path is not: streaming
    * DataFrames. Returns a (b0, b1, b2, b3) struct, NULL for
    * undecodable content. The codec call is per row (no
    * partition-level reader reuse), which is exactly the
    * per-micro-batch shape a streaming ingest gate runs anyway. */
  def imageDHashColumn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val f = udf((bytes: Array[Byte]) => {
      val img = decodeGray(bytes)
      if (img == null) null
      else { val b = dhashBands(img); (b(0), b(1), b(2), b(3)) }
    })
    c => f(c)
  }

  /** Streaming media dedup-on-ingest: arriving media rows are
    * fingerprinted ([[imageDHashColumn]] — same bits as batch,
    * StreamSpec-asserted) and deduped on the EXACT 64-bit perceptual
    * hash within the watermark horizon — re-encoded/resized copies of
    * one image collapse even when their bytes differ (byte-level
    * dedup can never catch that). Near-dup (hamming > 0) remains the
    * batch [[bandedNearDups]]'s job: banding needs a self-join, which
    * streams don't do. Undecodable rows pass through un-deduped (a
    * corrupt blob must not eat a legitimate one's slot). State: one
    * entry per distinct hash plus one per undecodable row inside the
    * watermark — eviction keeps both bounded on an unbounded stream. */
  def mediaDedupStream(media: DataFrame, tsCol: String,
                       watermark: String,
                       fingerprint: org.apache.spark.sql.Column =>
                         org.apache.spark.sql.Column = null): DataFrame = {
    // default = image dHash; pass audioFingerprintColumn (or any
    // binary -> 4-band struct column) for other modalities
    val fp = Option(fingerprint).getOrElse(imageDHashColumn)
    // ONE dedup operator over the whole stream — the earlier
    // decodable/undecodable union evaluated the decode UDF once per
    // branch, doubling codec cost per ingested row. Decodable rows
    // key on the fingerprint alone (constant salt); undecodable rows
    // salt with a per-row uuid so they can never collide with
    // anything and always pass through.
    media.withColumn("_fp", fp(col("content")))
      .withColumn("_salt",
        when(col("_fp").isNotNull, lit("")).otherwise(expr("uuid()")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp", "_salt")
      .drop("_fp", "_salt")
  }

  /** Real audio decode → integer signal moments, one codec pass per
    * partition. All features are exact int64 sums (energy of a 16-bit
    * signal needs ~2^31 per second — int64 holds hours) except
    * amp_mean, a single IEEE divide both engines perform identically.
    * Undecodable/null content yields `ok = false`, row kept. */
  def audioFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("sample_rate", LongType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("amp_min", LongType, nullable = true),
      StructField("amp_max", LongType, nullable = true),
      StructField("amp_sum", LongType, nullable = true),
      StructField("energy", LongType, nullable = true),
      StructField("zero_crossings", LongType, nullable = true),
      StructField("amp_mean", DoubleType, nullable = true)))
    val rdd = df.select("media_id", "content").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val clip = decodePcm(bytes)
        if (clip == null || clip.samples.isEmpty)
          Row(id, false, null, null, null, null, null, null, null, null, null)
        else {
          val s = clip.samples
          var sum = 0L; var energy = 0L; var zc = 0L
          var mn = Long.MaxValue; var mx = Long.MinValue
          var i = 0
          while (i < s.length) {
            val v = s(i).toLong
            sum += v; energy += v * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            if (i > 0 && ((s(i - 1) >= 0) != (s(i) >= 0))) zc += 1
            i += 1
          }
          val n = s.length.toLong
          Row(id, true, clip.rate.toLong, n, n * 1000L / clip.rate,
            mn, mx, sum, energy, zc, sum.toDouble / n)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
