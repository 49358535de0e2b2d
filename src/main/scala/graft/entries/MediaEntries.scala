package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Tables => T, Fixtures}
import graft.io.Feather
import graft.mm.Multimodal

/** Registry queries for `graft.mm`: binary-column plumbing, decoded
  * image and audio features, perceptual fingerprints and the banded
  * near-dup kernel, over closed-form decoded fixtures, plus the
  * composed media pipeline.
  */
object MediaEntries extends Entries {

  /** Deterministic synthetic corpus: 24 BMPs whose pixel luma is the
    * closed-form `(x·7 + y·13 + id·31) mod 256`, sizes varying with id
    * so the resize path (integer floor sampling) is exercised. The
    * oracle recomputes the identical integers from `range()` — the
    * Spark side must really decode the container to match. */
  private[graft] def syntheticBmps(s: SparkSession): DataFrame = {
    val rows = (0 until 24).map { id =>
      val w = 16 + (id % 3) * 4
      val h = 12 + (id % 2) * 6
      (id.toLong,
        Multimodal.encodeBmp(w, h, (x, y) => (x * 7 + y * 13 + id * 31) % 256),
        "bmp", w, h, 0L)
    }
    Multimodal.toMediaFrame(s, rows)
  }

  /** Deterministic synthetic audio corpus: 24 WAV clips whose 16-bit
    * PCM samples follow the closed form
    * `((i²·7 + i·13 + id·31) mod 4096) − 2048`, lengths and rates
    * varying with id, plus one undecodable blob (id 24). The oracle
    * recomputes the identical integers from `range()` — the Spark
    * side must really decode the WAV container to match. */
  private[graft] def syntheticWavs(s: SparkSession): DataFrame = {
    val rows: Seq[(Long, Array[Byte], String, Int, Int, Long)] =
      (0 until 24).map { id =>
        val n = 800 + id * 40
        val rate = 8000 + (id % 3) * 4000
        val samples = Array.tabulate(n)(i =>
          ((i * i * 7 + i * 13 + id * 31) % 4096) - 2048)
        (id.toLong, graft.mm.Multimodal.encodeWav(samples, rate), "wav",
          0, 0, n.toLong * 1000L / rate)
      } :+ ((24L, Array[Byte](1, 2, 3, 4, 5), "bin", 0, 0, 0L))
    graft.mm.Multimodal.toMediaFrame(s, rows)
  }

  /** dHash fixture: 32 real 16×16 BMPs in 4 pixel-pattern groups
    * (g = id % 4; luma = (x·(37+26g) + 11y) mod 256 — the multiplier
    * wraps several times across x, so the gradient-sign pattern
    * differs per group). Images 16..31 are NEAR-duplicates of their
    * id−16 sibling: one perturbed pixel at (5,4) — a site the 9×8
    * thumbnail samples — flipping at most 2 dHash bits. The oracle
    * recomputes every bit from this closed form; the Spark side must
    * really decode the BMP container to match. */
  private[graft] def dhashBmps(s: SparkSession): DataFrame = {
    val rows = (0 until 32).map { id =>
      val m = 37 + (id % 4) * 26
      (id.toLong,
        graft.mm.Multimodal.encodeBmp(16, 16, (x, y) =>
          (x * m + y * 11 +
            (if (id >= 16 && x == 5 && y == 4) 96 else 0)) % 256),
        "bmp", 16, 16, 0L)
    }
    graft.mm.Multimodal.toMediaFrame(s, rows)
  }

  /** Audio-fingerprint fixture: 16 real 16-bit WAVs of 1300 samples
    * (65 frames × exactly 20 samples), 4 sawtooth groups (g = id % 4;
    * s(i) = ((i·(7+6g)) mod 2001) − 1000). Clips 8..15 are
    * NEAR-duplicates of their id−8 sibling: samples [200, 210) — 10
    * samples inside frame 10 — shifted by +500, flipping at most the
    * two gradient bits that touch frame 10. The oracle recomputes
    * every frame energy from this closed form; the Spark side must
    * really decode the WAV container to match. */
  private[graft] def fingerprintWavs(s: SparkSession): DataFrame = {
    val rows = (0 until 16).map { id =>
      val m = 7 + (id % 4) * 6
      val samples = Array.tabulate(1300) { i =>
        (i * m) % 2001 - 1000 +
          (if (id >= 8 && i >= 200 && i < 210) 500 else 0)
      }
      (id.toLong, graft.mm.Multimodal.encodeWav(samples, 8000),
        "wav", 0, 0, 1300L * 1000 / 8000)
    }
    graft.mm.Multimodal.toMediaFrame(s, rows)
  }

  /** The dHash fixture's analytic thumbnail-pixel CTE (shared by both
    * image oracles): v(media_id, tx, ty) for the 9×8 grid. */
  private[entries] val dhashPixCte =
    """ids AS (SELECT unnest(range(0, 32)) AS media_id),
      |t AS (SELECT g.media_id, tx.i AS tx, ty.i AS ty,
      |    ((tx.i * 16 // 9) * (37 + (g.media_id % 4) * 26)
      |      + (ty.i * 2) * 11
      |      + CASE WHEN g.media_id >= 16 AND tx.i * 16 // 9 = 5
      |          AND ty.i * 2 = 4 THEN 96 ELSE 0 END) % 256 AS v
      |  FROM ids g,
      |    (SELECT unnest(range(0, 9)) AS i) tx,
      |    (SELECT unnest(range(0, 8)) AS i) ty),
      |bits AS (SELECT a.media_id, a.ty * 8 + a.tx AS idx,
      |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
      |  FROM t a JOIN t b ON a.media_id = b.media_id AND a.ty = b.ty
      |    AND b.tx = a.tx + 1
      |  WHERE a.tx < 8)""".stripMargin

  /** The audio fixture's analytic frame-energy bits CTE (shared by
    * both audio oracles). */
  private val audioBitsCte =
    """ids AS (SELECT unnest(range(0, 16)) AS media_id),
      |sm AS (SELECT g.media_id, i.i AS i,
      |    (i.i * (7 + (g.media_id % 4) * 6)) % 2001 - 1000
      |      + CASE WHEN g.media_id >= 8 AND i.i >= 200 AND i.i < 210
      |          THEN 500 ELSE 0 END AS s
      |  FROM ids g, (SELECT unnest(range(0, 1300)) AS i) i),
      |en AS (SELECT media_id, i // 20 AS k,
      |    SUM(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS e
      |  FROM sm GROUP BY 1, 2),
      |bits AS (SELECT a.media_id, a.k AS idx,
      |    CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
      |  FROM en a JOIN en b ON a.media_id = b.media_id AND b.k = a.k + 1
      |  WHERE a.k < 64)""".stripMargin

  /** 17×16 BMP fixture for the 256-bit dHash family — the
    * [[dhashBmps]] construction at the wider grid, so
    * `resizeNearestWH(17,16)` is the identity and the oracle replays
    * pixels with no resize mapping: pixel(x,y) = (x·m + y·11 + bump)
    * mod 256, m = 37 + (id mod 4)·26, bump = 96 at (5,4) for
    * id ≥ 16 (flips at most gradient bits 68/69 — a planted
    * near-dup). */
  private[graft] def dhash256Bmps(s: SparkSession): DataFrame = {
    val rows = (0 until 32).map { id =>
      val m = 37 + (id % 4) * 26
      (id.toLong,
        graft.mm.Multimodal.encodeBmp(17, 16, (x, y) =>
          (x * m + y * 11 +
            (if (id >= 16 && x == 5 && y == 4) 96 else 0)) % 256),
        "bmp", 17, 16, 0L)
    }
    graft.mm.Multimodal.toMediaFrame(s, rows)
  }

  /** Column spec of [[dhash256Rows]] for the typed feather and dta
    * writers. */
  private[graft] val dhash256Cols = Seq(("media_id", 'n'), ("content", 'y'),
    ("format", 's'), ("width", 'n'), ("height", 'n'))

  /** [[dhash256Bmps]] as writer rows in media_id order — the one input
    * of the feather and dta media fixtures. */
  private[graft] def dhash256Rows(s: SparkSession): Seq[Seq[Any]] =
    dhash256Bmps(s).select(col("media_id"), col("content"),
        col("meta.format"), col("meta.width"), col("meta.height"))
      .collect() // 32 fixture rows — a bounded driver write
      .sortBy(_.getLong(0))
      .map(r => Seq[Any](r.getLong(0).toDouble, r.getAs[Array[Byte]](1),
        r.getString(2), r.getInt(3).toDouble, r.getInt(4).toDouble))
      .toSeq

  /** Reinterpret a [0, 2^32) long as its signed 32-bit value without
    * an ANSI overflow throw. */
  private def signed32(c: org.apache.spark.sql.Column) =
    when(c >= lit(1L << 31), c - lit(1L << 32)).otherwise(c).cast("int")

  /** The 256 gradient bits of [[dhash256Bmps]] in closed form — the
    * thumbnail IS the 17×16 source, so no resize mapping. */
  private val dhash256BitsCte =
    """ids AS (SELECT unnest(range(0, 32)) AS media_id),
      |dims AS (SELECT media_id, 37 + (media_id % 4) * 26 AS m FROM ids),
      |grid AS (SELECT media_id, m, ty, tx FROM dims,
      |  (SELECT unnest(range(0, 16)) AS ty) AS tys,
      |  (SELECT unnest(range(0, 16)) AS tx) AS txs),
      |px AS (SELECT media_id, ty, tx,
      |  (tx * m + ty * 11 + CASE WHEN media_id >= 16 AND tx = 5
      |     AND ty = 4 THEN 96 ELSE 0 END) % 256 AS p0,
      |  ((tx + 1) * m + ty * 11 + CASE WHEN media_id >= 16
      |     AND tx + 1 = 5 AND ty = 4 THEN 96 ELSE 0 END) % 256 AS p1
      |  FROM grid),
      |bits AS (SELECT media_id, ty * 16 + tx AS idx,
      |  CASE WHEN p0 < p1 THEN 1 ELSE 0 END AS bit FROM px)""".stripMargin

  /** The 32-BMP perceptual corpus as ONE multi-batch zstd Arrow file,
    * written once per JVM — media_pipeline's ingest fixture (the
    * dta_media_dedup mediaCorpus convention, Arrow container). */
  private def mediaFeather(s: SparkSession): String =
    Fixtures.cached("media_feather")(
      Fixtures.tempFile("graft_media_pipe_", ".feather")(
        Feather.dumpsTyped(dhash256Cols,
          dhash256Rows(s),
          rowsPerBatch = 8, zstd = true))) // 4 blocks: the scan splits

  // Brute-forces all 496 pairs from the same bits — the banded join
  // must reproduce exactly the pairs at hamming <= 3.
  private val imageNearDupsSql =
    s"""WITH $dhashPixCte
      |SELECT a.media_id AS id_a, b.media_id AS id_b,
      |  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
      |    AS hamming
      |FROM bits a JOIN bits b ON a.idx = b.idx
      |  AND a.media_id < b.media_id
      |GROUP BY 1, 2 HAVING SUM(CASE WHEN a.bit <> b.bit
      |  THEN 1 ELSE 0 END) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  // brute-forces every pair from the same 256 bits — the 64-bit-band
  // join must reproduce exactly the pairs at hamming <= 3
  private[entries] val imageNearDups256Sql =
    s"""WITH $dhash256BitsCte
      |SELECT a.media_id AS id_a, b.media_id AS id_b,
      |  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
      |    AS hamming
      |FROM bits a JOIN bits b ON a.idx = b.idx
      |  AND a.media_id < b.media_id
      |GROUP BY 1, 2 HAVING SUM(CASE WHEN a.bit <> b.bit
      |  THEN 1 ELSE 0 END) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.10 multimodal plumbing over opaque binary columns
    // (mm.Multimodal schema): size, content hash, and fixed-offset byte
    // samples — the decode-free feature set, oracle-checked so the
    // binary-column path (cast, substring-on-bytes, hashing) is proven
    // engine-portable.
    "binary_meta" -> ((s, dir) => {
      val b = col("text").cast("binary")
      T.documents(s, dir).select(
          col("doc_id"),
          octet_length(b).as("n_bytes"),
          md5(b).as("content_hash"),
          substring(lower(hex(b)), 1, 16).as("head8"),
          substring(lower(hex(b)), 17, 16).as("next8"))
        .orderBy("doc_id")
    }),

    // §2.10 multimodal image codec (gofast/dataops/preprocessing.py:2161
    // Features.image_extraction): REAL decode of BMP containers via
    // javax.imageio, grayscale, 8×8 nearest-neighbor thumbnail, exact
    // integer pixel moments. Hash-match against the analytic oracle
    // proves the whole codec chain end-to-end.
    "image_features" -> ((s, dir) =>
      Multimodal.imageFeatures(syntheticBmps(s), thumbSide = 8)
        .orderBy("media_id")),

    // Multimodal.audioFeatures (mm/Multimodal.scala): real
    // javax.sound.sampled WAV decode → exact integer signal moments;
    // the corrupt blob must surface as ok=false with null features.
    "audio_features" -> ((s, dir) => {
      graft.mm.Multimodal.audioFeatures(syntheticWavs(s))
        .orderBy("media_id")
    }),

    // mm.Multimodal.sampleFrames: one row per sampled frame offset via
    // explode(sequence(...)) — a Generator, no shuffle. Synthetic
    // media metadata (the fixture pattern of image_features): duration
    // (id%10)·1000 ms, null for id%7==0 (coalesced to a single frame 0).
    "frame_sample" -> ((s, dir) => {
      val media = s.range(20).select(col("id").as("media_id"),
        struct(
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(col("id") % 10 * 1000L).as("duration_ms"),
          lit("mp4").as("format")).as("meta"))
      graft.mm.Multimodal.sampleFrames(media, everyMs = 2500L)
        .orderBy("media_id", "frame_ms")
    }),

    // Energy-envelope audio fingerprint over real decoded WAVs: 64
    // frame-energy gradient bits as four 16-bit bands. FULL oracle —
    // the analytic sample replay, the image_features convention.
    "audio_fingerprint" -> ((s, dir) => {
      graft.mm.Multimodal.audioFingerprint(fingerprintWavs(s))
        .orderBy("media_id")
    }),

    // Audio near-duplicates: the SAME bandedNearDups kernel as the
    // image path over the audio fingerprint — multimodal dedup covers
    // text, embeddings, images AND audio. FULL oracle — DuckDB
    // brute-forces all 120 pairs from the same bits.
    "audio_near_dups" -> ((s, dir) => {
      graft.mm.Multimodal.bandedNearDups(
          graft.mm.Multimodal.audioFingerprint(fingerprintWavs(s)),
          maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Perceptual dHash over real decoded BMPs: gradient bits from the
    // 9×8 thumbnail, emitted as four 16-bit bands. FULL oracle — the
    // analytic pixel replay, the image_features convention.
    "image_hash" -> ((s, dir) => {
      graft.mm.Multimodal.imageDHash(dhashBmps(s)).orderBy("media_id")
    }),

    // Image near-duplicates: banded equi-join on the dHash bands
    // (pigeonhole: hamming <= 3 shares a band), exact bit_count
    // verify — multimodal dedup joining the text dedup family. FULL
    // oracle — DuckDB brute-forces all 496 pairs from the same bits.
    "image_near_dups" -> ((s, dir) => {
      graft.mm.Multimodal.imageNearDups(
          graft.mm.Multimodal.imageDHash(dhashBmps(s)), maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // The wide (2×32-bit multi-index, radius-1 ball) near-dup kernel
    // over the SAME decoded-BMP dHash fixture as image_near_dups —
    // the scale path past the 16-bit bands' birthday knee at ~2^16
    // items (SCALE.md), pigeonhole-exact for hamming <= 3. FULL
    // oracle — image_near_dups' brute-force SQL verbatim: the wide
    // join must land on the identical pair set.
    "image_near_dups_wide" -> ((s, dir) => {
      graft.mm.Multimodal.bandedNearDupsWide(
          graft.mm.Multimodal.imageDHash(dhashBmps(s)),
          maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // 256-bit perceptual dHash over real decoded BMPs (the corpus-
    // scale hash that retires the wide kernel's ~2^25 knee): gradient
    // bits of the 17×16 thumbnail as four 64-bit bands, projected to
    // signed 32-bit halves so the oracle needs no 64-bit unsigned
    // gymnastics. FULL oracle — the analytic pixel replay.
    "image_hash256" -> ((s, dir) => {
      val h = graft.mm.Multimodal.imageDHash256(dhash256Bmps(s))
      val halves = (0 until 4).flatMap { k =>
        Seq(signed32(col(s"b$k").bitwiseAND(lit(0xFFFFFFFFL)))
            .as(s"h${2 * k}"),
          signed32(shiftrightunsigned(col(s"b$k"), 32)).as(s"h${2 * k + 1}"))
      }
      h.select((col("media_id") +: col("ok") +: halves): _*)
        .orderBy("media_id")
    }),

    // The SAME bandedNearDups kernel over the 256-bit hash: four
    // 64-bit band keys keep the exact hamming<=3 pigeonhole while
    // random band collisions fall to ~4n²/2^64 — no birthday knee at
    // any feasible corpus size, no ball explode (the scale path past
    // bandedNearDupsWide's ~33M items). FULL oracle — DuckDB
    // brute-forces every pair from the same 256 bits.
    "image_near_dups_256" -> ((s, dir) => {
      graft.mm.Multimodal.bandedNearDups(
          graft.mm.Multimodal.imageDHash256(dhash256Bmps(s)),
          maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // The composed multimodal pipeline — ONE end-to-end artifact for
    // the media path, mirroring llm_pipeline's convention: zstd Arrow
    // blob ingest (block-parallel typed scan) → 256-bit perceptual
    // dedup (keep-lowest-id over the banded pairs) → decoded-pixel
    // quality gate (8×8 thumbnail sum, integer-exact) → pack_shards
    // over the survivors by decoded pixel budget. A stage regression
    // that still passes its own oracle but mis-hands columns to the
    // next stage is exactly what this single chained oracle catches.
    // Every corpus-sized shuffle is keyed (band / media_id / bucket);
    // the dedup never goes n².
    "media_pipeline" -> ((s, dir) => {
      val typed = Feather.readTypedPaged(s, mediaFeather(s),
        partitions = 4)
      val media = typed.select(
        col("media_id").cast("long").as("media_id"),
        col("content"),
        struct(col("format"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
      // the drop-set kernel, not the pair kernel: identical blobs
      // collapse in one groupBy and the banded join runs over
      // DISTINCT fingerprints (clone-skew immune; same drop set)
      val drops = graft.mm.Multimodal.nearDupDrops(
        graft.mm.Multimodal.imageDHash256(media), maxHamming = 3)
      val survivors = media.join(drops, Seq("media_id"), "left_anti")
      // integer-exact gate: 64-pixel thumbnail sum (px_mean would be
      // the same gate but the sum keeps the oracle in BIGINTs)
      val kept = graft.mm.Multimodal.imageFeatures(survivors, thumbSide = 8)
        .filter(col("ok") && col("px_sum") <= 8100L)
        .select(col("media_id"), col("px_sum"))
      val sized = kept.join(survivors.select(col("media_id"),
          (col("meta.width") * col("meta.height")).cast("long").as("px")),
        Seq("media_id"))
      graft.text.Shards.packShards(sized, "media_id", "px",
          shardTokens = 500L, bucketExpr = floor(col("media_id") / 8))
        .select(col("media_id"), col("px_sum"), col("px"), col("shard"))
        .orderBy("media_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "binary_meta" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  md5(text) AS content_hash,
        |  substring(lower(hex(CAST(text AS BLOB))), 1, 16) AS head8,
        |  substring(lower(hex(CAST(text AS BLOB))), 17, 16) AS next8
        |FROM documents ORDER BY doc_id""".stripMargin,

    "image_features" ->
      """WITH ids AS (SELECT unnest(range(0, 24)) AS media_id),
        |dims AS (SELECT media_id,
        |    16 + (media_id % 3) * 4 AS w,
        |    12 + (media_id % 2) * 6 AS h
        |  FROM ids),
        |t AS (
        |  SELECT d.media_id, d.w, d.h,
        |    ((tx.i * d.w // 8) * 7 + (ty.i * d.h // 8) * 13 + d.media_id * 31) % 256 AS v
        |  FROM dims d,
        |    (SELECT unnest(range(0, 8)) AS i) tx,
        |    (SELECT unnest(range(0, 8)) AS i) ty)
        |SELECT media_id, TRUE AS ok,
        |  MIN(w) AS width, MIN(h) AS height,
        |  CAST(MIN(v) AS BIGINT) AS px_min,
        |  CAST(MAX(v) AS BIGINT) AS px_max,
        |  CAST(SUM(v) AS BIGINT) AS px_sum,
        |  CAST(SUM(v) AS BIGINT) / 64.0 AS px_mean,
        |  (64 * CAST(SUM(v * v) AS BIGINT) - CAST(SUM(v) AS BIGINT) * CAST(SUM(v) AS BIGINT)) / 4096.0 AS px_var
        |FROM t GROUP BY media_id ORDER BY media_id""".stripMargin,

    "audio_features" ->
      """WITH ids AS (SELECT unnest(range(0, 24)) AS media_id),
        |par AS (SELECT media_id,
        |    800 + media_id * 40 AS n,
        |    8000 + (media_id % 3) * 4000 AS rate
        |  FROM ids),
        |t AS (
        |  SELECT p.media_id, p.n, p.rate, i.i,
        |    ((i.i * i.i * 7 + i.i * 13 + p.media_id * 31) % 4096) - 2048 AS s
        |  FROM par p, (SELECT unnest(range(0, 2000)) AS i) i
        |  WHERE i.i < p.n),
        |lagged AS (
        |  SELECT media_id, n, rate, i, s,
        |    LAG(s) OVER (PARTITION BY media_id ORDER BY i) AS sp
        |  FROM t)
        |SELECT media_id, TRUE AS ok,
        |  MIN(rate) AS sample_rate,
        |  MIN(n) AS n_samples,
        |  MIN(n) * 1000 // MIN(rate) AS duration_ms,
        |  MIN(s) AS amp_min,
        |  MAX(s) AS amp_max,
        |  CAST(SUM(s) AS BIGINT) AS amp_sum,
        |  CAST(SUM(s * s) AS BIGINT) AS energy,
        |  CAST(SUM(CASE WHEN sp IS NOT NULL
        |    AND ((sp >= 0) != (s >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings,
        |  CAST(SUM(s) AS DOUBLE) / MIN(n) AS amp_mean
        |FROM lagged
        |GROUP BY media_id
        |UNION ALL
        |SELECT 24, FALSE, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |  NULL, NULL
        |ORDER BY media_id""".stripMargin,

    "frame_sample" ->
      """WITH m AS (SELECT unnest(range(0, 20)) AS media_id),
        |d AS (SELECT media_id,
        |        CASE WHEN media_id % 7 = 0 THEN NULL
        |             ELSE (media_id % 10) * 1000 END AS dur
        |      FROM m)
        |SELECT media_id,
        |  unnest(generate_series(0, COALESCE(dur, 0), 2500)) AS frame_ms,
        |  'mp4' AS format
        |FROM d
        |ORDER BY media_id, frame_ms""".stripMargin,

    // Replays audioFingerprint from the closed-form samples: same
    // 20-sample frames, same energy gradients, same band packing.
    "audio_fingerprint" ->
      s"""WITH $audioBitsCte
        |SELECT media_id, TRUE AS ok,
        |  CAST(SUM(CASE WHEN idx // 16 = 0
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b0,
        |  CAST(SUM(CASE WHEN idx // 16 = 1
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b1,
        |  CAST(SUM(CASE WHEN idx // 16 = 2
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b2,
        |  CAST(SUM(CASE WHEN idx // 16 = 3
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b3
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin,

    // Brute-forces all 120 pairs from the same bits.
    "audio_near_dups" ->
      s"""WITH $audioBitsCte
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
        |    AS hamming
        |FROM bits a JOIN bits b ON a.idx = b.idx
        |  AND a.media_id < b.media_id
        |GROUP BY 1, 2 HAVING SUM(CASE WHEN a.bit <> b.bit
        |  THEN 1 ELSE 0 END) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Replays imageDHash from the closed-form pixels: same thumbnail
    // floor-sampling, same gradient bits, same 16-bit band packing.
    "image_hash" ->
      s"""WITH $dhashPixCte
        |SELECT media_id, TRUE AS ok,
        |  CAST(SUM(CASE WHEN idx // 16 = 0
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b0,
        |  CAST(SUM(CASE WHEN idx // 16 = 1
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b1,
        |  CAST(SUM(CASE WHEN idx // 16 = 2
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b2,
        |  CAST(SUM(CASE WHEN idx // 16 = 3
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b3
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin,

    "image_near_dups" -> imageNearDupsSql,
    "image_near_dups_wide" -> imageNearDupsSql,

    // the 256 bits packed into eight signed 32-bit halves — BIGINT
    // arithmetic throughout (no unsigned-64 gymnastics)
    "image_hash256" -> {
      val hs = (0 until 8).map(j =>
        s"CAST(MAX(CASE WHEN j = $j THEN sig END) AS INT) AS h$j")
        .mkString(",\n        |  ".stripMargin)
      s"""WITH $dhash256BitsCte,
        |halves AS (SELECT media_id, idx // 32 AS j,
        |  SUM(bit * (1::BIGINT << (idx % 32))) AS s
        |  FROM bits GROUP BY 1, 2),
        |sg AS (SELECT media_id, j, CASE WHEN s >= 2147483648
        |  THEN s - 4294967296 ELSE s END AS sig FROM halves)
        |SELECT media_id, TRUE AS ok,
        |  $hs
        |FROM sg GROUP BY media_id ORDER BY media_id""".stripMargin
    },

    "image_near_dups_256" -> imageNearDups256Sql,

    // the full chain replayed analytically: brute-force pair screen
    // over the 256 gradient bits → greedy keep-lowest-id → 8×8
    // nearest-thumbnail pixel sum gate → one-window prefix-sum shard
    // ids (pack_shards' oracle form). Exact integers end to end.
    "media_pipeline" ->
      s"""WITH ${dhash256BitsCte},
        |pairs AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b
        |  FROM bits a JOIN bits b ON a.idx = b.idx
        |    AND a.media_id < b.media_id
        |  GROUP BY 1, 2
        |  HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3),
        |surv AS (
        |  SELECT media_id FROM ids
        |  WHERE media_id NOT IN (SELECT id_b FROM pairs)),
        |thumb AS (
        |  SELECT s.media_id,
        |    SUM(((tx * 17 // 8) * (37 + (s.media_id % 4) * 26)
        |      + (ty * 16 // 8) * 11
        |      + CASE WHEN s.media_id >= 16 AND tx * 17 // 8 = 5
        |             AND ty * 16 // 8 = 4 THEN 96 ELSE 0 END) % 256)
        |      AS px_sum
        |  FROM surv s,
        |    (SELECT unnest(range(0, 8)) AS ty) tys,
        |    (SELECT unnest(range(0, 8)) AS tx) txs
        |  GROUP BY 1),
        |kept AS (
        |  SELECT media_id, CAST(px_sum AS BIGINT) AS px_sum,
        |    CAST(272 AS BIGINT) AS px
        |  FROM thumb WHERE px_sum <= 8100),
        |c AS (
        |  SELECT *, SUM(px) OVER (ORDER BY media_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM kept)
        |SELECT media_id, px_sum, px,
        |  CAST((cum - px) // 500 AS BIGINT) AS shard
        |FROM c ORDER BY media_id""".stripMargin
  )

  override val globalWindowAllowed: Set[String] = Set(
    // row-scale, still to rewrite to a partitioned or two-phase form:
    // the window runs over a table that grows with the data (shard
    // buckets of the survivors)
    "media_pipeline")
}
