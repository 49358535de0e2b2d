package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Tables => T}
import graft.io.Feather
import graft.ml.Similarity

/** Round-18 batch: Arrow embedding-vector ingest — the r17 verdict's
  * top ask. `fixed_size_list<float32>` and `list<float32>` columns
  * (the two standard Arrow layouts for embedding tables; reference
  * hooks: read_data dispatch gofast/core/io.py:826 feeding
  * apply_word_embeddings, gofast/dataops/preprocessing.py:3285-3534)
  * now read through readFeatherTyped / readFeatherTypedPaged as
  * ArrayType(FloatType) instead of refusing — so the engine's most
  * common ANN input arrives through a real scan.
  *
  *  - `read_feather_vec`: the embeddings table exported half as
  *    fixed_size_list<float32>, half as list<float32> (zstd), re-
  *    ingested typed — with the block-parallel typed scan asserted
  *    equal to the whole-file read in-entry — and queried by the
  *    brute-force cosine path, landing on cosine_topk's closed form
  *    verbatim (the feather_media_dedup convention: the container
  *    round-trip must be invisible to the ANN arithmetic). FULL
  *    oracle.
  *  - `feather_embed_dedup`: the SemDeDup planted corpus written as a
  *    vector feather file and re-deduped after ingest, landing on
  *    semantic_dedup's oracle verbatim. FULL oracle.
  *  - `media_pipeline`: the composed multimodal pipeline (Arrow blob
  *    ingest → perceptual dedup → decoded-pixel quality gate →
  *    pack_shards), mirroring llm_pipeline's composed-entry
  *    convention so the media path has ONE end-to-end oracle-anchored
  *    artifact. FULL oracle (analytic pixel replay end to end).
  *  - `media_dedup_stream`: streaming media dedup-on-ingest replayed
  *    over a MemoryStream and anchored to the closed-form fingerprint
  *    set (one survivor per distinct 64-bit dHash, undecodables pass
  *    through). FULL oracle.
  *  - `read_sas_be`: big-endian sas7bdat (an LE shard + a BE
  *    RDC-compressed shard in one scan) onto read_sas7bdat's closed
  *    form — the byte order must be invisible to the records. FULL
  *    oracle.
  *  - `read_dta_113`: classic pre-114 Stata (a release-113 shard + a
  *    release-118 shard in one scan) onto read_dta's closed form —
  *    the release must be invisible to the records. FULL oracle.
  */
object Batch46Entries extends Entries {

  /** One vector-feather export per (dir, JVM) — the testdata is
    * immutable, so timed passes re-read the same files instead of
    * re-serializing them (the npyShardDir convention: entries time the
    * INGEST+SEARCH path — corpora are written once, queried forever).
    * Exports emb_fsl.feather (even vec_ids, fixed_size_list<f32>),
    * emb_lst.feather (odd vec_ids, list<f32>, zstd) and
    * emb_planted.feather (the SemDeDup planted corpus,
    * fixed_size_list<f32>); returns the directory. */
  private def vecDir(s: SparkSession, dir: String): String =
    Fixtures.cached(s"vec_feathers:$dir") {
      val tmp = Fixtures.tempDir("graft_vec_ingest_")
      def dump(df: DataFrame, kind: Char, name: String,
               zstd: Boolean): Unit = {
        // ≤4k rows × 64 floats (TESTDATA.md) — a bounded driver write
        val data = df.select("vec_id", "embedding").collect()
          .sortBy(_.getLong(0))
          .map(r => Seq[Any](r.getLong(0).toDouble,
            r.getSeq[Float](1).toIndexedSeq))
          .toSeq
        java.nio.file.Files.write(tmp.resolve(name),
          Feather.dumpsTyped(Seq(("vec_id", 'n'), ("embedding", kind)),
            data, rowsPerBatch = 256, zstd = zstd))
      }
      val emb = T.embeddings(s, dir)
      dump(emb.filter(col("vec_id") % 2 === 0), 'v', "emb_fsl.feather",
        zstd = false)
      dump(emb.filter(col("vec_id") % 2 === 1), 'V', "emb_lst.feather",
        zstd = true)
      dump(Batch14Entries.withPlantedDups(emb), 'v',
        "emb_planted.feather", zstd = false)
      tmp.toString
    }

  private def typedVecs(s: SparkSession, path: String): DataFrame =
    Feather.readFeatherTyped(s, path)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

  /** The 32-BMP perceptual corpus as ONE multi-batch zstd Arrow file,
    * written once per JVM — media_pipeline's ingest fixture (the
    * Batch45 mediaCorpus convention, Arrow container). */
  private def mediaFeather(s: SparkSession): String =
    Fixtures.cached("media_feather")(
      Fixtures.tempFile("graft_media_pipe_", ".feather")(
        Feather.dumpsTyped(Batch42Entries.dhash256Cols,
          Batch42Entries.dhash256Rows(s),
          rowsPerBatch = 8, zstd = true))) // 4 blocks: the scan splits

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "read_feather_vec" -> ((s, dir) => {
      val d = vecDir(s, dir)
      val whole = typedVecs(s, s"$d/emb_fsl.feather")
      // law, asserted in-entry (the dta_media_dedup convention): the
      // block-parallel typed scan of the same bytes must hand back
      // identical vector cells
      val paged = Feather.readFeatherTypedPaged(s, s"$d/emb_fsl.feather",
          partitions = 4)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      require(paged.exceptAll(whole).isEmpty &&
          whole.exceptAll(paged).isEmpty,
        "read_feather_vec: typed paged scan diverged from the " +
          "whole-file typed read")
      val rebuilt = whole.unionByName(typedVecs(s, s"$d/emb_lst.feather"))
      val q = rebuilt.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.cosineTopK(rebuilt, "embedding", "vec_id", q, k = 10)
        .withColumn("cos", round(col("cos"), 9))
    }),

    // SemDeDup over an Arrow-ingested corpus: the planted near-dups
    // round-trip through fixed_size_list<float32> exactly (floats stay
    // floats), so the greedy screen lands on semantic_dedup's answer.
    // broadcast(): the RDD-backed typed read has no size stats, so the
    // bounded exact screen would degenerate to a CartesianProduct
    // without the hint — with it the plan is semantic_dedup's BNLJ
    // (the adjudicated exact-twin shape; the IVF variant is the scale
    // path)
    "feather_embed_dedup" -> ((s, dir) => {
      val d = vecDir(s, dir)
      Similarity.semanticDedupExact(
          broadcast(typedVecs(s, s"$d/emb_planted.feather")),
          "vec_id", "embedding", threshold = 0.9)
        .select("vec_id")
        .orderBy("vec_id")
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
      val typed = Feather.readFeatherTypedPaged(s, mediaFeather(s),
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
    }),

    // Streaming media dedup-on-ingest, oracle-anchored: the 32-image
    // closed-form corpus + 16 byte-identical clones + 2 corrupt blobs
    // replayed over a MemoryStream through mediaDedupStream
    // (dropDuplicatesWithinWatermark on the exact 64-bit dHash), then
    // the SURVIVORS are re-fingerprinted. Exactly one survivor per
    // distinct fingerprint must remain (which clone of a tie survives
    // is arrival-order dependent, so the entry projects the
    // fingerprints, not the ids) and both undecodable rows must pass
    // through un-deduped. DuckDB replays the fingerprints analytically
    // from the same closed-form pixels — a dedup that dropped nothing
    // (dup fingerprint rows) or too much (a missing fingerprint, an
    // eaten corrupt row) breaks the row set.
    // Big-endian sas7bdat (r18): one shard little-endian, one
    // BIG-endian (RDC-compressed — endianness × codec crossed), read
    // through the same scan and landing on read_sas7bdat's closed
    // form. Our BE writer's bytes are pandas-validated
    // (tools/make_sas_fixture.py check-be).
    "read_sas_be" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i")
      }
      val cells = graft.io.Sas.readSasBlobs(s, Seq(
        ("shard_le.sas7bdat", graft.io.Sas.dumps(cols, rows(0 until 12))),
        ("shard_be.sas7bdat", graft.io.Sas.dumps(cols, rows(12 until 24),
          rdc = true, bigEndian = true))))
      graft.io.Sas.records(cells, cols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // Pre-114 classic Stata (r18): a release-113 shard (12-byte
    // formats, the Stata 8 layout; writer bytes pandas-validated via
    // make_dta_fixture.py check-113) + a release-118 shard in one
    // scan, landing on read_dta's closed form.
    "read_dta_113" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i")
      }
      val cells = graft.io.Dta.readDtaBlobs(s, Seq(
        ("shard_113.dta", graft.io.Dta.dumps113(cols, rows(0 until 12))),
        ("shard_118.dta", graft.io.Dta.dumps(cols, rows(12 until 24)))))
      graft.io.Dta.records(cells, cols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    "media_dedup_stream" -> ((s, dir) => {
      import s.implicits._
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      // 50 bounded fixture rows: the closed-form corpus collected once
      val base = Batch40Entries.dhashBmps(s)
        .select("media_id", "content")
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val rows: Seq[(java.sql.Timestamp, Long, Array[Byte])] =
        (base.map { case (id, c) => (ts, id, c) } ++
          base.filter(_._1 < 16).map { case (id, c) => (ts, 100L + id, c) } ++
          Seq(200L, 201L).map(id => (ts, id, Array[Byte](9, 9, 9)))).toSeq
      // three micro-batches of 17, 17 and 16 rows; state = one row
      // per distinct fingerprint in the horizon, bounded by the
      // replay's row count (driver-known)
      val kept = graft.stream.Streaming.replay(s,
          graft.stream.Streaming.microBatches(rows, 3), "append",
          stateRows = rows.length.toLong)(in =>
        graft.mm.Multimodal.mediaDedupStream(
            in.toDF("ts", "media_id", "content"), "ts", "10 minutes")
          .select("media_id", "content"))
      graft.mm.Multimodal.imageDHash(kept)
        .select(col("ok"), col("b0"), col("b1"), col("b2"), col("b3"))
        .orderBy(col("ok").desc, col("b0"), col("b1"), col("b2"),
          col("b3"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // cosine_topk's oracle verbatim: the Arrow vector round-trip must
    // be invisible to the ANN arithmetic
    "read_feather_vec" -> TextEntries.oracleSql("cosine_topk"),
    // semantic_dedup's oracle verbatim, same convention
    "feather_embed_dedup" -> Batch27Entries.oracleSql("semantic_dedup"),

    // read_sas7bdat's closed form verbatim: the byte order must be
    // invisible to the decoded records
    "read_sas_be" -> Batch43Entries.oracleSql("read_sas7bdat"),

    // read_dta's closed form verbatim: the release must be invisible
    "read_dta_113" -> Batch43Entries.oracleSql("read_dta"),

    // one row per DISTINCT closed-form fingerprint (the clones add no
    // new groups) + the two pass-through undecodables; the 9×8
    // thumbnail bits replayed analytically, image_hash's band packing
    "media_dedup_stream" ->
      s"""WITH ${Batch40Entries.dhashPixCte},
        |hv AS (SELECT media_id,
        |  CAST(SUM(CASE WHEN idx // 16 = 0
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b0,
        |  CAST(SUM(CASE WHEN idx // 16 = 1
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b1,
        |  CAST(SUM(CASE WHEN idx // 16 = 2
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b2,
        |  CAST(SUM(CASE WHEN idx // 16 = 3
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b3
        |  FROM bits GROUP BY media_id)
        |SELECT TRUE AS ok, b0, b1, b2, b3
        |  FROM (SELECT DISTINCT b0, b1, b2, b3 FROM hv)
        |UNION ALL
        |SELECT FALSE AS ok, CAST(NULL AS INT) AS b0,
        |  CAST(NULL AS INT) AS b1, CAST(NULL AS INT) AS b2,
        |  CAST(NULL AS INT) AS b3 FROM range(2)
        |ORDER BY ok DESC, b0, b1, b2, b3""".stripMargin,

    // the full chain replayed analytically: brute-force pair screen
    // over the 256 gradient bits → greedy keep-lowest-id → 8×8
    // nearest-thumbnail pixel sum gate → one-window prefix-sum shard
    // ids (pack_shards' oracle form). Exact integers end to end.
    "media_pipeline" ->
      s"""WITH ${Batch42Entries.dhash256BitsCte},
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
}
