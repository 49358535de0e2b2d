package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Fixtures
import graft.io.{Dta, Feather}

/** Round-17 batch: the residual real-file refusals the r16 verdict
  * ranked first (reference: gofast/core/io.py:826 read_data dispatch;
  * writers map gofast/api/property.py:2825-2843).
  *
  *  - `read_feather_zstd`: ZSTD-compressed Arrow IPC buffers — the
  *    pyarrow `compression="zstd"` / polars / DuckDB export shape,
  *    previously a loud refusal. Decoded via the zstd-jni already on
  *    Spark's unmanaged classpath; the writer emits the same
  *    i64-prefixed BodyCompression layout back (pyarrow reads it,
  *    tools/make_feather_fixture.py). One zstd shard whole-file, one
  *    multi-batch zstd file through the batch-parallel scan — both
  *    must land on read_feather's closed form. FULL oracle.
  *  - `read_dta_strl_paged`: the range-parallel .dta scan no longer
  *    refuses strL files — strL cells travel as (v,o) refs and resolve
  *    via an equi-join against a GSO-table scan, so one huge strL .dta
  *    is no longer a single-task cliff. One strL shard through the
  *    paged scan + one through the whole-file kernel: the closed form
  *    is read_dta_strl's. FULL oracle.
  *  - `dta_media_dedup`: BINARY strL payloads (GSO t=129, previously a
  *    refusal) through [[Dta.readDtaTyped]] — BMP blobs land in a
  *    Stata file, come back as BinaryType and run the 256-bit
  *    perceptual dedup, landing on image_near_dups_256's pixel closed
  *    form verbatim (the feather_media_dedup convention — the Stata
  *    round-trip must be invisible to the dedup arithmetic). FULL
  *    oracle.
  */
object Batch45Entries extends Entries {

  private val shardCols = Seq(("id", true), ("grp", false),
    ("score", true), ("note", false))

  private def shardRows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
    Seq[Any](i.toDouble, s"g${i % 3}",
      if (i % 4 == 0) null else i * 0.5 - 3.0,
      if (i % 5 == 0) null else s"n$i")
  }

  /** One multi-batch ZSTD feather file per JVM for the batch-parallel
    * half of read_feather_zstd (the [[Batch44Entries]] write-once
    * convention). */
  private def zstdFile(): String = Fixtures.cached("feather_zstd")(
    Fixtures.tempFile("graft_feather_zstd_", ".feather")(
      Feather.dumps(shardCols, shardRows(300 until 600),
        rowsPerBatch = 64, zstd = true)))

  /** The media corpus as (blob, on-disk path), built once per JVM —
    * timed passes and multi-scale verify runs must not re-serialize
    * the BMP corpus per invocation. */
  private def mediaCorpus(s: SparkSession): (Array[Byte], String) =
    Fixtures.cached("dta_media_corpus") {
      val blob = Dta.dumpsTyped(Batch42Entries.dhash256Cols,
        Batch42Entries.dhash256Rows(s))
      (blob, Fixtures.tempFile("graft_media_corpus_", ".dta")(blob))
    }

  private def strlRows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
    Seq[Any](i.toDouble, s"g${i % 3}",
      if (i % 4 == 0) null else i * 0.5 - 3.0,
      if (i % 5 == 0) null else s"n$i" + ("q" * (i % 29)))
  }

  /** One strL .dta on disk per JVM for the paged half of
    * read_dta_strl_paged. */
  private def strlFile(): String = Fixtures.cached("dta_strl")(
    Fixtures.tempFile("graft_dta_strl_", ".dta")(
      Dta.dumps(shardCols, strlRows(0 until 300), strl = true)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "read_feather_zstd" -> ((s, dir) => {
      val whole = Feather.readFeatherBlobs(s, Seq(
        ("shard_a.feather",
          Feather.dumps(shardCols, shardRows(0 until 300),
            rowsPerBatch = 64, zstd = true))))
      val paged = Feather.readFeatherPaged(s, zstdFile())
      Feather.records(whole.unionByName(paged), shardCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    "read_dta_strl_paged" -> ((s, dir) => {
      val paged = Dta.readDtaPaged(s, strlFile())
      val whole = Dta.readDtaBlobs(s, Seq(
        ("shard_b.dta", Dta.dumps(shardCols, strlRows(300 until 600),
          strl = true))))
      Dta.records(paged.unionByName(whole), shardCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // BINARY strL payloads (t=129) through the TYPED .dta surface —
    // the feather_media_dedup closed form over a Stata container
    "dta_media_dedup" -> ((s, dir) => {
      val (blob, corpusPath) = mediaCorpus(s)
      val typed = Dta.readDtaTypedBlobs(s, Seq(("corpus.dta", blob)))
      // law, asserted in-entry (the feather_media_dedup convention):
      // the range-parallel TYPED scan of the same bytes — BOTH resolve
      // paths — must hand back the identical blobs (32 bounded rows)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("row"), col("media_id"), md5(col("content")),
          col("width"), col("height"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val wholeKey = key(typed.select(col("row"), col("media_id"),
        col("content"), col("width"), col("height")))
      Seq(64L << 20, 0L).foreach { bound =>
        val paged = Dta.readDtaTypedPaged(s, corpusPath,
          partitions = 4, gsoInlineBytes = bound)
        require(key(paged).toSeq == wholeKey.toSeq,
          s"dta_media_dedup: typed paged scan (gsoInlineBytes=$bound) " +
            "diverged from the whole-file typed read")
      }
      val rebuilt = typed.select(
        col("media_id").cast("long").as("media_id"),
        col("content"),
        struct(col("format"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
      graft.mm.Multimodal.bandedNearDups(
          graft.mm.Multimodal.imageDHash256(rebuilt), maxHamming = 3)
        .orderBy("id_a", "id_b")
    })
  )

  val oracleSql: Map[String, String] = Map(

    // read_feather's closed form — the zstd and plain codecs must land
    // on identical records
    "read_feather_zstd" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(600) t(id) ORDER BY id""",

    // read_dta_strl's closed form — the paged (GSO equi-join) and
    // whole-file strL decodes must agree
    "read_dta_strl_paged" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) ||
                       repeat('q', CAST(id % 29 AS INTEGER)) END AS note
      FROM range(600) t(id) ORDER BY id""",

    // image_near_dups_256's oracle verbatim: the Stata binary-strL
    // round-trip must be invisible to the pixel arithmetic
    "dta_media_dedup" -> Batch42Entries.oracleSql("image_near_dups_256")
  )
}
