package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Fixtures
import graft.io.{Dta, Sas, Sav}

/** Round-16 batch: the compressed statistical-format closures the r15
  * verdict ranked as the residuals a real user hits first (reference:
  * gofast/core/io.py:826 read_data → pandas dispatch; compressed
  * output is the DEFAULT in many SAS/SPSS/Stata shops).
  *
  *  - `read_sas_rle`: RLE-compressed ("SASYZCRL") sas7bdat — every row
  *    its own comp-4 data subheader, decompressed per row inside the
  *    task ([[Sas.rleDecompress]], every op pandas-confirmed). One
  *    shard read whole-file off the blob kernel, one written to disk
  *    and read through the PAGE-PARALLEL scan — compression keeps rows
  *    page-local, so the within-file split survives. FULL oracle.
  *  - `read_zsav`: zlib-compressed SPSS ($FL3 / compression 2) — the
  *    PSPP-documented zheader/ztrailer block table inflated with the
  *    JDK Inflater per-partition, the inflated stream decoded by the
  *    same bytecode path as compression 1. One shard zsav, one plain
  *    bytecode: both codecs must land on the identical closed form.
  *    FULL oracle.
  *  - `read_dta_strl`: Stata strL (type 32768) columns — (v, o) cell
  *    refs resolved against the <strls> GSO table (the layout pandas
  *    .to_stata(convert_strl) emits; both the reader and the writer
  *    are pandas-cross-validated, DtaSpec). One strL shard + one
  *    fixed-width shard land on one closed form. FULL oracle.
  *  - `read_xlsx_dir`: a DIRECTORY of workbooks parsed TASK-SIDE
  *    (reference read_worksheets, gofast/utils/data_utils.py:3864 —
  *    previously driver-serialized): each binaryFile task unzips and
  *    StAX-walks its own workbooks; header + column types fitted once
  *    from the first workbook. FULL oracle — the workbooks' closed
  *    form.
  *  - `read_sas_rdc`: RDC-compressed ("SASYZCR2") sas7bdat — the
  *    OTHER SAS codec, control-word commands (fills + back-copies)
  *    probed against pandas byte-for-byte; same subheader-per-row
  *    shape as RLE, so the page-parallel scan splits it identically.
  *    FULL oracle.
  *  - `read_feather`: Feather v2 / Arrow IPC (the LAST named format in
  *    the reference writers map, property.py:2835) — flatbuffer
  *    footer/schema/batch navigation with a ~60-line vtable walker,
  *    LZ4-frame buffer decode, record batches split across tasks by
  *    [[graft.io.Feather.readFeatherPaged]] after a bounded footer
  *    TAIL read. One multi-batch shard read whole, one through the
  *    batch-parallel scan. FULL oracle.
  */
object Batch44Entries extends Entries {

  private val rleCols = Seq(("id", true), ("grp", false), ("score", true),
    ("note", false))

  private def rleRows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
    Seq[Any](i.toDouble, s"g${i % 3}",
      if (i % 4 == 0) null else i * 0.5 - 3.0,
      // long y-runs + space pads exercise repeats and fills; the note
      // is null every 5th row (reads back as missing)
      if (i % 5 == 0) null else s"n$i" + ("y" * (i % 37)))
  }

  /** One workbook DIRECTORY per JVM (8 homogeneous single-sheet
    * exports — the read_worksheets deploy shape). */
  private def xlsxDir(s: SparkSession): String = Fixtures.cached("xlsx_dir") {
    val tmp = Fixtures.tempDir("graft_xlsx_dir_")
    (0 until 8).foreach { f =>
      val df = s.range(f * 75, f * 75 + 75).selectExpr(
        "CAST(id AS DOUBLE) AS id",
        "'g' || CAST(id % 3 AS STRING) AS grp",
        "CASE WHEN id % 4 = 0 THEN NULL " +
          "ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score",
        "CASE WHEN id % 5 = 0 THEN NULL " +
          "ELSE 'n' || CAST(id AS STRING) END AS note")
      graft.io.Excel.writeXlsx(
        tmp.resolve(f"wb_$f%02d.xlsx").toString, Seq("data" -> df))
    }
    tmp.toString
  }

  /** One multi-batch feather file per JVM for the batch-parallel half
    * of read_feather. */
  private def featherFile(): String = Fixtures.cached("feather_file") {
    val cols = Seq(("id", true), ("grp", false), ("score", true),
      ("note", false))
    val data = (300 until 600).map { i =>
      Seq[Any](i.toDouble, s"g${i % 3}",
        if (i % 4 == 0) null else i * 0.5 - 3.0,
        if (i % 5 == 0) null else s"n$i")
    }
    Fixtures.tempFile("graft_feather_", ".feather")(
      graft.io.Feather.dumps(cols, data, rowsPerBatch = 64))
  }

  /** One RLE and one RDC sas7bdat on disk per JVM for the paged half of
    * their entries (the [[Batch43Entries]] write-once convention). */
  private def rleFile(): String = Fixtures.cached("sas_rle")(
    Fixtures.tempFile("graft_sas_rle_", ".sas7bdat")(
      Sas.dumps(rleCols, rleRows(600 until 1200), rle = true)))

  private def rdcFile(): String = Fixtures.cached("sas_rdc")(
    Fixtures.tempFile("graft_sas_rdc_", ".sas7bdat")(
      Sas.dumps(rleCols, rleRows(600 until 1200), rdc = true)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // half the rows arrive as an in-memory RLE blob through the
    // whole-file kernel, half through the page-parallel scan of an RLE
    // file on disk — one entry covers BOTH decode paths end to end
    "read_sas_rle" -> ((s, dir) => {
      val whole = Sas.readSasBlobs(s, Seq(
        ("shard_a.sas7bdat",
          Sas.dumps(rleCols, rleRows(0 until 600), rle = true))))
      val paged = Sas.readSasPaged(s, rleFile())
      Sas.records(whole.unionByName(paged), rleCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // the OTHER SAS codec through both decode paths: one RDC blob
    // whole-file, one RDC file through the page-parallel scan
    "read_sas_rdc" -> ((s, dir) => {
      val whole = Sas.readSasBlobs(s, Seq(
        ("shard_a.sas7bdat",
          Sas.dumps(rleCols, rleRows(0 until 600), rdc = true))))
      val paged = Sas.readSasPaged(s, rdcFile())
      Sas.records(whole.unionByName(paged), rleCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    "read_zsav" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i")
      }
      val cells = Sav.readSavBlobs(s, Seq(
        ("shard_a.zsav", Sav.dumps(cols, rows(0 until 300), zsav = true)),
        ("shard_b.sav", Sav.dumps(cols, rows(300 until 600),
          bytecode = true))))
      Sav.records(cells, cols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // very long strings (info subtype 14): values past 255 bytes span
    // 252-byte segments; one zsav shard + one plain shard, strings up
    // to ~600 bytes, one closed form
    "read_sav_vls" -> ((s, dir) => {
      val cols = Seq(("id", true), ("doc", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble,
          if (i % 6 == 0) null
          else s"d$i:" + ("x" * ((i * 53) % 580)))
      }
      val cells = Sav.readSavBlobs(s, Seq(
        ("shard_a.sav", Sav.dumps(cols, rows(0 until 150))),
        ("shard_b.zsav", Sav.dumps(cols, rows(150 until 300), zsav = true))))
      Sav.records(cells, cols)
        .select(col("id"), col("doc"))
        .orderBy("id")
    }),

    "read_dta_strl" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i" + ("q" * (i % 29)))
      }
      val cells = Dta.readDtaBlobs(s, Seq(
        ("shard_a.dta", Dta.dumps(cols, rows(0 until 300), strl = true)),
        ("shard_b.dta", Dta.dumps(cols, rows(300 until 600)))))
      Dta.records(cells, cols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    "read_xlsx_dir" -> ((s, dir) => {
      graft.io.Excel.readXlsxDir(s, xlsxDir(s))
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // the media-corpus glue: BMP blobs land as an Arrow BINARY column
    // (the real-world layout for media corpora), come back through the
    // TYPED feather reader, and run the perceptual-dedup stack — the
    // same 112 pairs image_near_dups_256's oracle brute-forces from
    // the pixel closed form, so the ingest path is oracle-gated end
    // to end (the npy_ann_topk composition convention)
    "feather_media_dedup" -> ((s, dir) => {
      val blob = graft.io.Feather.dumpsTyped(Batch42Entries.dhash256Cols,
        Batch42Entries.dhash256Rows(s), rowsPerBatch = 8)
      val typed = graft.io.Feather.readFeatherTypedBlobs(s,
        Seq(("corpus.feather", blob)))
      // law, asserted in-entry (the merge-artifact convention): the
      // block-parallel TYPED scan of the same bytes must hand back the
      // identical blobs — 32 bounded rows, so the compare is cheap
      val tmp = Fixtures.tempFile("graft_media_corpus_", ".feather")(blob)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("row"), col("media_id"), md5(col("content")),
          col("format"), col("width"), col("height"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val paged = graft.io.Feather.readFeatherTypedPaged(s, tmp,
        partitions = 4)
      require(key(paged).toSeq == key(typed).toSeq,
        "feather_media_dedup: typed paged scan diverged from the " +
          "whole-file typed read")
      val rebuilt = typed.select(
        col("media_id").cast("long").as("media_id"),
        col("content"),
        struct(col("format"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
      graft.mm.Multimodal.bandedNearDups(
          graft.mm.Multimodal.imageDHash256(rebuilt), maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    "read_feather" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i")
      }
      val whole = graft.io.Feather.readFeatherBlobs(s, Seq(
        ("shard_a.feather",
          graft.io.Feather.dumps(cols, rows(0 until 300),
            rowsPerBatch = 64))))
      val paged = graft.io.Feather.readFeatherPaged(s, featherFile())
      graft.io.Feather.records(whole.unionByName(paged), cols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    })
  )

  val oracleSql: Map[String, String] = Map(

    // the closed form of both shards: 1200 rows, notes carry the
    // y-run padding the compressor squeezes
    "read_sas_rle" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) ||
                       repeat('y', CAST(id % 37 AS INTEGER)) END AS note
      FROM range(1200) t(id) ORDER BY id""",

    // the RDC twin of read_sas_rle's closed form — the two SAS codecs
    // must land on identical records
    "read_sas_rdc" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) ||
                       repeat('y', CAST(id % 37 AS INTEGER)) END AS note
      FROM range(1200) t(id) ORDER BY id""",

    // the zsav/bytecode pair's shared closed form: 600 rows, any
    // divergence between the two codecs breaks exactly this entry
    "read_zsav" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(600) t(id) ORDER BY id""",

    // the segment-fold arithmetic in closed form: doc lengths sweep
    // 0..579 so every segment-count class (1, 2 and 3 segments) is hit
    "read_sav_vls" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             CASE WHEN id % 6 = 0 THEN NULL
                  ELSE 'd' || CAST(id AS VARCHAR) || ':' ||
                       repeat('x', CAST((id * 53) % 580 AS INTEGER))
             END AS doc
      FROM range(300) t(id) ORDER BY id""",

    // strL + fixed-width shards share one closed form — a ref-decode
    // or GSO-table divergence breaks exactly this entry
    "read_dta_strl" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) ||
                       repeat('q', CAST(id % 29 AS INTEGER)) END AS note
      FROM range(600) t(id) ORDER BY id""",

    // the workbook directory's closed form: 8 files x 75 rows, score
    // halves exact in the xlsx decimal round-trip
    "read_xlsx_dir" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(600) t(id) ORDER BY id""",

    // image_near_dups_256's oracle verbatim: the feather round-trip
    // must be invisible to the pixel arithmetic
    "feather_media_dedup" -> Batch42Entries.oracleSql("image_near_dups_256"),

    // the two feather shards' shared closed form — whole-file and
    // batch-parallel decode paths must agree bit for bit
    "read_feather" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(600) t(id) ORDER BY id"""
  )
}
