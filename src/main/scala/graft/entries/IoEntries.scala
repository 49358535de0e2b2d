package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Fixtures, Tables => T}
import graft.io.{Npy, Pickle, Dta, Sas, Sav, Xpt, Feather}
import graft.ml.Similarity

/** Registry queries for `graft.io` ingest: npy, pickle, fixed-width,
  * xlsx, sas7bdat, SPSS, Stata, SAS transport and Feather/Arrow
  * (reference: gofast/core/io.py:826 read_data → pandas dispatch;
  * writers map gofast/api/property.py:2825-2843). Each reader lands on
  * a closed form replayed in DuckDB from `range()`; twins over another
  * container or codec share one oracle, since the container must be
  * invisible to the records.
  */
object IoEntries extends Entries {

  /** One shard export per (dir, JVM): the testdata is immutable, so
    * bench passes re-read the same files instead of re-writing them —
    * the entry times the INGEST+SEARCH path, which is the deploy
    * shape (corpora are written once, queried forever). */
  private def npyShardDir(s: SparkSession, dir: String): String =
    Fixtures.cached(s"npy_shards:$dir") {
      val tmp = Fixtures.tempDir("graft_npy_ann_").toString
      Npy.writeNpyShards(T.embeddings(s, dir), "vec_id", "embedding",
        tmp, rowsPerShard = 256)
      tmp
    }

  /** One multi-page sas7bdat per JVM for the paged-scan entry — the
    * [[npyShardDir]] write-once convention. */
  private def pagedFile(): String = Fixtures.cached("sas_paged") {
    val cols = Seq(("k", true), ("txt", false))
    val data = (0 until 24000).map(i =>
      Seq(i.toDouble, s"v${i % 13}"): Seq[Any])
    Fixtures.tempFile("graft_sas_paged_", ".sas7bdat")(Sas.dumps(cols, data))
  }

  /** The closed-form record set the statistical-format entries write —
    * (id, g<id%3>, id*0.5-3 null every 4th id, n<id> + `noteTail(id)`
    * null every 5th id) — replayed in DuckDB by [[recordsSql]] and its
    * siblings. */
  private val recordCols = Seq(("id", true), ("grp", false),
    ("score", true), ("note", false))

  private def recordRows(ids: Range,
                         noteTail: Int => String = _ => ""): Seq[Seq[Any]] =
    ids.map { i =>
      Seq[Any](i.toDouble, s"g${i % 3}",
        if (i % 4 == 0) null else i * 0.5 - 3.0,
        if (i % 5 == 0) null else s"n$i" + noteTail(i))
    }

  // long y-runs + space pads exercise the SAS codecs' repeats and fills
  private def rleRows(ids: Range): Seq[Seq[Any]] =
    recordRows(ids, i => "y" * (i % 37))

  private def strlRows(ids: Range): Seq[Seq[Any]] =
    recordRows(ids, i => "q" * (i % 29))

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
  private def featherFile(): String = Fixtures.cached("feather_file")(
    Fixtures.tempFile("graft_feather_", ".feather")(
      Feather.dumps(recordCols, recordRows(300 until 600), rowsPerBatch = 64)))

  /** One RLE and one RDC sas7bdat on disk per JVM for the paged half of
    * their entries (the read_sas_paged write-once convention). */
  private def rleFile(): String = Fixtures.cached("sas_rle")(
    Fixtures.tempFile("graft_sas_rle_", ".sas7bdat")(
      Sas.dumps(recordCols, rleRows(600 until 1200), rle = true)))

  private def rdcFile(): String = Fixtures.cached("sas_rdc")(
    Fixtures.tempFile("graft_sas_rdc_", ".sas7bdat")(
      Sas.dumps(recordCols, rleRows(600 until 1200), rdc = true)))

  /** One multi-batch ZSTD feather file per JVM for the batch-parallel
    * half of read_feather_zstd (the read_sas_rle write-once
    * convention). */
  private def zstdFile(): String = Fixtures.cached("feather_zstd")(
    Fixtures.tempFile("graft_feather_zstd_", ".feather")(
      Feather.dumps(recordCols, recordRows(300 until 600),
        rowsPerBatch = 64, zstd = true)))

  /** The media corpus as (blob, on-disk path), built once per JVM —
    * timed passes and multi-scale verify runs must not re-serialize
    * the BMP corpus per invocation. */
  private def mediaCorpus(s: SparkSession): (Array[Byte], String) =
    Fixtures.cached("dta_media_corpus") {
      val blob = Dta.dumpsTyped(MediaEntries.dhash256Cols,
        MediaEntries.dhash256Rows(s))
      (blob, Fixtures.tempFile("graft_media_corpus_", ".dta")(blob))
    }

  /** One strL .dta on disk per JVM for the paged half of
    * read_dta_strl_paged. */
  private def strlFile(): String = Fixtures.cached("dta_strl")(
    Fixtures.tempFile("graft_dta_strl_", ".dta")(
      Dta.dumps(recordCols, strlRows(0 until 300), strl = true)))

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
      dump(MlEntries.withPlantedDups(emb), 'v',
        "emb_planted.feather", zstd = false)
      tmp.toString
    }

  private def typedVecs(s: SparkSession, path: String): DataFrame =
    Feather.readTyped(s, path)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

  // the sharded records' closed form: 24 rows across two files
  private val recordsSql = """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(24) t(id) ORDER BY id"""

  // the closed form of both shards: 1200 rows, notes carry the
  // y-run padding the compressor squeezes
  private val rleRecordsSql = """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) ||
                       repeat('y', CAST(id % 37 AS INTEGER)) END AS note
      FROM range(1200) t(id) ORDER BY id"""

  // the zsav/bytecode pair's shared closed form: 600 rows, any
  // divergence between the two codecs breaks exactly this entry
  private val records600Sql = """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(600) t(id) ORDER BY id"""

  // strL + fixed-width shards share one closed form — a ref-decode
  // or GSO-table divergence breaks exactly this entry
  private val strlRecordsSql = """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) ||
                       repeat('q', CAST(id % 29 AS INTEGER)) END AS note
      FROM range(600) t(id) ORDER BY id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // io.Npy parser (closes the read_data numpy descope,
    // gofast/api/property.py:2781): the arange(12,'<f4').reshape(3,4)
    // * 0.5 fixture synthesized IN-MEMORY by the npy writer and parsed
    // back by the same `elements` kernel the binaryFile scan uses —
    // no absolute fixture path to break under relocation (real
    // np.save-written files stay golden-tested in NpySpec). FULL
    // oracle — the closed form (i*4+j)*0.5, exact in f4 and f8 alike.
    "read_npy" -> ((s, dir) => {
      val blob = graft.io.Npy.npyBytes("<f4", Seq(3L, 4L),
        Array.tabulate(12)(_ * 0.5))
      graft.io.Npy.readBlobs(s, Seq(("f4_2d.npy", blob)))
        .select(col("dtype"),
          element_at(col("coords"), 1).as("i"),
          element_at(col("coords"), 2).as("j"),
          col("value"))
        .orderBy("i", "j")
    }),

    // read_data(npy) → similarity is the reference's io → preprocessing
    // → similarity pipeline shape (gofast/core/io.py:826 →
    // gofast/dataops/preprocessing.py:3285).
    // npy ingest feeding the ANN stack with zero driver detours: the
    // binaryFile scan parses shards per-partition, readNpyMatrix
    // regroups COO to per-row vectors, column 0 carries the id (the
    // self-describing shard layout — no sidecar index), and the f8
    // round-trip is exact for f4 embeddings (float widens losslessly),
    // so the top-10 matches cosine_topk's oracle verbatim. FULL oracle.
    "npy_ann_topk" -> ((s, dir) => {
      val mat = Npy.readNpyMatrix(s, npyShardDir(s, dir))
      val rebuilt = mat.select(
        element_at(col("values"), 1).cast("long").as("vec_id"),
        // length = size(values): slice clamps to the tail; an
        // Int.MaxValue length overflows Slice's start+length guard
        // and silently returns the EMPTY array.
        transform(slice(col("values"), lit(2), size(col("values"))),
          v => v.cast("float")).as("embedding"))
      val q = rebuilt.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.cosineTopK(rebuilt, "embedding", "vec_id", q, k = 10)
        .withColumn("cos", round(col("cos"), 9))
    }),

    // io.Pickle (closes the read_data pickle descope,
    // gofast/api/property.py:2781): a protocol-2 list-of-dicts frame
    // synthesized in-memory (the parser itself is golden-tested
    // against CPython-written fixtures in PickleSpec), parsed by the
    // pure-JVM subset reader — constructor opcodes refuse by design —
    // and pivoted to the wide record frame under the driver-inferred
    // schema. FULL oracle — the records' closed form.
    "read_pickle" -> ((s, dir) => {
      val recs = (0 until 12).map { i =>
        scala.collection.immutable.ListMap[String, Any](
          "id" -> i.toLong, "name" -> s"r${i % 3}",
          "score" -> i * 0.25, "flag" -> (i % 2 == 0),
          "note" -> (if (i % 4 == 0) null else s"n$i"))
      }
      val blob = Pickle.dumps(recs)
      Pickle.records(
          Pickle.readBlobs(s, Seq(("records.pkl", blob))),
          Pickle.inferKeys(Pickle.parse(blob)))
        .select(col("id"), col("name"), col("score"), col("flag"),
          col("note"))
        .orderBy("id")
    }),

    // the page-parallel scan of ONE large sas7bdat (binaryFile would
    // hand the whole file to a single task): driver reads a bounded
    // head for the metadata, executors pread their own page ranges.
    // 24k rows over ~68 data pages split across the default
    // parallelism; FULL oracle — the file's closed form.
    "read_sas_paged" -> ((s, dir) => {
      val cells = Sas.readPaged(s, pagedFile())
      Sas.records(cells, Seq(("k", true), ("txt", false)))
        .select(col("k"), col("txt"))
        .orderBy("k")
    }),

    // The pure-JVM sas7bdat subset reader: two shard files synthesized
    // in-memory by [[Sas.dumps]] (the writer's output is pandas-validated,
    // see SasSpec / tools/make_sas_fixture.py), parsed per-partition off
    // the blob kernel, pivoted to the wide record frame under the file's
    // own column metadata. FULL oracle — the records' closed form.
    "read_sas7bdat" -> ((s, dir) => {
      val cells = Sas.readBlobs(s, Seq(
        ("shard_a.sas7bdat", Sas.dumps(recordCols, recordRows(0 until 12))),
        ("shard_b.sas7bdat", Sas.dumps(recordCols, recordRows(12 until 24)))))
      Sas.records(cells, recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // The pure-JVM SPSS system-file subset reader: the SAME records, one
    // shard UNCOMPRESSED and one BYTECODE-compressed (both decode paths in
    // one entry), dictionary long names from the info-13 record. FULL
    // oracle — the same closed form.
    "read_sav" -> ((s, dir) => {
      val cells = Sav.readBlobs(s, Seq(
        ("shard_a.sav", Sav.dumps(recordCols, recordRows(0 until 12))),
        ("shard_b.sav", Sav.dumps(recordCols, recordRows(12 until 24),
          bytecode = true))))
      Sav.records(cells, recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // The pure-JVM Stata reader (releases 114-118; the reference writers
    // map carries `.stata`): shards written by [[Dta.dumps]]
    // (pandas.read_stata-validated, DtaSpec), sections located via the
    // format's own <map> offsets. FULL oracle — the same closed form.
    "read_dta" -> ((s, dir) => {
      val cells = Dta.readBlobs(s, Seq(
        ("shard_a.dta", Dta.dumps(recordCols, recordRows(0 until 12))),
        ("shard_b.dta", Dta.dumps(recordCols, recordRows(12 until 24)))))
      Dta.records(cells, recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // Fixed-width ingest (read_data(.fwf) → pandas read_fwf):
    // boundaries/types fitted once from a bounded sample, slicing pure
    // codegen substring so the scan stays splittable. FULL oracle.
    "read_fwf" -> ((s, dir) => {
      import s.implicits._
      val lines = "id    name  score" +: (0 until 30).map { i =>
        val score = if (i % 4 == 0) "" else f"${i * 0.25 - 2.0}%.2f"
        f"$i%-6d${s"g${i % 3}"}%-6s$score"
      }
      graft.io.Fwf.fromLines(lines.toDS()).orderBy("id")
    }),

    // SAS Transport V5 (the other pandas read_sas format): IBM System/360
    // float decode, 80-byte cards, pandas-validated writer (XptSpec). FULL
    // oracle — the shared closed form under the format's uppercase 8-char
    // names, aliased back.
    "read_xpt" -> ((s, dir) => {
      val cells = Xpt.readBlobs(s, Seq(
        ("shard_a.xpt", Xpt.dumps(recordCols, recordRows(0 until 12))),
        ("shard_b.xpt", Xpt.dumps(recordCols, recordRows(12 until 24)))))
      // V5 names are uppercase 8-char; alias back for the shared oracle
      Xpt.records(cells, Seq(("ID", true), ("GRP", false),
          ("SCORE", true), ("NOTE", false)))
        .select(col("ID").as("id"), col("GRP").as("grp"),
          col("SCORE").as("score"), col("NOTE").as("note"))
        .orderBy("id")
    }),

    // RLE-compressed ("SASYZCRL") sas7bdat: every row its own comp-4 data
    // subheader, decompressed per row inside the task
    // ([[Sas.rleDecompress]], every op pandas-confirmed). Compression keeps
    // rows page-local, so the within-file split survives. FULL oracle.
    // half the rows arrive as an in-memory RLE blob through the
    // whole-file kernel, half through the page-parallel scan of an RLE
    // file on disk — one entry covers BOTH decode paths end to end
    "read_sas_rle" -> ((s, dir) => {
      val whole = Sas.readBlobs(s, Seq(
        ("shard_a.sas7bdat",
          Sas.dumps(recordCols, rleRows(0 until 600), rle = true))))
      val paged = Sas.readPaged(s, rleFile())
      Sas.records(whole.unionByName(paged), recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // RDC-compressed ("SASYZCR2") sas7bdat: control-word commands (fills
    // + back-copies) probed against pandas byte-for-byte; same
    // subheader-per-row shape as RLE, so the page-parallel scan splits it
    // identically. FULL oracle.
    // the OTHER SAS codec through both decode paths: one RDC blob
    // whole-file, one RDC file through the page-parallel scan
    "read_sas_rdc" -> ((s, dir) => {
      val whole = Sas.readBlobs(s, Seq(
        ("shard_a.sas7bdat",
          Sas.dumps(recordCols, rleRows(0 until 600), rdc = true))))
      val paged = Sas.readPaged(s, rdcFile())
      Sas.records(whole.unionByName(paged), recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // zlib-compressed SPSS ($FL3 / compression 2): the PSPP-documented
    // zheader/ztrailer block table inflated with the JDK Inflater
    // per-partition, the inflated stream decoded by the same bytecode path
    // as compression 1. One shard zsav, one plain bytecode: both codecs
    // must land on the identical closed form. FULL oracle.
    "read_zsav" -> ((s, dir) => {
      val cells = Sav.readBlobs(s, Seq(
        ("shard_a.zsav",
          Sav.dumps(recordCols, recordRows(0 until 300), zsav = true)),
        ("shard_b.sav", Sav.dumps(recordCols, recordRows(300 until 600),
          bytecode = true))))
      Sav.records(cells, recordCols)
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
      val cells = Sav.readBlobs(s, Seq(
        ("shard_a.sav", Sav.dumps(cols, rows(0 until 150))),
        ("shard_b.zsav", Sav.dumps(cols, rows(150 until 300), zsav = true))))
      Sav.records(cells, cols)
        .select(col("id"), col("doc"))
        .orderBy("id")
    }),

    // Stata strL (type 32768) columns: (v, o) cell refs resolved against
    // the <strls> GSO table (the layout pandas .to_stata(convert_strl)
    // emits; both the reader and the writer are pandas-cross-validated,
    // DtaSpec). One strL shard + one fixed-width shard land on one closed
    // form. FULL oracle.
    "read_dta_strl" -> ((s, dir) => {
      val cells = Dta.readBlobs(s, Seq(
        ("shard_a.dta", Dta.dumps(recordCols, strlRows(0 until 300),
          strl = true)),
        ("shard_b.dta", Dta.dumps(recordCols, strlRows(300 until 600)))))
      Dta.records(cells, recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // A DIRECTORY of workbooks parsed TASK-SIDE (reference
    // read_worksheets, gofast/utils/data_utils.py:3864): each binaryFile
    // task unzips and StAX-walks its own workbooks; header + column types
    // fitted once from the first workbook. FULL oracle — the workbooks'
    // closed form.
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
      val blob = graft.io.Feather.dumpsTyped(MediaEntries.dhash256Cols,
        MediaEntries.dhash256Rows(s), rowsPerBatch = 8)
      val typed = graft.io.Feather.readTypedBlobs(s,
        Seq(("corpus.feather", blob)))
      // law, asserted in-entry (the merge-artifact convention): the
      // block-parallel TYPED scan of the same bytes must hand back the
      // identical blobs — 32 bounded rows, so the compare is cheap
      val tmp = Fixtures.tempFile("graft_media_corpus_", ".feather")(blob)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("row"), col("media_id"), md5(col("content")),
          col("format"), col("width"), col("height"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val paged = graft.io.Feather.readTypedPaged(s, tmp, partitions = 4)
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

    // Feather v2 / Arrow IPC (the last named format in the reference
    // writers map, property.py:2835): flatbuffer footer/schema/batch
    // navigation with a ~60-line vtable walker, LZ4-frame buffer decode,
    // record batches split across tasks by
    // [[graft.io.Feather.readPaged]] after a bounded footer TAIL
    // read. One multi-batch shard read whole, one through the
    // batch-parallel scan. FULL oracle.
    "read_feather" -> ((s, dir) => {
      val whole = Feather.readBlobs(s, Seq(
        ("shard_a.feather",
          Feather.dumps(recordCols, recordRows(0 until 300),
            rowsPerBatch = 64))))
      val paged = Feather.readPaged(s, featherFile())
      Feather.records(whole.unionByName(paged), recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // ZSTD-compressed Arrow IPC buffers (the pyarrow
    // `compression="zstd"` / polars / DuckDB export shape), decoded via the
    // zstd-jni already on Spark's classpath; the writer emits the same
    // i64-prefixed BodyCompression layout back (pyarrow reads it,
    // tools/make_feather_fixture.py). One zstd shard whole-file, one
    // multi-batch zstd file through the batch-parallel scan — both must
    // land on read_feather's closed form. FULL oracle.
    "read_feather_zstd" -> ((s, dir) => {
      val whole = Feather.readBlobs(s, Seq(
        ("shard_a.feather",
          Feather.dumps(recordCols, recordRows(0 until 300),
            rowsPerBatch = 64, zstd = true))))
      val paged = Feather.readPaged(s, zstdFile())
      Feather.records(whole.unionByName(paged), recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // The range-parallel .dta scan over strL files: strL cells travel as
    // (v,o) refs and resolve via an equi-join against a GSO-table scan, so
    // one huge strL .dta is no single-task cliff. One strL shard through
    // the paged scan + one through the whole-file kernel: the closed form
    // is read_dta_strl's. FULL oracle.
    "read_dta_strl_paged" -> ((s, dir) => {
      val paged = Dta.readPaged(s, strlFile())
      val whole = Dta.readBlobs(s, Seq(
        ("shard_b.dta", Dta.dumps(recordCols, strlRows(300 until 600),
          strl = true))))
      Dta.records(paged.unionByName(whole), recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // BINARY strL payloads (t=129) through the TYPED .dta surface —
    // the feather_media_dedup closed form over a Stata container
    "dta_media_dedup" -> ((s, dir) => {
      val (blob, corpusPath) = mediaCorpus(s)
      val typed = Dta.readTypedBlobs(s, Seq(("corpus.dta", blob)))
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
        val paged = Dta.readTypedPaged(s, corpusPath,
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
    }),

    // Arrow embedding-vector ingest: `fixed_size_list<float32>` and
    // `list<float32>` (the two standard Arrow layouts for embedding tables;
    // reference hooks gofast/core/io.py:826 feeding apply_word_embeddings,
    // gofast/dataops/preprocessing.py:3285-3534) read as
    // ArrayType(FloatType). The embeddings table is exported half as
    // fixed_size_list<float32>, half as list<float32> (zstd), re-ingested
    // typed — with the block-parallel typed scan asserted equal to the
    // whole-file read in-entry — and queried by the brute-force cosine
    // path, landing on cosine_topk's closed form verbatim (the container
    // round-trip must be invisible to the ANN arithmetic). FULL oracle.
    "read_feather_vec" -> ((s, dir) => {
      val d = vecDir(s, dir)
      val whole = typedVecs(s, s"$d/emb_fsl.feather")
      // law, asserted in-entry (the dta_media_dedup convention): the
      // block-parallel typed scan of the same bytes must hand back
      // identical vector cells
      val paged = Feather.readTypedPaged(s, s"$d/emb_fsl.feather",
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

    // Big-endian sas7bdat (r18): one shard little-endian, one
    // BIG-endian (RDC-compressed — endianness × codec crossed), read
    // through the same scan and landing on read_sas7bdat's closed
    // form. Our BE writer's bytes are pandas-validated
    // (tools/make_sas_fixture.py check-be).
    "read_sas_be" -> ((s, dir) => {
      val cells = Sas.readBlobs(s, Seq(
        ("shard_le.sas7bdat", Sas.dumps(recordCols, recordRows(0 until 12))),
        ("shard_be.sas7bdat", Sas.dumps(recordCols, recordRows(12 until 24),
          rdc = true, bigEndian = true))))
      Sas.records(cells, recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    // Pre-114 classic Stata (r18): a release-113 shard (12-byte
    // formats, the Stata 8 layout; writer bytes pandas-validated via
    // make_dta_fixture.py check-113) + a release-118 shard in one
    // scan, landing on read_dta's closed form.
    "read_dta_113" -> ((s, dir) => {
      val cells = Dta.readBlobs(s, Seq(
        ("shard_113.dta", Dta.dumps113(recordCols, recordRows(0 until 12))),
        ("shard_118.dta", Dta.dumps(recordCols, recordRows(12 until 24)))))
      Dta.records(cells, recordCols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // The npy fixture's closed form: value(i,j) = (i*4+j)*0.5, exact
    // in both f4 and f8.
    "read_npy" ->
      """SELECT '<f4' AS dtype, r.i, c.j,
        |  CAST(r.i * 4 + c.j AS DOUBLE) * 0.5 AS value
        |FROM (SELECT unnest(range(0, 3)) AS i) r,
        |     (SELECT unnest(range(0, 4)) AS j) c
        |ORDER BY i, j""".stripMargin,

    // the npy round-trip must land on the embedding table's own
    // brute-force answer — cosine_topk's oracle verbatim
    "npy_ann_topk" -> MlEntries.cosineTopkSql,

    // the pickled records' closed form
    "read_pickle" -> """
      SELECT CAST(id AS BIGINT) AS id,
             'r' || CAST(id % 3 AS VARCHAR) AS name,
             CAST(id AS DOUBLE) * 0.25 AS score,
             (id % 2 = 0) AS flag,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(12) t(id) ORDER BY id""",

    // the paged file's closed form
    "read_sas_paged" -> """
      SELECT CAST(id AS DOUBLE) AS k,
             'v' || CAST(id % 13 AS VARCHAR) AS txt
      FROM range(24000) t(id) ORDER BY k""",

    "read_sas7bdat" -> recordsSql,

    // same closed form — the sav path must land on identical records
    // whether the shard was uncompressed or bytecode-compressed
    "read_sav" -> recordsSql,

    // same closed form again — three statistical-package formats, one
    // arithmetic: any decode divergence breaks exactly one entry
    "read_dta" -> recordsSql,

    // the fixed-width lines' closed form: quarters are exact doubles,
    // %.2f text round-trips them bit-identically
    "read_fwf" -> """
      SELECT CAST(id AS BIGINT) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS name,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.25 - 2.0 END AS score
      FROM range(30) t(id) ORDER BY id""",

    // the IBM-float path must land on the identical closed form —
    // quarters and halves are exact in both IBM and IEEE
    "read_xpt" -> recordsSql,

    "read_sas_rle" -> rleRecordsSql,

    // the RDC twin of read_sas_rle's closed form — the two SAS codecs
    // must land on identical records
    "read_sas_rdc" -> rleRecordsSql,

    "read_zsav" -> records600Sql,

    // the segment-fold arithmetic in closed form: doc lengths sweep
    // 0..579 so every segment-count class (1, 2 and 3 segments) is hit
    "read_sav_vls" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             CASE WHEN id % 6 = 0 THEN NULL
                  ELSE 'd' || CAST(id AS VARCHAR) || ':' ||
                       repeat('x', CAST((id * 53) % 580 AS INTEGER))
             END AS doc
      FROM range(300) t(id) ORDER BY id""",

    "read_dta_strl" -> strlRecordsSql,

    // the workbook directory's closed form: 8 files x 75 rows, score
    // halves exact in the xlsx decimal round-trip
    "read_xlsx_dir" -> records600Sql,

    // image_near_dups_256's oracle verbatim: the feather round-trip
    // must be invisible to the pixel arithmetic
    "feather_media_dedup" -> MediaEntries.imageNearDups256Sql,

    // the two feather shards' shared closed form — whole-file and
    // batch-parallel decode paths must agree bit for bit
    "read_feather" -> records600Sql,

    // read_feather's closed form — the zstd and plain codecs must land
    // on identical records
    "read_feather_zstd" -> records600Sql,

    // read_dta_strl's closed form — the paged (GSO equi-join) and
    // whole-file strL decodes must agree
    "read_dta_strl_paged" -> strlRecordsSql,

    // image_near_dups_256's oracle verbatim: the Stata binary-strL
    // round-trip must be invisible to the pixel arithmetic
    "dta_media_dedup" -> MediaEntries.imageNearDups256Sql,

    // cosine_topk's oracle verbatim: the Arrow vector round-trip must
    // be invisible to the ANN arithmetic
    "read_feather_vec" -> MlEntries.cosineTopkSql,

    // semantic_dedup's oracle verbatim, same convention
    "feather_embed_dedup" -> MlEntries.semanticDedupSql,

    // read_sas7bdat's closed form verbatim: the byte order must be
    // invisible to the decoded records
    "read_sas_be" -> recordsSql,

    // read_dta's closed form verbatim: the release must be invisible
    "read_dta_113" -> recordsSql
  )

  override val nljAllowed: Set[String] = Set(
    // feather_embed_dedup runs semantic_dedup's exact screen over the
    // Arrow-ingested corpus (broadcast-hinted: the RDD-backed typed
    // read has no size stats)
    "feather_embed_dedup")
}
