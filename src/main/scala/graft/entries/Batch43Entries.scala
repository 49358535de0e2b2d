package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Fixtures
import graft.io.{Dta, Sas, Sav, Xpt}

/** Round-15 batch (cont.): statistical-package ingest — closes the
  * read_data descope list COMPLETELY (csv/tsv/json/parquet/orc/xml/
  * html/xlsx/npy/npz/pickle/sas7bdat/sav all dispatch from IO.readData;
  * gofast/api/property.py:2781's extension map).
  *
  *  - `read_sas7bdat`: the pure-JVM sas7bdat subset reader — two shard
  *    files synthesized in-memory by [[Sas.dumps]] (the writer's output
  *    is pandas-validated, see SasSpec / tools/make_sas_fixture.py),
  *    parsed per-partition off the blob kernel, pivoted to the wide
  *    record frame under the file's own column metadata. FULL oracle —
  *    the records' closed form.
  *  - `read_sav`: the pure-JVM SPSS system-file subset reader — the
  *    SAME records, one shard UNCOMPRESSED and one BYTECODE-compressed
  *    (both decode paths in one entry), dictionary long names from the
  *    info-13 record. FULL oracle — the same closed form.
  *  - `read_dta`: the pure-JVM Stata reader (releases 114-118; the
  *    reference writers map carries `.stata`) — shards written by
  *    [[Dta.dumps]] (pandas.read_stata-validated, DtaSpec), sections
  *    located via the format's own <map> offsets. FULL oracle — the
  *    same closed form.
  *  - `read_fwf`: fixed-width ingest (read_data(.fwf) → pandas
  *    read_fwf) — boundaries/types fitted once from a bounded sample,
  *    slicing pure codegen substring so the scan stays splittable.
  *    FULL oracle.
  *  - `read_xpt`: SAS Transport V5 (the other pandas read_sas format)
  *    — IBM System/360 float decode, 80-byte cards, pandas-validated
  *    writer (XptSpec). FULL oracle — the shared closed form under the
  *    format's uppercase 8-char names, aliased back.
  */
object Batch43Entries extends Entries {

  /** One multi-page sas7bdat per JVM for the paged-scan entry — the
    * [[Batch42Entries.npyShardDir]] write-once convention. */
  private def pagedFile(): String = Fixtures.cached("sas_paged") {
    val cols = Seq(("k", true), ("txt", false))
    val data = (0 until 24000).map(i =>
      Seq(i.toDouble, s"v${i % 13}"): Seq[Any])
    Fixtures.tempFile("graft_sas_paged_", ".sas7bdat")(Sas.dumps(cols, data))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // the page-parallel scan of ONE large sas7bdat (binaryFile would
    // hand the whole file to a single task): driver reads a bounded
    // head for the metadata, executors pread their own page ranges.
    // 24k rows over ~68 data pages split across the default
    // parallelism; FULL oracle — the file's closed form.
    "read_sas_paged" -> ((s, dir) => {
      val cells = Sas.readSasPaged(s, pagedFile())
      Sas.records(cells, Seq(("k", true), ("txt", false)))
        .select(col("k"), col("txt"))
        .orderBy("k")
    }),

    "read_sas7bdat" -> ((s, dir) => {
      def shard(ids: Range): Array[Byte] = Sas.dumps(
        Seq(("id", true), ("grp", false), ("score", true),
          ("note", false)),
        ids.map { i =>
          Seq[Any](i.toDouble, s"g${i % 3}",
            if (i % 4 == 0) null else i * 0.5 - 3.0,
            if (i % 5 == 0) null else s"n$i")
        })
      val cells = Sas.readSasBlobs(s, Seq(
        ("shard_a.sas7bdat", shard(0 until 12)),
        ("shard_b.sas7bdat", shard(12 until 24))))
      Sas.records(cells, Seq(("id", true), ("grp", false),
          ("score", true), ("note", false)))
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    "read_sav" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i")
      }
      val cells = Sav.readSavBlobs(s, Seq(
        ("shard_a.sav", Sav.dumps(cols, rows(0 until 12))),
        ("shard_b.sav", Sav.dumps(cols, rows(12 until 24),
          bytecode = true))))
      Sav.records(cells, cols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    "read_dta" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i")
      }
      val cells = Dta.readDtaBlobs(s, Seq(
        ("shard_a.dta", Dta.dumps(cols, rows(0 until 12))),
        ("shard_b.dta", Dta.dumps(cols, rows(12 until 24)))))
      Dta.records(cells, cols)
        .select(col("id"), col("grp"), col("score"), col("note"))
        .orderBy("id")
    }),

    "read_fwf" -> ((s, dir) => {
      import s.implicits._
      val lines = "id    name  score" +: (0 until 30).map { i =>
        val score = if (i % 4 == 0) "" else f"${i * 0.25 - 2.0}%.2f"
        f"$i%-6d${s"g${i % 3}"}%-6s$score"
      }
      graft.io.Fwf.fromLines(lines.toDS()).orderBy("id")
    }),

    "read_xpt" -> ((s, dir) => {
      val cols = Seq(("id", true), ("grp", false), ("score", true),
        ("note", false))
      def rows(ids: Range): Seq[Seq[Any]] = ids.map { i =>
        Seq[Any](i.toDouble, s"g${i % 3}",
          if (i % 4 == 0) null else i * 0.5 - 3.0,
          if (i % 5 == 0) null else s"n$i")
      }
      val cells = Xpt.readXptBlobs(s, Seq(
        ("shard_a.xpt", Xpt.dumps(cols, rows(0 until 12))),
        ("shard_b.xpt", Xpt.dumps(cols, rows(12 until 24)))))
      // V5 names are uppercase 8-char; alias back for the shared oracle
      Xpt.records(cells, Seq(("ID", true), ("GRP", false),
          ("SCORE", true), ("NOTE", false)))
        .select(col("ID").as("id"), col("GRP").as("grp"),
          col("SCORE").as("score"), col("NOTE").as("note"))
        .orderBy("id")
    })
  )

  val oracleSql: Map[String, String] = Map(

    // the paged file's closed form
    "read_sas_paged" -> """
      SELECT CAST(id AS DOUBLE) AS k,
             'v' || CAST(id % 13 AS VARCHAR) AS txt
      FROM range(24000) t(id) ORDER BY k""",

    // the sharded records' closed form: 24 rows across two files
    "read_sas7bdat" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(24) t(id) ORDER BY id""",

    // same closed form — the sav path must land on identical records
    // whether the shard was uncompressed or bytecode-compressed
    "read_sav" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(24) t(id) ORDER BY id""",

    // same closed form again — three statistical-package formats, one
    // arithmetic: any decode divergence breaks exactly one entry
    "read_dta" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(24) t(id) ORDER BY id""",

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
    "read_xpt" -> """
      SELECT CAST(id AS DOUBLE) AS id,
             'g' || CAST(id % 3 AS VARCHAR) AS grp,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE CAST(id AS DOUBLE) * 0.5 - 3.0 END AS score,
             CASE WHEN id % 5 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(24) t(id) ORDER BY id"""
  )
}
