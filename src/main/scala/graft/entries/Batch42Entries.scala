package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Tables => T}
import graft.io.{Npy, Pickle}
import graft.ml.Similarity

/** Round-15 batch: the ingest→index glue and the streaming drift
  * deploy — both composition entries proving that round-14's new
  * machinery feeds the existing stacks end-to-end.
  *
  *  - `npy_ann_topk`: the embeddings table exported as SHARDED
  *    self-describing f8 .npy files (id in column 0 — the layout numpy
  *    corpora use), re-ingested through the binaryFile npy parser, and
  *    queried by the brute-force cosine path. read_data(npy) →
  *    similarity is exactly the reference's io → preprocessing →
  *    similarity pipeline shape (gofast/core/io.py:826 →
  *    gofast/dataops/preprocessing.py:3285).
  *  - `drift_psi_stream`: the PSI monitor as a continuous deploy —
  *    reference quantile edges fitted once, per-bin counts maintained
  *    by the engine (Complete mode, state = bins rows), PSI read off
  *    the sink with the batch arithmetic verbatim (the monitoring
  *    family's streaming twin, gofast/dataops/quality.py:1863).
  */
object Batch42Entries extends Entries {

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

  /** 17×16 BMP fixture for the 256-bit dHash family — the
    * [[Batch40Entries.dhashBmps]] construction at the wider grid, so
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
    // schema. FULL oracle — the records' closed form. Remaining
    // read_data descopes: SAS/SPSS (documented conversions).
    "read_pickle" -> ((s, dir) => {
      val recs = (0 until 12).map { i =>
        scala.collection.immutable.ListMap[String, Any](
          "id" -> i.toLong, "name" -> s"r${i % 3}",
          "score" -> i * 0.25, "flag" -> (i % 2 == 0),
          "note" -> (if (i % 4 == 0) null else s"n$i"))
      }
      val blob = Pickle.dumps(recs)
      Pickle.records(
          Pickle.readPickleBlobs(s, Seq(("records.pkl", blob))),
          Pickle.inferKeys(Pickle.parse(blob)))
        .select(col("id"), col("name"), col("score"), col("flag"),
          col("note"))
        .orderBy("id")
    }),

    // 240-bit portable SimHash near-dups through the SAME 4×64-bit-
    // band kernel as the media path — the text twin of
    // image_near_dups_256, retiring the text wide kernel's ~2^25 knee
    // (random word collisions ~4n²/2^60). Corpus: originals + EXACT
    // twins (guaranteed hamming-0 pairs at any text) + first-word-
    // dropped twins (most exceed 3/240 — the tighter criterion is the
    // point). FULL oracle — DuckDB replays all four salted md5 words,
    // every bit majority, the some-word-matches candidate rule, and
    // the summed xor popcount.
    "simhash_pairs_md5_256" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
        .select("doc_id", "text")
      val exactTwin = d.withColumn("doc_id", col("doc_id") + 20000)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      graft.text.Dedup.simhashPairs256Portable(
          d.unionByName(exactTwin).unionByName(perturbed),
          "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Streaming PSI drift monitor: edges fitted once from the even
    // half (the fitted-scalar pattern), the odd half replayed through
    // a MemoryStream in 3 micro-batches, bin counts maintained by the
    // ENGINE in Complete mode (state = 10 rows, shuffle keyed on 10
    // bins), PSI computed from the accumulated sink with the batch
    // kernel — drift_psi's oracle verbatim. FULL oracle.
    // The categorical monitor as the same fit/deploy split: reference
    // category counts fitted once, the current stream's per-category
    // counts maintained by the ENGINE (Complete mode, one state row
    // per live category), PSI off the accumulated sink with the batch
    // arithmetic verbatim — drift_psi_cat's oracle verbatim. FULL
    // oracle.
    "drift_psi_cat_stream" -> ((s, dir) => {
      import s.implicits._
      val o = T.orders(s, dir)
      val refCounts = graft.stats.DataAudit.categoryCounts(
        o.filter(col("o_orderkey") % 2 === 0), "o_orderpriority", "_cr")
      val cur = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderpriority").cast("string")).as[String].collect()
      // state = one count row per live category (exact, driver-known)
      val counts = graft.stream.Streaming.replay(s,
          graft.stream.Streaming.microBatches(cur.toSeq, 3), "complete",
          stateRows = cur.distinct.length.toLong)(in =>
        graft.stats.DataAudit.psiCatStreamCounts(
          in.toDF("o_orderpriority"), "o_orderpriority"))
      graft.stats.DataAudit.psiCatOfCounts(refCounts, counts)
        .orderBy("category")
    }),

    "drift_psi_stream" -> ((s, dir) => {
      import s.implicits._
      val li = T.lineitem(s, dir)
      val ref = li.filter(col("l_orderkey") % 2 === 0)
        .select("l_extendedprice")
      val edges = graft.stats.DataAudit.psiFitEdges(ref, "l_extendedprice")
      val cur = li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_extendedprice").cast("double")).as[Double].collect()
      // state = one count row per PSI bin (the fitted decile grid)
      val counts = graft.stream.Streaming.replay(s,
          graft.stream.Streaming.microBatches(cur.toSeq, 3), "complete",
          stateRows = 10L)(in =>
        graft.stats.DataAudit.psiStreamCounts(
          in.toDF("l_extendedprice"), "l_extendedprice", edges))
      graft.stats.DataAudit.psiOfCounts(
          graft.stats.DataAudit.binCounts(ref, "l_extendedprice", edges, "_cr"),
          counts, bins = 10)
        .orderBy("bin")
    })
  )

  /** The 256 gradient bits of [[dhash256Bmps]] in closed form — the
    * thumbnail IS the 17×16 source, so no resize mapping. */
  private[entries] val dhash256BitsCte =
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

  val oracleSql: Map[String, String] = Map(

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

    // brute-forces every pair from the same 256 bits — the 64-bit-band
    // join must reproduce exactly the pairs at hamming <= 3
    "image_near_dups_256" ->
      s"""WITH $dhash256BitsCte
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
        |    AS hamming
        |FROM bits a JOIN bits b ON a.idx = b.idx
        |  AND a.media_id < b.media_id
        |GROUP BY 1, 2 HAVING SUM(CASE WHEN a.bit <> b.bit
        |  THEN 1 ELSE 0 END) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // the npy round-trip must land on the embedding table's own
    // brute-force answer — cosine_topk's oracle verbatim
    "npy_ann_topk" -> TextEntries.oracleSql("cosine_topk"),
    // accumulated-stream PSI == batch PSI on the same split
    "drift_psi_stream" -> Batch40Entries.oracleSql("drift_psi"),
    "drift_psi_cat_stream" -> Batch41Entries.oracleSql("drift_psi_cat"),

    // all four salted 60-bit md5 words, per-bit majorities, the
    // some-word-matches candidate rule, summed xor popcounts
    "simhash_pairs_md5_256" -> {
      val hs = (0 until 4).map(w =>
        s"CAST(('0x' || substr(md5('sh256_${w}_' || tk), 1, 15)) " +
          s"AS BIGINT) AS h$w").mkString(",\n        |    ".stripMargin)
      val cs = (0 until 4).map(w =>
        s"SUM((h$w >> b.b) & 1) AS c$w").mkString(",\n        |    ".stripMargin)
      val ss = (0 until 4).map(w =>
        s"SUM(CASE WHEN 2 * c$w > n THEN (CAST(1 AS BIGINT) << bit) " +
          s"ELSE 0 END) AS s$w").mkString(",\n        |    ".stripMargin)
      val ham = (0 until 4).map(w => s"bit_count(xor(a.s$w, b.s$w))")
        .mkString(" + ")
      val bandEq = (0 until 4).map(w => s"a.s$w = b.s$w")
        .mkString("(", " OR ", ")")
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
        |  FROM documents WHERE doc_id < 50),
        |tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\\s+')) AS tk
        |  FROM corpus WHERE len(trim(text)) > 0),
        |h AS (SELECT doc_id,
        |    $hs
        |  FROM tok),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        |bits AS (SELECT doc_id, b.b AS bit,
        |    $cs
        |  FROM h, (SELECT unnest(range(0, 60)) AS b) b GROUP BY 1, 2),
        |sk AS (SELECT bits.doc_id,
        |    $ss
        |  FROM bits JOIN cnt ON cnt.doc_id = bits.doc_id GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST($ham AS INTEGER) AS hamming
        |FROM sk a JOIN sk b ON a.doc_id < b.doc_id AND $bandEq
        |WHERE $ham <= 3
        |ORDER BY id_a, id_b""".stripMargin
    },
    // the pickled records' closed form
    "read_pickle" -> """
      SELECT CAST(id AS BIGINT) AS id,
             'r' || CAST(id % 3 AS VARCHAR) AS name,
             CAST(id AS DOUBLE) * 0.25 AS score,
             (id % 2 = 0) AS flag,
             CASE WHEN id % 4 = 0 THEN NULL
                  ELSE 'n' || CAST(id AS VARCHAR) END AS note
      FROM range(12) t(id) ORDER BY id"""
  )
}
