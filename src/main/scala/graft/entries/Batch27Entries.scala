package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Tables => T}

/** Round-12 batch: the trained quality classifier's deploy path
  * (fit/deploy split like bm25Index — training is ScalaTest-gated,
  * scoring replays fixed weights in SQL).
  */
object Batch27Entries extends Entries {

  /** Fitted BM25 index per sf dir, materialized once (localCheckpoint
    * blocks survive the bench's clearCache) — the deploy contract IS
    * fit-once/score-anywhere, so the bm25_stream entry measures
    * scoring a stream against an EXISTING index, not a refit per
    * iteration (bm25_topk already measures the fit+retrieve path). */
  private def bm25Index(s: SparkSession, dir: String): DataFrame =
    Fixtures.cached(s"bm25_index:$dir")(
      graft.text.Retrieval.bm25Index(T.documents(s, dir), "doc_id", "text")
        .localCheckpoint())

  /** Formula-derived fixed weights (portable-oracle mode, the
    * make_classification pattern): weight(f) = ((37f + 11) mod 21 − 10)
    * / 20 ∈ [−0.5, 0.5], intercept 0.007. The 0.007 offset keeps every
    * round-6 margin strictly off the 0.05-grid zero, so the label
    * threshold and the −0.0 parquet bit pattern can never be decided
    * by a last-ulp summation difference. */
  private def fixedWeights(s: SparkSession): DataFrame =
    s.range(1024).select(col("id").as("feature"),
        ((((col("id") * 37 + 11) % 21).cast("double")) - lit(10.0))
          ./(lit(20.0)).as("weight"))
      .unionByName(s.range(1).select(lit(-1L).as("feature"),
        lit(0.007).as("weight")))

  /** IVF index over the PLANTED embedding corpus, one per sf dir (the
    * Batch14 ivf pattern — an index amortizes its build across queries;
    * the warm-up pass at the same dir runs the KMeans fit). */
  private def plantedIvf(s: SparkSession, dir: String): graft.ml.Similarity.IvfIndex =
    Fixtures.cached(s"planted_ivf:$dir")(
      graft.ml.Similarity.ivfIndex(
        Batch14Entries.withPlantedDups(T.embeddings(s, dir)),
        "vec_id", "embedding", nlist = 16))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // QualityClassifier.score: hashed unigram+bigram features (md5
    // 60-bit portable hash mod 1024), broadcast weights join, one
    // groupBy per doc; margin round-6 before sigmoid, sigmoid round-6.
    "quality_clf" -> ((s, dir) => {
      graft.ml.QualityClassifier.score(T.documents(s, dir), "doc_id",
          "text", fixedWeights(s), numFeatures = 1024)
        .orderBy("doc")
    }),

    // xxhash64 perf twin of quality_clf (the dedup-twin convention:
    // md5 is the oracle hash family, xxhash64 the ~10×-cheaper
    // corpus-scale default). Rows-only by design — xxhash64 is
    // Spark-internal; the md5 twin above is the full oracle.
    "quality_clf_xx" -> ((s, dir) => {
      graft.ml.QualityClassifier.score(T.documents(s, dir), "doc_id",
          "text", fixedWeights(s), numFeatures = 1024,
          portableHash = false)
        .orderBy("doc")
    }),

    // SemDeDup exact screen over the planted near-dup corpus
    // (embed_dedup's planting: every vector duplicated at cosine
    // ≈ 0.98, cross pairs ≤ 0.61, threshold 0.9 splits them with ~0.3
    // margin): greedy keep-lowest-id — survivors are exactly the base
    // corpus. The oracle replays the full pairwise screen.
    "semantic_dedup" -> ((s, dir) => {
      graft.ml.Similarity.semanticDedupExact(
          Batch14Entries.withPlantedDups(T.embeddings(s, dir)),
          "vec_id", "embedding", threshold = 0.9)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // The corpus-scale variant: the same screen scoped to IVF buckets
    // (cost Σ_b n_b², never n²). Rows-only by design — bucket
    // assignment is KMeans, not SQL-replayable; drop recall ≥ 0.9 vs
    // the exact screen is asserted in SemanticDedupSpec, and the exact
    // twin above is the full oracle.
    "semantic_dedup_ivf" -> ((s, dir) => {
      plantedIvf(s, dir).semanticDedup(threshold = 0.9)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // Streaming.bm25StreamScores replayed END-TO-END: the bm25_topk
    // query set (every 97th doc's first 5 tokens, fed as token ARRAYS)
    // arrives on a MemoryStream, scores against the FITTED bm25Index
    // under a watermark, and the closed window's append-mode output is
    // the result — the streaming deploy path inside the driver's
    // correctness loop. FULL oracle: the stream emits per-(query, doc)
    // round-6 scores, which is bm25_topk's scored CTE without the
    // rank filter. StreamSpec asserts the batch scorer parity;
    // RetrievalSpec asserts this entry contains bm25_topk's top-k.
    "bm25_stream" -> ((s, dir) => {
      import s.implicits._
      val docs = T.documents(s, dir)
      val index = bm25Index(s, dir)
      // driver-bounded: |corpus| / 97 query rows
      val qRows = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          slice(graft.text.TextFns.tokens(lower(col("text"))), 1, 5)
            .as("toks"))
        .as[(Long, Seq[String])].collect()
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      // one micro-batch: the queries plus a watermark-advancing tail
      // row — tokenless, matches nothing, but pushes event time far
      // enough that the 10:00 window closes
      val batch = qRows.toSeq.map { case (qid, tk) => (t0, qid, tk) } :+
        ((java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), -1L,
          Seq.empty[String]))
      // no stateRows: the window-agg state here is per (query, doc)
      // candidate pair — Σ_t df(t), CORPUS-proportional and unknown at
      // deploy time — so state partitions keep the session default
      // (the scale-honest choice; only the checksum toggle is scoped)
      graft.stream.Streaming.replay(s, Seq(batch), "append") { in =>
        graft.stream.Streaming.bm25StreamScores(
            in.toDF("ts", "qid", "qtoks"), index,
            "qid", "qtoks", "ts", "5 minutes", "10 minutes")
          .select(col("query"), col("doc"), col("score"))
      }.orderBy("query", "doc")
    }),

    // datasets.Make.makeBlobs portable mode: hash-assigned clusters,
    // md5-placed centers in [-10,10]^2 (the center key hashes the
    // CLUSTER id, so both engines place the same 3 centers), isotropic
    // unit gaussians rounded once at 9 dp after the libm crossing.
    "make_blobs" -> ((s, dir) => {
      graft.datasets.Make.makeBlobs(s, nSamples = 4000, nCenters = 3,
          dim = 2, std = 1.0, seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // datasets.Make.makeSeries portable mode (simulate.py's seasonal
    // families): per-series level/slope/amplitude from md5 of the
    // series id, y = level + slope·t + amp·sin(2πt/24) + noise·g with
    // sin and the gaussian each rounded 9 before the pure-IEEE linear
    // form. Feeds the ts family (MakeSpec runs decompose/acf over it).
    "make_series" -> ((s, dir) => {
      graft.datasets.Make.makeSeries(s, nSeries = 50, length = 200,
          period = 24, noise = 0.5, seed = 42L, portableHash = true)
        .orderBy("series_id", "t")
    }))

  def oracleSql: Map[String, String] = Map(
    // Replays the full deploy path: tokenize, unigrams + '_'-joined
    // bigrams, md5-60-bit feature hash mod 1024, formula weights,
    // per-doc sum + 0.007 intercept round-6, sigmoid round-6, label =
    // margin > 0. Docs with no tokens stay, scored at the intercept.
    "quality_clf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |terms AS (
        |  SELECT doc_id, unnest(list_concat(toks,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || '_' || toks[i+1]))) AS term
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 1024
        |      AS feature
        |  FROM terms),
        |w AS (
        |  SELECT range AS feature,
        |    (CAST((range * 37 + 11) % 21 AS DOUBLE) - 10.0) / 20.0 AS weight
        |  FROM range(1024)),
        |m AS (
        |  SELECT f.doc_id, SUM(w.weight) AS wsum
        |  FROM f JOIN w USING (feature) GROUP BY 1),
        |s AS (
        |  SELECT d.doc_id AS doc,
        |    ROUND(0.007 + COALESCE(m.wsum, 0.0), 6) AS margin
        |  FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id)
        |SELECT doc, margin,
        |  ROUND(1.0 / (1.0 + EXP(-margin)), 6) AS score,
        |  CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS INT) AS label
        |FROM s ORDER BY doc""".stripMargin,

    // Replays embed_dedup's planting + pairwise cosine, then the
    // greedy upper-triangle drop: b is dropped iff SOME a < b has
    // cos(a, b) >= 0.9. Survivors = anti-join against the drop set.
    "semantic_dedup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |pert AS (SELECT vec_id + 100000 AS vec_id,
        |    list_concat(embedding[1:56],
        |      list_transform(embedding[57:64], v -> CAST(v * CAST(1.5 AS FLOAT) AS FLOAT))) AS embedding
        |  FROM base),
        |e AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        |d AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (SQRT(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * SQRT(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))
        |    >= 0.9)
        |SELECT e.vec_id FROM e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM d)
        |ORDER BY e.vec_id""".stripMargin,

    // The streamed scores are exactly bm25_topk's scored CTE with no
    // rank filter: per-(query, doc) contribution sums, round-6.
    "bm25_stream" ->
      """WITH dt AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |dtf AS (SELECT doc, token, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
        |dl AS (SELECT doc, SUM(tf) AS dl FROM dtf GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
        |       FROM documents),
        |avg_dl AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT n FROM nn)
        |             AS avgdl FROM dl),
        |dfx AS (SELECT token, COUNT(*) AS df FROM dtf GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT query, token FROM (
        |    SELECT doc_id AS query, unnest(list_slice(
        |        string_split_regex(trim(lower(text)), '\s+'), 1, 5)) AS token
        |    FROM documents WHERE doc_id % 97 = 0 AND len(trim(text)) > 0)),
        |scored AS (
        |  SELECT q.query, dtf.doc,
        |    ROUND(SUM(
        |      LN(1.0 + ((SELECT n FROM nn) - dfx.df + 0.5) / (dfx.df + 0.5))
        |      * (CAST(dtf.tf AS DOUBLE) * 2.2)
        |      / (CAST(dtf.tf AS DOUBLE) + 1.2 * (0.25 +
        |          0.75 * CAST(dl.dl AS DOUBLE) / (SELECT avgdl FROM avg_dl)))
        |    ), 6) AS score
        |  FROM q
        |  JOIN dtf ON q.token = dtf.token
        |  JOIN dfx ON q.token = dfx.token
        |  JOIN dl ON dtf.doc = dl.doc
        |  GROUP BY 1, 2)
        |SELECT query, doc, score FROM scored
        |ORDER BY query, doc""".stripMargin,

    // Replays makeBlobs' full generation: cluster from md5 of the row
    // id, center coordinates from md5 of the CLUSTER id, coordinate =
    // round(center + 1.0·gaussian, 9) — association mirrors the Spark
    // expression tree exactly ((boxMin + u·span) + (std·g)).
    "make_blobs" ->
      """WITH ids AS (SELECT unnest(range(0, 4000)) AS id),
        |c AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-500009'), 1, 15) AS BIGINT) % 3 AS cluster
        |  FROM ids),
        |u AS (
        |  SELECT id, cluster,
        |    CAST('0x' || substr(md5('42-' || CAST(cluster AS VARCHAR) || '-7000'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS c0,
        |    CAST('0x' || substr(md5('42-' || CAST(cluster AS VARCHAR) || '-7001'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS c1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-0'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-2'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u2,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-3'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u3
        |  FROM c)
        |SELECT id, CAST(cluster AS INT) AS cluster,
        |  ROUND((-10.0 + c0 * 20.0)
        |    + 1.0 * (sqrt(-2.0 * ln(u0 + 4.9e-324)) * cos(6.283185307179586 * u1)), 9) AS x0,
        |  ROUND((-10.0 + c1 * 20.0)
        |    + 1.0 * (sqrt(-2.0 * ln(u2 + 4.9e-324)) * cos(6.283185307179586 * u3)), 9) AS x1
        |FROM u
        |ORDER BY id""".stripMargin,

    // Replays makeSeries: sid = id // 200, t = id % 200; level/slope/
    // amp keyed on sid, noise gaussian on the row id; sin and gaussian
    // round 9 first, then the left-associated linear form rounds 9.
    "make_series" ->
      """WITH ids AS (SELECT unnest(range(0, 10000)) AS id),
        |b AS (SELECT id, id // 200 AS sid, id % 200 AS t FROM ids),
        |u AS (
        |  SELECT id, sid, t,
        |    CAST('0x' || substr(md5('42-' || CAST(sid AS VARCHAR) || '-10'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u10,
        |    CAST('0x' || substr(md5('42-' || CAST(sid AS VARCHAR) || '-11'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u11,
        |    CAST('0x' || substr(md5('42-' || CAST(sid AS VARCHAR) || '-12'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u12,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-13'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u13,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-14'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u14
        |  FROM b)
        |SELECT sid AS series_id, t,
        |  ROUND(u10 * 100.0
        |    + (u11 - 0.5) * 2.0 * CAST(t AS DOUBLE)
        |    + u12 * 20.0 * ROUND(sin(6.283185307179586 * CAST(t AS DOUBLE) / 24.0), 9)
        |    + 0.5 * ROUND(sqrt(-2.0 * ln(u13 + 4.9e-324)) * cos(6.283185307179586 * u14), 9), 9) AS y
        |FROM u
        |ORDER BY series_id, t""".stripMargin)
}
