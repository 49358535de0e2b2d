package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Tables => T}

/** Round-12 additions: product-quantized ANN (the 64×-smaller scan
  * format) and UniMax budget mixing (the epoch-capped waterfill
  * alternative to temperature sampling). */
object Batch29Entries extends Entries {

  /** Amortized PQ artifacts, one per sf dir (the Batch14 ivf pattern):
    * real PQ deployments fit the codebook and encode the corpus ONCE,
    * then serve every query from the 8-byte code column. The packed
    * frame is localCheckpoint-cut so `clearCache()` between bench
    * queries cannot force a re-encode. */
  private def pq(s: SparkSession, dir: String)
      : (graft.ml.PQ.PQCodebook, DataFrame) =
    Fixtures.cached(s"pq:$dir") {
      val emb = T.embeddings(s, dir)
      val cb = graft.ml.PQ.fit(emb, "vec_id", "embedding", m = 8, k = 16)
      val packed = graft.ml.PQ.encodePacked(emb, "embedding", cb)
        .select("vec_id", "pq64").localCheckpoint()
      (cb, packed)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ml.PQ: product quantization with a deterministic anchor-sampled
    // codebook (m=8 sub-spaces × k=16 centroids over dim 64) — codes
    // pack into the low 32 bits of one BIGINT per vector, scoring is 8 nibble
    // lookups. Fit, encode, pack and ADC scoring are all replayed
    // bit-for-bit by the SQL oracle (hash-ordered anchors, argmin
    // with first-min tiebreak, sub-space-ordered distance fold).
    "pq_topk" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 1)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val (cb, packed) = pq(s, dir)
      graft.ml.PQ.adcTopK(packed, "vec_id", "pq64", cb, q, k = 15)
    }),

    // ml.PQ.refineTopK: the production two-stage pattern — the 8-byte
    // code scan shortlists 150 candidates by ADC, then ONLY those 150
    // full vectors are re-ranked by exact squared-L2 (broadcast
    // semi-join). The shortlist and re-rank both replay exactly in
    // the oracle, so this is a full hash match, not a recall bound
    // (recall vs the global exact top-15 is asserted in PQSpec).
    "pq_refine" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 1)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val (cb, packed) = pq(s, dir)
      graft.ml.PQ.refineTopK(packed, emb, "vec_id", "embedding", "pq64",
        cb, q, c = 150, k = 15)
    }),

    // datasets.Make.makeSounding portable mode (make.py:1951 sounding /
    // ERT grid family): the point × layer grid generator — depth is a
    // bounded in-row fold of hash-uniform thicknesses, no shuffle.
    "make_sounding" -> ((s, dir) => {
      graft.datasets.Make.makeSounding(s, nPoints = 300, nLayers = 5,
          seed = 42L, portableHash = true)
        .orderBy("point_id", "layer")
    }),

    // rel.Sampling.stratifiedSampleByHash: per-stratum fractions via
    // the portable md5 RNG — the draw is a pure function of row
    // identity, so the sample is stable under repartitioning AND
    // fully oracle-replayable (sampleBy's RNG stream is neither).
    "stratified_hash" -> ((s, dir) => {
      graft.rel.Sampling.stratifiedSampleByHash(T.customer(s, dir),
          "c_custkey", "c_mktsegment",
          Map("BUILDING" -> 0.5, "MACHINERY" -> 0.2, "FURNITURE" -> 0.05),
          seed = 7L)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .orderBy("c_custkey")
    }),

    // rel.Sampling.weightedSampleWithoutReplacement: one-pass A-ES
    // weighted sampling (Efraimidis-Spirakis 2006, key = u^(1/w),
    // top-n by key) — the distributed weighted-draw shape; md5
    // uniforms + round(pow, 9) make it fully oracle-replayable.
    // Weights rise with order size so big orders over-sample.
    "weighted_sample" -> ((s, dir) => {
      val ord = T.orders(s, dir)
        .withColumn("w", (col("o_totalprice") / lit(1000.0)))
      graft.rel.Sampling.weightedSampleWithoutReplacement(ord,
          "o_orderkey", "w", n = 200, seed = 11L)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // text.LangModel.selectByImportance: DSIR importance resampling
    // (Xie 2023) — target LM = the English fifth of the corpus, raw LM
    // = everything; weight = exp(clamped loglik ratio), A-ES draw of
    // 100 docs. English-like docs over-sample; the whole chain
    // (two round-6 LM scores, clamp, exp, round-9 pow key) replays.
    "dsir_select" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.selectByImportance(docs,
          docs.filter(col("lang") === "en"), docs,
          "doc_id", "text", n = 100, alpha = 0.5, seed = 13L)
        .select("doc_id", "lang", "imp_logratio")
        .withColumn("imp_logratio", round(col("imp_logratio"), 6))
        .orderBy("doc_id")
    }),

    // text.Quality.selectByTokenBudgetUniMax: 9000-token budget over
    // the five languages, each capped at 0.5 epochs of its corpus.
    // At sf0.01 'de' saturates its cap and the other four waterfill
    // to one shared level — both regimes exercised. All-BIGINT
    // closed-form waterfill, same (score desc, id asc) selection
    // window as the other mixers.
    "token_budget_unimax" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("score",
          (col("n_chars") % 97).cast("double") / lit(97.0))
      graft.text.Quality.selectByTokenBudgetUniMax(d, "doc_id",
          "lang", "score", "n_tokens", totalBudget = 9000L, maxEpochs = 0.5)
        .select(col("doc_id"), col("lang"), col("score"), col("n_tokens"))
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "pq_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        |anch AS (
        |  SELECT embedding,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |                       CAST(vec_id AS VARCHAR)) - 1 AS kk
        |  FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |                             CAST(vec_id AS VARCHAR)) <= 16),
        |mg AS (SELECT unnest(range(0, 8)) AS m),
        |cents AS (
        |  SELECT mg.m, anch.kk,
        |    list_transform(list_slice(anch.embedding, mg.m*8 + 1, mg.m*8 + 8),
        |      x -> CAST(x AS DOUBLE)) AS cent
        |  FROM anch, mg),
        |dists AS (
        |  SELECT e.vec_id, c.m, c.kk,
        |    list_sum(list_transform(
        |      list_zip(list_slice(e.embedding, c.m*8 + 1, c.m*8 + 8), c.cent),
        |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
        |      AS d2
        |  FROM embeddings e, cents c),
        |codes AS (
        |  SELECT vec_id, m, kk AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |                                 ORDER BY d2, kk) AS rn
        |    FROM dists) WHERE rn = 1),
        |lut AS (
        |  SELECT c.m, c.kk,
        |    list_sum(list_transform(
        |      list_zip(list_slice(q.qe, c.m*8 + 1, c.m*8 + 8), c.cent),
        |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
        |      AS d2
        |  FROM cents c, q),
        |scored AS (
        |  SELECT c.vec_id, list_sum(list(l.d2 ORDER BY c.m)) AS ad2
        |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.kk
        |  GROUP BY c.vec_id)
        |SELECT vec_id, ROUND(ad2, 9) AS ad2 FROM scored
        |ORDER BY ad2, vec_id LIMIT 15""".stripMargin,

    "pq_refine" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        |anch AS (
        |  SELECT embedding,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |                       CAST(vec_id AS VARCHAR)) - 1 AS kk
        |  FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |                             CAST(vec_id AS VARCHAR)) <= 16),
        |mg AS (SELECT unnest(range(0, 8)) AS m),
        |cents AS (
        |  SELECT mg.m, anch.kk,
        |    list_transform(list_slice(anch.embedding, mg.m*8 + 1, mg.m*8 + 8),
        |      x -> CAST(x AS DOUBLE)) AS cent
        |  FROM anch, mg),
        |dists AS (
        |  SELECT e.vec_id, c.m, c.kk,
        |    list_sum(list_transform(
        |      list_zip(list_slice(e.embedding, c.m*8 + 1, c.m*8 + 8), c.cent),
        |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
        |      AS d2
        |  FROM embeddings e, cents c),
        |codes AS (
        |  SELECT vec_id, m, kk AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |                                 ORDER BY d2, kk) AS rn
        |    FROM dists) WHERE rn = 1),
        |lut AS (
        |  SELECT c.m, c.kk,
        |    list_sum(list_transform(
        |      list_zip(list_slice(q.qe, c.m*8 + 1, c.m*8 + 8), c.cent),
        |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
        |      AS d2
        |  FROM cents c, q),
        |shortlist AS (
        |  SELECT c.vec_id FROM codes c JOIN lut l
        |    ON c.m = l.m AND c.code = l.kk
        |  GROUP BY c.vec_id
        |  ORDER BY list_sum(list(l.d2 ORDER BY c.m)), c.vec_id LIMIT 150),
        |rerank AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qe),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
        |           (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
        |  FROM embeddings e, q
        |  WHERE e.vec_id IN (SELECT vec_id FROM shortlist))
        |SELECT vec_id, ROUND(d2, 9) AS d2 FROM rerank
        |ORDER BY d2, vec_id LIMIT 15""".stripMargin,

    // Replays makeSounding: per-(point,layer) draws key on the flat
    // index point*5+layer; depth is list_sum over range(0, layer+1) —
    // the same left fold as Spark's aggregate(sequence); pow and the
    // depth sum round 9 (libm guard).
    "make_sounding" ->
      """WITH pts AS (SELECT unnest(range(0, 300)) AS point_id),
        |lays AS (SELECT unnest(range(0, 5)) AS layer),
        |g AS (SELECT point_id, layer FROM pts, lays)
        |SELECT point_id, CAST(layer AS INT) AS layer,
        |  ROUND(list_sum(list_transform(range(0, layer + 1),
        |    l -> 1.0 + 9.0 * (CAST('0x' || substr(md5('42-' ||
        |      CAST(point_id*5 + l AS VARCHAR) || '-8101'), 1, 15)
        |      AS BIGINT) / 1152921504606846976.0))), 9) AS depth_m,
        |  ROUND(POW(10.0, 1.0 + 2.0 * (CAST('0x' || substr(md5('42-' ||
        |      CAST(point_id*5 + layer AS VARCHAR) || '-8102'), 1, 15)
        |      AS BIGINT) / 1152921504606846976.0)), 9)
        |    AS resistivity_ohm_m,
        |  ROUND(500.0 + 350.0 * layer + 150.0 * (CAST('0x' ||
        |      substr(md5('42-' || CAST(point_id*5 + layer AS VARCHAR)
        |      || '-8103'), 1, 15)
        |      AS BIGINT) / 1152921504606846976.0), 9) AS velocity_m_s
        |FROM g ORDER BY point_id, layer""".stripMargin,

    "stratified_hash" ->
      """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        |WHERE CAST(CAST('0x' || substr(md5('7-' ||
        |    CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
        |    / 1152921504606846976.0
        |  < CASE c_mktsegment WHEN 'BUILDING' THEN 0.5
        |                      WHEN 'MACHINERY' THEN 0.2
        |                      WHEN 'FURNITURE' THEN 0.05
        |                      ELSE 0.0 END
        |ORDER BY c_custkey""".stripMargin,

    "weighted_sample" ->
      """WITH keyed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    ROUND(POW(
        |      CAST(CAST('0x' || substr(md5('11-' ||
        |          CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)
        |          AS DOUBLE) / 1152921504606846976.0,
        |      1.0 / (CAST(o_totalprice AS DOUBLE) / 1000.0)), 9) AS k
        |  FROM orders
        |  WHERE CAST(o_totalprice AS DOUBLE) / 1000.0 > 0.0),
        |sel AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM keyed
        |  ORDER BY k DESC, o_orderkey ASC LIMIT 200)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM sel
        |ORDER BY o_orderkey""".stripMargin,

    // Two copies of the unigram-LM scoring CTE (target = lang 'en',
    // raw = all), round-6 doc log-likelihoods, clamped ratio, A-ES
    // key = round(pow(u, 1/w), 9), top-100 by key.
    "dsir_select" ->
      """WITH tokT AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE lang = 'en' AND len(trim(text)) > 0),
        |cT AS (SELECT token, COUNT(*) AS ctf FROM tokT GROUP BY 1),
        |totT AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS n,
        |                CAST(COUNT(*) AS DOUBLE) AS v FROM cT),
        |tokR AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |cR AS (SELECT token, COUNT(*) AS ctf FROM tokR GROUP BY 1),
        |totR AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS n,
        |                CAST(COUNT(*) AS DOUBLE) AS v FROM cR),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |dtf AS (SELECT doc, token, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
        |jT AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.ctf IS NULL
        |      THEN LN(0.5 / (t.n + 0.5 * (t.v + 1.0)))
        |      ELSE LN((CAST(c.ctf AS DOUBLE) + 0.5) / (t.n + 0.5 * (t.v + 1.0)))
        |    END AS logp
        |  FROM dtf LEFT JOIN cT c USING (token), totT t),
        |scT AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mlp
        |  FROM jT GROUP BY doc),
        |jR AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.ctf IS NULL
        |      THEN LN(0.5 / (t.n + 0.5 * (t.v + 1.0)))
        |      ELSE LN((CAST(c.ctf AS DOUBLE) + 0.5) / (t.n + 0.5 * (t.v + 1.0)))
        |    END AS logp
        |  FROM dtf LEFT JOIN cR c USING (token), totR t),
        |scR AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mlp
        |  FROM jR GROUP BY doc),
        |lr AS (
        |  SELECT d.doc_id, d.lang,
        |    LEAST(GREATEST(
        |      scT.mlp * CAST(scT.n_tokens AS DOUBLE)
        |        - scR.mlp * CAST(scR.n_tokens AS DOUBLE), -30.0), 30.0)
        |      AS logratio
        |  FROM documents d
        |  JOIN scT ON scT.doc = d.doc_id
        |  JOIN scR ON scR.doc = d.doc_id),
        |keyed AS (
        |  SELECT doc_id, lang, logratio,
        |    ROUND(POW(
        |      CAST(CAST('0x' || substr(md5('13-' ||
        |          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
        |        / 1152921504606846976.0,
        |      1.0 / EXP(logratio)), 9) AS k
        |  FROM lr WHERE EXP(logratio) > 0.0),
        |sel AS (
        |  SELECT doc_id, lang, logratio FROM keyed
        |  ORDER BY k DESC, doc_id ASC LIMIT 100)
        |SELECT doc_id, lang, ROUND(logratio, 6) AS imp_logratio FROM sel
        |ORDER BY doc_id""".stripMargin,

    "token_budget_unimax" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(n_chars % 97 AS DOUBLE) / 97.0 AS score,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |caps AS (
        |  SELECT lang,
        |    CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) * 0.5) AS BIGINT) AS cap
        |  FROM d GROUP BY lang),
        |ord AS (
        |  SELECT lang, cap,
        |    row_number() OVER (ORDER BY cap, lang) AS i,
        |    SUM(cap) OVER (ORDER BY cap, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        |    (SELECT COUNT(*) FROM caps) AS n
        |  FROM caps),
        |flg AS (
        |  SELECT *, CASE WHEN 9000 - (pre - cap) >= 0
        |                  AND cap <= (9000 - (pre - cap)) // (n - i + 1)
        |            THEN 1 ELSE 0 END AS sat
        |  FROM ord),
        |agg AS (
        |  SELECT CAST(SUM(sat) AS BIGINT) AS j,
        |    COALESCE(SUM(CASE WHEN sat = 1 THEN cap END), 0) AS prej,
        |    MAX(n) AS n
        |  FROM flg),
        |b AS (
        |  SELECT f.lang,
        |    CASE WHEN f.sat = 1 THEN f.cap
        |         ELSE LEAST(f.cap,
        |           CASE WHEN a.j >= a.n THEN 9223372036854775807
        |                ELSE (9000 - a.prej) // (a.n - a.j) END)
        |    END AS budget
        |  FROM flg f, agg a),
        |c AS (
        |  SELECT d.doc_id, d.lang, d.score, d.n_tokens, b.budget,
        |    SUM(d.n_tokens) OVER (PARTITION BY d.lang
        |      ORDER BY d.score DESC, d.doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d JOIN b USING (lang))
        |SELECT doc_id, lang, score, n_tokens
        |FROM c WHERE budget > 0 AND cum - n_tokens < budget
        |ORDER BY doc_id""".stripMargin
  )
}
