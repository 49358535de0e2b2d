package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-11 batch: BM25 retrieval over the documents corpus (closing
  * the r10 ADVICE gap — the kernel shipped in round 10 with no entry,
  * no spec, no coverage registration).
  */
object Batch26Entries extends Entries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Retrieval.bm25TopK: every ~97th document's first 5 tokens act as
    // a query against the full corpus (the "seed set similarity"
    // selection shape). Top-10 per query, Lucene idf, k1=1.2 b=0.75;
    // scores round-6 BEFORE ranking, ties broken by doc id.
    "bm25_topk" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      // query terms ship as the sliced token ARRAY (not a re-joined
      // string): bm25Rankings uses an array column as-is, so the query
      // term sets on both engines come from the same list_slice
      val qs = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          slice(graft.text.TextFns.tokens(lower(col("text"))),
            1, 5).as("qtext"))
      graft.text.Retrieval.bm25TopK(docs, qs, "doc_id", "text",
          "qid", "qtext", k = 10)
        .orderBy("query", "rank")
    }),

    // Retrieval.bm25Rankings + rrfFuse: reciprocal-rank fusion of two
    // BM25 parameterizations (k1=1.2/b=0.75 and k1=2.0/b=0.5 —
    // different length normalization) retrieved 20 deep from ONE
    // shared candidate table, fused top-10 at c=60. Two rankings →
    // the fused sum is one commutative IEEE add, so the round-6
    // scores are aggregation-order-exact.
    "rrf_fuse" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val qs = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          slice(graft.text.TextFns.tokens(lower(col("text"))),
            1, 5).as("qtext"))
      val rs = graft.text.Retrieval.bm25Rankings(docs, qs, "doc_id",
        "text", "qid", "qtext", Seq((1.2, 0.75), (2.0, 0.5)), k = 20)
      graft.text.Retrieval.rrfFuse(rs, "query", "doc", "rank")
        .orderBy("query", "rank")
    }),

    // Filters.filterDf op-code dispatch (was ScalaTest-only): two
    // chained op-codes over lineitem, full predicate-pushdown shape.
    "filter_df_ops" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      graft.rel.Filters.filterDf(
          graft.rel.Filters.filterDf(li, "l_quantity", ">=", 49.0),
          "l_returnflag", "==", "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Filters.popLabels (was fluent-test-only): drop two market
    // segments, NULL-safe NOT IN semantics matter — Spark's
    // !isin drops NULLs like SQL NOT IN; customer.c_mktsegment is
    // non-null in the testdata so both engines agree.
    "pop_labels" -> ((s, dir) => {
      graft.rel.Filters.popLabels(T.customer(s, dir), "c_mktsegment",
          Seq("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Filters.selectFeatures names+regex union (was plan-level-only):
    // explicit name + regex-matched columns, de-duplicated, projection
    // order = names then regex hits.
    "select_features" -> ((s, dir) => {
      graft.rel.Filters.selectFeatures(T.part(s, dir),
          names = Seq("p_partkey"), regex = Some("p_(brand|size)"))
        .orderBy("p_partkey")
    }),

    // Extras.numericToCategorical (was ScalaTest-only): low-cardinality
    // numeric columns become strings. On nation, n_regionkey (5
    // distinct) casts, n_nationkey (25 distinct) stays numeric — both
    // cardinalities sit far from the maxDistinct=10 line, so the HLL
    // estimate (deterministic for fixed data) cannot flip the decision.
    "num_to_cat" -> ((s, dir) => {
      graft.clean.Extras.numericToCategorical(T.nation(s, dir),
          maxDistinct = 10)
        .orderBy("n_nationkey")
    }),

    // Similarity.quantizeI8 + cosineI8TopK: the 4×-memory int8 scan.
    // Quantization (floor(x·127/max|x| + 0.5)) and the integer
    // dot/norm cosine are replayed exactly in the oracle — the codes
    // are integers, so dot and norms are EXACT and the only float op
    // is one final division. Query = vec 0's own codes (self-match
    // must rank first at cosine exactly 1).
    "cosine_i8_topk" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val coded = graft.ml.Similarity.quantizeI8(emb, "embedding")
      graft.ml.Similarity.cosineI8TopK(coded, "vec_i8", "vec_id", q, k = 10)
        .withColumn("cos", round(col("cos"), 9))
    }))

  def oracleSql: Map[String, String] = Map(
    // Mirrors bm25TopK exactly: distinct (query, token) terms, one
    // tf table feeding df and dl, N = distinct doc ids, avgdl over
    // that N, Lucene idf, round-6 scores BEFORE row_number ranking.
    "bm25_topk" ->
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
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query, doc, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query
        |      ORDER BY score DESC, doc ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT query, doc, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY query, rank""".stripMargin,

    // Same shared tf/df/dl CTEs; two BM25 parameterizations ranked 20
    // deep, then RRF: sum of 1/(60+rank) over the rankings that
    // retrieved the pair, round-6 before the fused ranking.
    "rrf_fuse" ->
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
        |cand AS (
        |  SELECT q.query, dtf.doc, dtf.tf, dfx.df, dl.dl
        |  FROM q
        |  JOIN dtf ON q.token = dtf.token
        |  JOIN dfx ON q.token = dfx.token
        |  JOIN dl ON dtf.doc = dl.doc),
        |s1 AS (
        |  SELECT query, doc, ROUND(SUM(
        |    LN(1.0 + ((SELECT n FROM nn) - df + 0.5) / (df + 0.5))
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
        |        0.75 * CAST(dl AS DOUBLE) / (SELECT avgdl FROM avg_dl)))
        |  ), 6) AS score FROM cand GROUP BY 1, 2),
        |s2 AS (
        |  SELECT query, doc, ROUND(SUM(
        |    LN(1.0 + ((SELECT n FROM nn) - df + 0.5) / (df + 0.5))
        |    * (CAST(tf AS DOUBLE) * 3.0)
        |    / (CAST(tf AS DOUBLE) + 2.0 * (0.5 +
        |        0.5 * CAST(dl AS DOUBLE) / (SELECT avgdl FROM avg_dl)))
        |  ), 6) AS score FROM cand GROUP BY 1, 2),
        |r1 AS (
        |  SELECT query, doc, ROW_NUMBER() OVER (PARTITION BY query
        |    ORDER BY score DESC, doc ASC) AS rank FROM s1
        |  QUALIFY rank <= 20),
        |r2 AS (
        |  SELECT query, doc, ROW_NUMBER() OVER (PARTITION BY query
        |    ORDER BY score DESC, doc ASC) AS rank FROM s2
        |  QUALIFY rank <= 20),
        |u AS (
        |  SELECT query, doc, rank FROM r1
        |  UNION ALL SELECT query, doc, rank FROM r2),
        |fused AS (
        |  SELECT query, doc,
        |    ROUND(SUM(1.0 / (60.0 + CAST(rank AS DOUBLE))), 6) AS score
        |  FROM u GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query, doc, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query
        |      ORDER BY score DESC, doc ASC) AS INT) AS rank
        |  FROM fused)
        |SELECT query, doc, score, rank FROM ranked WHERE rank <= 10
        |ORDER BY query, rank""".stripMargin,

    "filter_df_ops" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_quantity >= 49.0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "pop_labels" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
        |ORDER BY c_custkey""".stripMargin,

    "select_features" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |ORDER BY p_partkey""".stripMargin,

    "num_to_cat" ->
      """SELECT n_nationkey, n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // Quantization replayed per element: mx = max|x| (double), code =
    // floor(x*127/mx + 0.5) as BIGINT; dot/norms are exact integer
    // sums; the single double division + round-9 matches the
    // expression's IEEE tree.
    "cosine_i8_topk" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      v -> ABS(CAST(v AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN mx IS NULL OR mx = 0
        |      THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |        v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127.0 / mx + 0.5)
        |          AS BIGINT))
        |    END AS cv
        |  FROM m),
        |q AS (SELECT cv AS qv FROM c WHERE vec_id = 0),
        |s AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(list_zip(cv, qv),
        |      x -> x[1] * x[2])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(cv, v -> v * v)) AS BIGINT) AS na,
        |    CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nb
        |  FROM c, q)
        |SELECT vec_id,
        |  ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |    ELSE CAST(dot AS DOUBLE)
        |      / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))) END,
        |    9) AS cos
        |FROM s
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)
}
