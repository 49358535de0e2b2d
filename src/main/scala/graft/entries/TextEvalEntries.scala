package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Tables => T}
import graft.text.{Keywords, TextFns}

/** Registry queries for `graft.text` retrieval (BM25, rank fusion),
  * keyword extraction and generation evaluation (ROUGE, BLEU, chrF,
  * QA exact-match / F1).
  */
object TextEvalEntries extends Entries {

  /** The chrF oracle is the clipped-overlap kernel of rouge_doc
    * replayed over CHAR grams for orders 1..6 — generated by a loop
    * because the six per-order CTEs are mechanically identical
    * (exactly as the Scala fold that builds the Spark plan is). */
  private def chrfOracle(maxN: Int): String = {
    val gramCtes = (1 to maxN).flatMap { n =>
      Seq(
        s"""cg$n AS (SELECT doc, substr(s, i.i, $n) AS gram, COUNT(*) AS c
           |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
           |        WHERE i.i <= len(s) - ${n - 1} GROUP BY 1, 2)""".stripMargin,
        s"""rg$n AS (SELECT doc, substr(s, i.i, $n) AS gram, COUNT(*) AS c
           |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
           |        WHERE i.i <= len(s) - ${n - 1} GROUP BY 1, 2)""".stripMargin,
        s"""o$n AS (SELECT doc,
           |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
           |         SUM(COALESCE(c.c, 0)) AS ct,
           |         SUM(COALESCE(r.c, 0)) AS rt
           |       FROM cg$n c FULL JOIN rg$n r USING (doc, gram)
           |       GROUP BY doc)""".stripMargin)
    }
    // integer micro-units: (2·m·10⁶ + d) // (2·d) is HALF_UP of the
    // exact rational at 6 dp — pure integer arithmetic, so the mean
    // over orders (same trick, denominator maxN) is bit-identical in
    // any engine; only the final F crossing divides doubles
    val pExprs = (1 to maxN).map { n =>
      s"""COALESCE(CASE WHEN o$n.ct > 0
         |    THEN (2 * o$n.m * 1000000 + o$n.ct) // (2 * o$n.ct)
         |    ELSE 0 END, 0)""".stripMargin
    }
    val rExprs = (1 to maxN).map { n =>
      s"""COALESCE(CASE WHEN o$n.rt > 0
         |    THEN (2 * o$n.m * 1000000 + o$n.rt) // (2 * o$n.rt)
         |    ELSE 0 END, 0)""".stripMargin
    }
    val joins = (1 to maxN)
      .map(n => s"LEFT JOIN o$n ON o$n.doc = d.doc_id").mkString("\n")
    s"""WITH cd AS (
       |  SELECT doc_id AS doc,
       |    regexp_replace(lower(text), '\\s+', '', 'g') AS s
       |  FROM documents),
       |rd AS (
       |  SELECT doc_id AS doc,
       |    regexp_replace(lower(regexp_replace(text, '^\\S+\\s+', '')),
       |      '\\s+', '', 'g') AS s
       |  FROM documents),
       |${gramCtes.mkString(",\n")}
       |SELECT doc, chrf_p, chrf_r,
       |  CASE WHEN 4.0 * chrf_p + chrf_r > 0.0
       |    THEN ROUND(5.0 * chrf_p * chrf_r / (4.0 * chrf_p + chrf_r), 6)
       |    ELSE 0.0 END AS chrf
       |FROM (
       |  SELECT d.doc_id AS doc,
       |    CAST((2 * (${pExprs.mkString(" +\n    ")}) + $maxN)
       |      // ${2 * maxN} AS DOUBLE) / 1000000.0 AS chrf_p,
       |    CAST((2 * (${rExprs.mkString(" +\n    ")}) + $maxN)
       |      // ${2 * maxN} AS DOUBLE) / 1000000.0 AS chrf_r
       |  FROM documents d
       |$joins)
       |ORDER BY doc""".stripMargin
  }

  // Mirrors bm25TopK exactly: distinct (query, token) terms, one
  // tf table feeding df and dl, N = distinct doc ids, avgdl over
  // that N, Lucene idf, round-6 scores BEFORE row_number ranking.
  private[entries] val bm25TopkSql =
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
      |ORDER BY query, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.10 summarize_text_columns shape: TF-IDF top-3 keywords/doc.
    "top_keywords" -> ((s, dir) => {
      Keywords.tfidfTopK(T.documents(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc", "rk")
    }),

    // §2.9 summarize_text_columns (transformation.py:31): top-TF-IDF
    // sentence per document.
    "extractive_summary" -> ((s, dir) => {
      Keywords.extractiveSummary(T.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    }),

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

    // text.EvalMetrics.rougeN: per-document ROUGE-1/2 recall of each
    // document against its first-word-dropped twin — the eval-side
    // operator of a model-output pipeline as clipped n-gram counts
    // (matches over reference totals): one doc-keyed join and the
    // native row-local overlap expression.
    "rouge_doc" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.rougeN(cand, ref, "doc_id", "text", "text",
          maxN = 2)
        .orderBy("doc")
    }),

    // text.EvalMetrics.rougeL via the native lcs_len codegen
    // expression (an O(n·m) DP no built-in composition can express —
    // row-local, so it distributes perfectly). The reference replaces
    // every 3rd token with a position-unique junk token that occurs
    // nowhere in the corpus, so the LCS has the CLOSED FORM
    // len − ⌊len/3⌋ — a full end-to-end oracle for the DP on real
    // data (the expression computes it honestly; DuckDB replays the
    // closed form).
    "rouge_l" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val toks = graft.text.TextFns.tokens(lower(col("text")))
      val ref = cand.select(col("doc_id"),
        array_join(
          zip_with(toks,
            when(size(toks) > 0, sequence(lit(1), size(toks)))
              .otherwise(array().cast("array<int>")),
            (t, i) => when(i % 3 === 0,
              concat(lit("[["), i.cast("string"), lit("]]"))).otherwise(t)),
          " ").as("text"))
      graft.text.EvalMetrics.rougeL(cand, ref, "doc_id", "text", "text")
        .orderBy("doc")
    }),

    // text.EvalMetrics.corpusBleu: corpus BLEU-4 of the same
    // candidate/reference pairing — four clipped-precision count
    // pairs + one length pair collapse to a single row; integer
    // sufficient statistics, round-6 at every libm crossing.
    "bleu_corpus" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.corpusBleu(cand, ref, "doc_id", "text", "text",
        maxN = 4)
    }),

    // text.EvalMetrics.chrF: per-document chrF2 (Popović 2015) of each
    // document against its first-word-dropped twin — character n-grams
    // 1..6 (the published setting), whitespace stripped, β = 2. The
    // kernel is the same clipped overlap as ROUGE/BLEU, just over CHAR
    // grams: one doc-keyed join and a row-local native expression,
    // nothing pairwise across documents. Dropping the first WORD perturbs
    // every char offset, so the metric is exercised away from the
    // identity fast-path on every row.
    "chrf_doc" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.chrF(cand, ref, "doc_id", "text", "text",
          maxN = 6, beta = 2.0)
        .orderBy("doc")
    }),

    // text.EvalMetrics.qaEval: SQuAD-style exact match + token F1 of
    // each document against its first-word-dropped twin under the
    // cleanText normalization — one doc-keyed join + the native
    // unigram overlap expression (row-local, stateless). Dropping a
    // word makes every em = 0 while f1 stays high — both columns
    // exercised away from their fixed points.
    "qa_eval" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.qaEval(cand, ref, "doc_id", "text", "text")
        .orderBy("doc")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Mirrors the Spark plan: RE2-portable sentence split, exact
    // decimal token scores (tf · 6-dp-rounded ln), one double division
    // per sentence, ties to the first sentence.
    "extractive_summary" ->
      """WITH sent0 AS (
        |  SELECT doc_id AS doc, x AS sidx, arr[x + 1] AS sent
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]\s+') AS arr FROM documents),
        |    LATERAL UNNEST(range(len(arr))) AS u(x)),
        |sentf AS (SELECT * FROM sent0 WHERE len(trim(sent)) > 0),
        |toks AS (
        |  SELECT doc, sidx, t AS token
        |  FROM sentf, LATERAL UNNEST(string_split_regex(trim(lower(sent)), '\s+')) AS u(t)
        |  WHERE len(t) >= 2),
        |tf AS (SELECT doc, sidx, token, COUNT(*) tf FROM toks GROUP BY 1, 2, 3),
        |sdf AS (SELECT doc, token, CAST(COUNT(*) AS BIGINT) sdf
        |  FROM (SELECT DISTINCT doc, sidx, token FROM toks) GROUP BY 1, 2),
        |ns AS (SELECT doc, CAST(COUNT(*) AS BIGINT) ns FROM sentf GROUP BY 1),
        |ts AS (
        |  SELECT doc, sidx,
        |    CAST(CAST(tf AS DECIMAL(10,0)) *
        |      CAST(ROUND(LN(CAST(ns AS DOUBLE) / CAST(sdf AS DOUBLE)), 6) AS DECIMAL(10,6))
        |      AS DECIMAL(20,6)) AS tokscore
        |  FROM tf JOIN sdf USING (doc, token) JOIN ns USING (doc)),
        |ss AS (
        |  SELECT doc, sidx,
        |    CAST(SUM(tokscore) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS score
        |  FROM ts GROUP BY 1, 2),
        |best AS (
        |  SELECT doc, sidx, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc ORDER BY score DESC, sidx ASC) rk
        |  FROM ss)
        |SELECT b.doc AS doc_id, CAST(b.sidx AS INT) AS sidx, s.sent AS summary, b.score
        |FROM best b JOIN sentf s USING (doc, sidx)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "top_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id AS doc, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |ft AS (SELECT doc, token FROM toks WHERE len(token) >= 2),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM ft GROUP BY doc, token),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc, token FROM ft) GROUP BY token),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT doc, token, ROUND(CAST(tf AS DOUBLE) * LN(n.n / CAST(df AS DOUBLE)), 6) AS score
        |  FROM tf JOIN dfreq USING (token), n),
        |ranked AS (
        |  SELECT doc, token, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc ORDER BY score DESC, token) AS INT) AS rk
        |  FROM scored)
        |SELECT doc, rk, token, score FROM ranked WHERE rk <= 3
        |ORDER BY doc, rk""".stripMargin,

    "bm25_topk" -> bm25TopkSql,

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

    // The clipped-overlap kernel replayed per order: per-(doc, gram)
    // counts on both sides, FULL join, Σ min — recall against the
    // reference total, round-6, absent orders coalesce to 0.
    "rouge_doc" ->
      """WITH cd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
        |  FROM documents),
        |rd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(regexp_replace(text, '^\S+\s+', ''))) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           trim(lower(regexp_replace(text, '^\S+\s+', ''))), '\s+')
        |    END AS t
        |  FROM documents),
        |cg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |rg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |cg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram,
        |          COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |rg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram,
        |          COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |o1 AS (SELECT doc,
        |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
        |         SUM(COALESCE(r.c, 0)) AS rt
        |       FROM cg1 c FULL JOIN rg1 r USING (doc, gram) GROUP BY doc),
        |o2 AS (SELECT doc,
        |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
        |         SUM(COALESCE(r.c, 0)) AS rt
        |       FROM cg2 c FULL JOIN rg2 r USING (doc, gram) GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(CASE WHEN o1.rt > 0
        |    THEN ROUND(CAST(o1.m AS DOUBLE) / CAST(o1.rt AS DOUBLE), 6)
        |    ELSE 0.0 END, 0.0) AS rouge_1,
        |  COALESCE(CASE WHEN o2.rt > 0
        |    THEN ROUND(CAST(o2.m AS DOUBLE) / CAST(o2.rt AS DOUBLE), 6)
        |    ELSE 0.0 END, 0.0) AS rouge_2
        |FROM documents d
        |LEFT JOIN o1 ON o1.doc = d.doc_id
        |LEFT JOIN o2 ON o2.doc = d.doc_id
        |ORDER BY doc""".stripMargin,

    // The closed form: junk replacements are unmatchable, so
    // LCS = len − ⌊len/3⌋ and ref_len = len exactly.
    "rouge_l" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS l
        |  FROM documents)
        |SELECT doc_id AS doc,
        |  CAST(l - l // 3 AS INT) AS lcs,
        |  CASE WHEN l > 0
        |    THEN ROUND(CAST(l - l // 3 AS DOUBLE) / CAST(l AS DOUBLE), 6)
        |    ELSE 0.0 END AS rouge_l
        |FROM n ORDER BY doc""".stripMargin,

    // Corpus BLEU-4: four clipped-precision pairs + the length pair;
    // p_n and bp round-6 BEFORE the final product, zero p_n floors
    // the score (the standard convention, logs never -inf).
    "bleu_corpus" ->
      """WITH cd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
        |  FROM documents),
        |rd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(regexp_replace(text, '^\S+\s+', ''))) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           trim(lower(regexp_replace(text, '^\S+\s+', ''))), '\s+')
        |    END AS t
        |  FROM documents),
        |cl AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS cand_len FROM cd),
        |rl AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS ref_len FROM rd),
        |cg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |rg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |cg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |rg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |cg3 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 2), ' ') AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 2 GROUP BY 1, 2),
        |rg3 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 2), ' ') AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 2 GROUP BY 1, 2),
        |cg4 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 3), ' ') AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 3 GROUP BY 1, 2),
        |rg4 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 3), ' ') AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 3 GROUP BY 1, 2),
        |o1 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg1 c FULL JOIN rg1 r USING (doc, gram)),
        |o2 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg2 c FULL JOIN rg2 r USING (doc, gram)),
        |o3 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg3 c FULL JOIN rg3 r USING (doc, gram)),
        |o4 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg4 c FULL JOIN rg4 r USING (doc, gram)),
        |p AS (SELECT
        |  CASE WHEN o1.tt > 0 THEN ROUND(CAST(o1.m AS DOUBLE) / CAST(o1.tt AS DOUBLE), 6) ELSE 0.0 END AS p_1,
        |  CASE WHEN o2.tt > 0 THEN ROUND(CAST(o2.m AS DOUBLE) / CAST(o2.tt AS DOUBLE), 6) ELSE 0.0 END AS p_2,
        |  CASE WHEN o3.tt > 0 THEN ROUND(CAST(o3.m AS DOUBLE) / CAST(o3.tt AS DOUBLE), 6) ELSE 0.0 END AS p_3,
        |  CASE WHEN o4.tt > 0 THEN ROUND(CAST(o4.m AS DOUBLE) / CAST(o4.tt AS DOUBLE), 6) ELSE 0.0 END AS p_4
        |  FROM o1, o2, o3, o4),
        |b AS (SELECT cand_len, ref_len,
        |  CASE WHEN cand_len >= ref_len AND cand_len > 0 THEN 1.0
        |       WHEN cand_len > 0 THEN ROUND(EXP(1.0 -
        |         CAST(ref_len AS DOUBLE) / CAST(cand_len AS DOUBLE)), 6)
        |       ELSE 0.0 END AS bp
        |  FROM cl, rl)
        |SELECT
        |  CASE WHEN p_1 = 0.0 OR p_2 = 0.0 OR p_3 = 0.0 OR p_4 = 0.0 THEN 0.0
        |       ELSE ROUND(bp * EXP((((LN(p_1) + LN(p_2)) + LN(p_3)) + LN(p_4)) / 4.0), 6)
        |  END AS bleu,
        |  bp, p_1, p_2, p_3, p_4, cand_len, ref_len
        |FROM p, b""".stripMargin,

    "chrf_doc" -> chrfOracle(6),

    // cleanText = lower -> strip non-alphanumerics -> squeeze spaces
    // -> trim, spelled identically; the unigram clipped overlap is
    // the rouge_doc kernel at order 1 over the NORMALIZED tokens.
    "qa_eval" ->
      """WITH cn AS (
        |  SELECT doc_id AS doc,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS s
        |  FROM documents),
        |rn AS (
        |  SELECT doc_id AS doc,
        |    trim(regexp_replace(regexp_replace(
        |      lower(regexp_replace(text, '^\S+\s+', '')),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS s
        |  FROM documents),
        |ct AS (SELECT doc,
        |         CASE WHEN len(trim(s)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE string_split_regex(trim(s), '\s+') END AS t
        |       FROM cn),
        |rt AS (SELECT doc,
        |         CASE WHEN len(trim(s)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE string_split_regex(trim(s), '\s+') END AS t
        |       FROM rn),
        |cg AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |       FROM ct, (SELECT unnest(range(1, 2000)) AS i) i
        |       WHERE i.i <= len(t) GROUP BY 1, 2),
        |rg AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |       FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |       WHERE i.i <= len(t) GROUP BY 1, 2),
        |ov AS (SELECT doc,
        |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
        |         SUM(COALESCE(c.c, 0)) AS ctl,
        |         SUM(COALESCE(r.c, 0)) AS rtl
        |       FROM cg c FULL JOIN rg r USING (doc, gram) GROUP BY doc),
        |pr AS (
        |  SELECT cn.doc,
        |    CASE WHEN rn.s IS NOT NULL AND cn.s = rn.s THEN 1 ELSE 0 END
        |      AS em,
        |    COALESCE(CASE WHEN ov.ctl > 0
        |      THEN ROUND(CAST(ov.m AS DOUBLE) / CAST(ov.ctl AS DOUBLE), 6)
        |      ELSE 0.0 END, 0.0) AS p,
        |    COALESCE(CASE WHEN ov.rtl > 0
        |      THEN ROUND(CAST(ov.m AS DOUBLE) / CAST(ov.rtl AS DOUBLE), 6)
        |      ELSE 0.0 END, 0.0) AS r
        |  FROM cn LEFT JOIN rn ON rn.doc = cn.doc
        |  LEFT JOIN ov ON ov.doc = cn.doc)
        |SELECT doc, em,
        |  CASE WHEN p + r > 0.0
        |    THEN ROUND(2.0 * p * r / (p + r), 6)
        |    ELSE 0.0 END AS f1
        |FROM pr ORDER BY doc""".stripMargin
  )

  override val nljAllowed: Set[String] = Set(
    // bm25_topk / rrf_fuse: the (N, avgdl) corpus scalars ride onto
    // candidates as a 1-row broadcast (rrf fuses two BM25 plans, so
    // it carries two such joins)
    "bm25_topk", "rrf_fuse",
    // bleu_corpus: the metric's sufficient statistics — four clipped
    // (matched, total) count pairs plus the length pair — are five
    // 1-row aggregates crossJoined into the single output row (the
    // (N, avgdl) pattern, once per order)
    "bleu_corpus")
}
