package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.ml.{ClassifierEval, RankEval}

/** Round-12 batch: evaluation metrics for the two model families the
  * engine ships — binary-classifier eval (ROC-AUC / PR / calibration,
  * the deployment-threshold dashboard of the quality classifier) and
  * ranking eval (MRR / nDCG@k / P@k / R@k over the BM25 retriever).
  *
  * The classifier entries score lineitem's `l_discount` against the
  * `l_returnflag = 'R'` label: real data, heavy score TIES (11
  * distinct discounts over ~60k rows), which is exactly the regime
  * where naive AUC implementations diverge — the average-rank
  * tie handling is the thing under test.
  */
object Batch35Entries extends Entries {

  private def scored(s: SparkSession, dir: String): DataFrame =
    T.lineitem(s, dir).select(col("l_discount").as("score"),
      (col("l_returnflag") === "R").as("label"))

  private def predicted(s: SparkSession, dir: String): DataFrame =
    T.lineitem(s, dir).select(col("l_returnflag").as("label"),
      when(col("l_quantity") > 25, "R")
        .when(col("l_discount") > 0.05, "A")
        .otherwise("N").as("pred"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Mann-Whitney rank-statistic AUC with average ranks over ties —
    // exact, no curve interpolation; integer rank sums, one round-6
    // division at the end.
    "roc_auc" -> ((s, dir) => {
      ClassifierEval.rocAuc(scored(s, dir), "score", "label")
    }),

    // PR curve at every distinct threshold descending: cumulative
    // TP/FP are exact integers, precision/recall round-6.
    "pr_curve" -> ((s, dir) => {
      ClassifierEval.prCurve(scored(s, dir), "score", "label")
        .orderBy(col("threshold").desc)
    }),

    // Area under the PR step curve (sklearn AP definition).
    "avg_precision" -> ((s, dir) => {
      ClassifierEval.averagePrecision(scored(s, dir), "score", "label")
    }),

    // Confusion matrix + derived rates at threshold 0.05 (mid-range
    // of the discount scores, both sides populated).
    "confusion_matrix" -> ((s, dir) => {
      ClassifierEval.confusionAtThreshold(scored(s, dir), "score",
        "label", threshold = 0.05)
    }),

    // Reliability diagram over 10 equal-width bins of the rescaled
    // score (l_discount x 10 spans [0, 1]); mean score via a
    // DECIMAL(28,12) sum so it is aggregation-order-exact.
    "calibration_bins" -> ((s, dir) => {
      val d = T.lineitem(s, dir).select(
        (col("l_discount") * 10.0).as("score"),
        (col("l_returnflag") === "R").as("label"))
      ClassifierEval.calibrationBins(d, "score", "label", nBins = 10)
        .orderBy("bin")
    }),

    // Multi-class report: l_returnflag predicted by a deterministic
    // quantity/discount rule — a genuinely confusable 3x3 matrix.
    "class_report" -> ((s, dir) => {
      ClassifierEval.classReport(predicted(s, dir), "label", "pred")
        .orderBy("class")
    }),

    // Accuracy, macro-F1 and Cohen's kappa from the same table.
    "class_kappa" -> ((s, dir) => {
      ClassifierEval.kappaSummary(predicted(s, dir), "label", "pred")
    }),

    // Ranking eval of the bm25_topk retriever against graded qrels:
    // the query's source doc is rel 2, its successor doc rel 1 —
    // exercises exponential gains, multi-rel ideal DCG, partial
    // recall, and the no-hit rr = 0 path, all on the REAL retriever
    // output (the bm25_topk entry's exact plan).
    "rank_eval" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val qs = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          slice(graft.text.TextFns.tokens(lower(col("text"))),
            1, 5).as("qtext"))
      val ranking = graft.text.Retrieval.bm25TopK(docs, qs, "doc_id",
        "text", "qid", "qtext", k = 10)
      val qrels = docs
        .filter(col("doc_id") % 97 === 0 && length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query"), col("doc_id").as("doc"),
          lit(2).as("rel"))
        .unionByName(docs.as("d1")
          .join(docs.as("d2"), col("d2.doc_id") === col("d1.doc_id") + 1)
          .filter(col("d1.doc_id") % 97 === 0 &&
            length(trim(col("d1.text"))) > 0)
          .select(col("d1.doc_id").as("query"), col("d2.doc_id").as("doc"),
            lit(1).as("rel")))
      RankEval.rankingMetrics(ranking, qrels, "query", "doc", "rank",
          "rel", k = 10)
        .orderBy("query")
    })
  )

  private val groupsCte =
    """g AS (SELECT l_discount AS s, COUNT(*) AS c,
      |  SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS p
      |FROM lineitem GROUP BY 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "roc_auc" ->
      s"""WITH $groupsCte,
         |r AS (SELECT s, c, p,
         |    COALESCE(SUM(c) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS bef
         |  FROM g)
         |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         |  CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
         |  round((SUM(CAST(p AS DOUBLE) * (CAST(bef AS DOUBLE)
         |      + (CAST(c AS DOUBLE) + 1.0) / 2.0))
         |    - CAST(SUM(p) AS DOUBLE) * (CAST(SUM(p) AS DOUBLE) + 1.0) / 2.0)
         |    / (CAST(SUM(p) AS DOUBLE)
         |      * CAST(SUM(c) - SUM(p) AS DOUBLE)), 6) AS auc
         |FROM r""".stripMargin,

    "pr_curve" ->
      s"""WITH $groupsCte,
         |cum AS (SELECT s,
         |    SUM(p) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    SUM(c - p) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
         |  FROM g),
         |tot AS (SELECT SUM(p) AS npos FROM g)
         |SELECT s AS threshold, CAST(tp AS BIGINT) AS tp,
         |  CAST(fp AS BIGINT) AS fp,
         |  round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
         |    AS precision,
         |  round(CAST(tp AS DOUBLE) / CAST((SELECT npos FROM tot) AS DOUBLE),
         |    6) AS recall
         |FROM cum ORDER BY threshold DESC""".stripMargin,

    "avg_precision" ->
      s"""WITH $groupsCte,
         |cum AS (SELECT s, c, p,
         |    SUM(p) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    SUM(c - p) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
         |  FROM g)
         |SELECT CAST(MAX(tp) AS BIGINT) AS n_pos,
         |  CAST(SUM(c - p) AS BIGINT) AS n_neg,
         |  round(SUM(CAST(p AS DOUBLE)
         |      * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)))
         |    / CAST(MAX(tp) AS DOUBLE), 6) AS ap
         |FROM cum""".stripMargin,

    "confusion_matrix" ->
      """WITH a AS (SELECT
        |  SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R'
        |    THEN 1 ELSE 0 END) AS tp,
        |  SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag <> 'R'
        |    THEN 1 ELSE 0 END) AS fp,
        |  SUM(CASE WHEN l_discount < 0.05 AND l_returnflag <> 'R'
        |    THEN 1 ELSE 0 END) AS tn,
        |  SUM(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R'
        |    THEN 1 ELSE 0 END) AS fn
        |FROM lineitem)
        |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
        |  round(CAST(tp + tn AS DOUBLE)
        |    / CAST(tp + fp + tn + fn AS DOUBLE), 6) AS accuracy,
        |  round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
        |    AS precision,
        |  round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
        |  round(2.0 * CAST(tp AS DOUBLE)
        |    / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
        |FROM a""".stripMargin,

    "calibration_bins" ->
      """WITH d AS (SELECT l_discount * 10.0 AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem)
        |SELECT CAST(LEAST(FLOOR(s * 10), 9) AS INT) AS bin,
        |  COUNT(*) AS n,
        |  round(CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_score,
        |  round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS pos_rate
        |FROM d GROUP BY 1 ORDER BY bin""".stripMargin,

    "class_report" ->
      """WITH d AS (SELECT l_returnflag AS label,
        |    CASE WHEN l_quantity > 25 THEN 'R'
        |         WHEN l_discount > 0.05 THEN 'A'
        |         ELSE 'N' END AS pred
        |  FROM lineitem),
        |cm AS (SELECT label, pred, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |bt AS (SELECT label AS class, SUM(c) AS n_true FROM cm GROUP BY 1),
        |bp AS (SELECT pred AS class, SUM(c) AS n_pred FROM cm GROUP BY 1),
        |tp AS (SELECT label AS class, c AS tp FROM cm WHERE label = pred)
        |SELECT cls.class,
        |  CAST(COALESCE(bt.n_true, 0) AS BIGINT) AS n_true,
        |  CAST(COALESCE(bp.n_pred, 0) AS BIGINT) AS n_pred,
        |  CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
        |  round(CAST(COALESCE(tp.tp, 0) AS DOUBLE)
        |    / CAST(bp.n_pred AS DOUBLE), 6) AS precision,
        |  round(CAST(COALESCE(tp.tp, 0) AS DOUBLE)
        |    / CAST(bt.n_true AS DOUBLE), 6) AS recall,
        |  round(2.0 * CAST(COALESCE(tp.tp, 0) AS DOUBLE)
        |    / CAST(COALESCE(bt.n_true, 0) + COALESCE(bp.n_pred, 0)
        |        AS DOUBLE), 6) AS f1
        |FROM (SELECT class FROM bt UNION SELECT class FROM bp) cls
        |LEFT JOIN bt USING (class) LEFT JOIN bp USING (class)
        |LEFT JOIN tp USING (class)
        |ORDER BY class""".stripMargin,

    "class_kappa" ->
      """WITH d AS (SELECT l_returnflag AS label,
        |    CASE WHEN l_quantity > 25 THEN 'R'
        |         WHEN l_discount > 0.05 THEN 'A'
        |         ELSE 'N' END AS pred
        |  FROM lineitem),
        |cm AS (SELECT label, pred, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |bt AS (SELECT label AS class, SUM(c) AS n_true FROM cm GROUP BY 1),
        |bp AS (SELECT pred AS class, SUM(c) AS n_pred FROM cm GROUP BY 1),
        |tp AS (SELECT label AS class, c AS tp FROM cm WHERE label = pred),
        |rep AS (SELECT cls.class,
        |    COALESCE(bt.n_true, 0) AS n_true,
        |    COALESCE(bp.n_pred, 0) AS n_pred,
        |    COALESCE(tp.tp, 0) AS tp,
        |    round(2.0 * CAST(COALESCE(tp.tp, 0) AS DOUBLE)
        |      / CAST(COALESCE(bt.n_true, 0) + COALESCE(bp.n_pred, 0)
        |          AS DOUBLE), 6) AS f1
        |  FROM (SELECT class FROM bt UNION SELECT class FROM bp) cls
        |  LEFT JOIN bt USING (class) LEFT JOIN bp USING (class)
        |  LEFT JOIN tp USING (class)),
        |a AS (SELECT CAST(SUM(n_true) AS BIGINT) AS n,
        |    CAST(SUM(tp) AS BIGINT) AS tpsum,
        |    CAST(SUM(CAST(n_true AS DECIMAL(19,0))
        |      * CAST(n_pred AS DECIMAL(19,0))) AS DOUBLE) AS pe_num,
        |    AVG(CASE WHEN n_true > 0 THEN f1 END) AS mf1
        |  FROM rep)
        |SELECT n,
        |  round(CAST(tpsum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
        |  round(mf1, 6) AS macro_f1,
        |  round((CAST(tpsum AS DOUBLE) / CAST(n AS DOUBLE)
        |      - pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / (1.0 - pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
        |    6) AS kappa
        |FROM a""".stripMargin,

    "rank_eval" -> {
      // the bm25_topk oracle verbatim as the ranking source (nested
      // WITH in a parenthesized subquery), then the metric CTEs
      val bm25 = Batch26Entries.oracleSql("bm25_topk")
      s"""WITH ranking AS ($bm25),
         |qr AS (
         |  SELECT doc_id AS query, doc_id AS doc, 2 AS rel
         |  FROM documents WHERE doc_id % 97 = 0 AND len(trim(text)) > 0
         |  UNION ALL
         |  SELECT d1.doc_id, d2.doc_id, 1
         |  FROM documents d1 JOIN documents d2
         |    ON d2.doc_id = d1.doc_id + 1
         |  WHERE d1.doc_id % 97 = 0 AND len(trim(d1.text)) > 0),
         |ideal AS (
         |  SELECT query, COUNT(*) AS n_rel,
         |    SUM(CASE WHEN posn <= 10
         |      THEN CAST((1::BIGINT << rel) - 1 AS DOUBLE)
         |        / (ln(CAST(posn AS DOUBLE) + 1.0) / ln(2.0))
         |      ELSE 0.0 END) AS idcg
         |  FROM (SELECT query, rel, doc, ROW_NUMBER() OVER (
         |      PARTITION BY query ORDER BY rel DESC, doc ASC) AS posn
         |    FROM qr)
         |  GROUP BY query),
         |tk AS (
         |  SELECT r.query, r.rank, COALESCE(q.rel, 0) AS rel
         |  FROM ranking r LEFT JOIN qr q
         |    ON r.query = q.query AND r.doc = q.doc
         |  WHERE r.rank <= 10),
         |pq AS (
         |  SELECT query,
         |    MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel_rank,
         |    SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
         |    SUM(CAST((1::BIGINT << rel) - 1 AS DOUBLE)
         |      / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))) AS dcg
         |  FROM tk GROUP BY query)
         |SELECT i.query, CAST(i.n_rel AS BIGINT) AS n_rel,
         |  p.first_rel_rank,
         |  round(COALESCE(1.0 / CAST(p.first_rel_rank AS DOUBLE), 0.0), 6)
         |    AS rr,
         |  round(COALESCE(p.dcg, 0.0) / i.idcg, 6) AS ndcg,
         |  round(CAST(COALESCE(p.hits, 0) AS DOUBLE) / 10.0, 6)
         |    AS precision_k,
         |  round(CAST(COALESCE(p.hits, 0) AS DOUBLE)
         |    / CAST(i.n_rel AS DOUBLE), 6) AS recall_k
         |FROM ideal i LEFT JOIN pq p USING (query)
         |ORDER BY query""".stripMargin
    }
  )
}
