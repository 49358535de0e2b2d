package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-12 closing: the Kneser–Ney bigram perplexity filter (the
  * smoothing KenLM actually uses, completing the LM-scoring ladder
  * add-α unigram → add-α bigram → interpolated KN) and the
  * sketch-based approximate quantile path (the at-scale variant of
  * quantiles_exact — a full sort per column is the wrong plan at
  * 100 TB; the GK summary is one mergeable pass). */
object Batch31Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // LangModel.scoreByKneserNey: same held-out-fifth split as
    // unigram_ppl/bigram_ppl so all three models rank the same
    // documents. The held-out fifth exercises every branch: pair
    // seen (max term positive — a count of 1 discounts to 0.25),
    // context seen / pair unseen (max term zero, interpolation mass
    // only), context unseen (pure continuation backoff), and unseen
    // successors through the α slot of P_cont.
    "kn_ppl" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.scoreByKneserNey(
          docs, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          discount = 0.75, alpha = 0.5)
        .orderBy("doc")
    }),

    // ---- rows-only entry (sketch internals are engine-specific) ----
    // stats at scale: percentile_approx (Greenwald–Khanna summary) on
    // the same column/quantile grid as the oracle-checked
    // quantiles_exact twin. One mergeable pass, no per-group sort —
    // the plan that survives 100 TB. Accuracy 10000 → rank error
    // ≤ n/10000; Batch31Spec asserts the rank-error bound against the
    // exact order statistics and exactness at small n.
    "quantiles_approx" -> ((s, dir) => {
      T.lineitem(s, dir).agg(
        percentile_approx(col("l_extendedprice"), lit(0.25), lit(10000))
          .as("q25"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("q50"),
        percentile_approx(col("l_extendedprice"), lit(0.75), lit(10000))
          .as("q75"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000))
          .as("q99"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    // The identical IEEE tree: integer counts → correctly-rounded
    // double ops in the same association order as the Column
    // expressions; round-6 mean, EXP of the already-rounded mean.
    "kn_ppl" ->
      """WITH rt AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 <> 0 AND len(trim(text)) > 0),
        |rb AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 1),
        |c AS (SELECT w1, w2, COUNT(*) AS c12 FROM rb GROUP BY 1, 2),
        |ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM c GROUP BY 1),
        |pred AS (SELECT w2, COUNT(*) AS n1b FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbg,
        |               CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v2 FROM c),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |db AS (
        |  SELECT doc, t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM dt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 1),
        |dbf AS (SELECT doc, w1, w2, COUNT(*) AS tf FROM db GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.c12 IS NULL THEN 1 ELSE 0 END AS oov,
        |    LN(CASE WHEN ctx.c1 IS NOT NULL
        |      THEN GREATEST(CAST(COALESCE(c.c12, 0) AS DOUBLE) - 0.75, 0.0)
        |             / CAST(ctx.c1 AS DOUBLE)
        |         + ((0.75 * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE))
        |             * ((CAST(COALESCE(pred.n1b, 0) AS DOUBLE) + 0.5)
        |                / (t.nbg + 0.5 * (t.v2 + 1.0)))
        |      ELSE (CAST(COALESCE(pred.n1b, 0) AS DOUBLE) + 0.5)
        |             / (t.nbg + 0.5 * (t.v2 + 1.0))
        |    END) AS logp
        |  FROM dbf LEFT JOIN c USING (w1, w2) LEFT JOIN ctx USING (w1)
        |    LEFT JOIN pred USING (w2), tot t),
        |sc AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(oov * tf) AS BIGINT) AS n_oov,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mean_logprob
        |  FROM j GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(n_oov, 0) AS n_oov,
        |  COALESCE(mean_logprob, 0.0) AS mean_logprob,
        |  COALESCE(ROUND(EXP(-mean_logprob), 6), 1.0) AS ppl
        |FROM documents d LEFT JOIN sc ON sc.doc = d.doc_id
        |ORDER BY doc""".stripMargin
  )
}
