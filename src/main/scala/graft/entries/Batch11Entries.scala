package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.rel.Joins
import graft.stats.Distributions
import graft.text.Dedup

/** Entries for the remaining join variants, n-gram Jaccard dedup, and
  * distribution scalars.
  */
object Batch11Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3 merge_frames_on_index (quality.py:1060): multiway outer join
    // on a shared key.
    "outer_merge" -> ((s, dir) => {
      val custAgg = T.customer(s, dir).groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val suppAgg = T.supplier(s, dir).groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      val nations = T.nation(s, dir)
        .select(col("n_nationkey").as("nationkey"), col("n_name"))
      Joins.mergeDatasets(Seq(nations, custAgg, suppAgg),
          on = Seq("nationkey"), how = "outer")
        .orderBy("nationkey")
    }),

    // §2.3 pair_data (data_utils.py:3355): tolerance join via rounding.
    "rounded_join" -> ((s, dir) => {
      val cust = T.customer(s, dir).filter(col("c_custkey") < 200)
        .select(col("c_custkey"), col("c_acctbal"))
      val supp = T.supplier(s, dir).select(col("s_suppkey"), col("s_acctbal"))
      Joins.roundedJoin(cust, supp, "c_acctbal", "s_acctbal", decimals = 0)
        .select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")
        .orderBy("c_custkey", "s_suppkey")
    }),

    // §2.3 dual_merge nearest join (spatial_utils.py:2318): closest
    // customer acctbal per supplier within tolerance 1.0.
    "nearest_join" -> ((s, dir) => {
      val supp = T.supplier(s, dir).select(col("s_suppkey"), col("s_acctbal"))
      val cust = T.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
      Joins.nearestJoin(supp, cust, "s_acctbal", "c_acctbal",
          tolerance = 1.0, leftId = "s_suppkey")
        .select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")
        .orderBy("s_suppkey")
    }),

    // north-star n-gram Jaccard near-dup (exact rational similarity)
    // over a corpus with planted near-duplicates.
    "ngram_jaccard" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.ngramJaccardPairs(d.unionByName(perturbed), "doc_id", "text",
          k = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // §2.9 distribution scalars (probs.py) over a generated grid.
    "dist_scalars" -> ((s, dir) => {
      s.range(0, 11).select(col("id").as("k"),
          Distributions.binomialPmf(col("k"), n = 10, p = 0.3).as("binom_pmf"),
          Distributions.normalPdf(col("k").cast("double") / 2 - 2.5).as("norm_pdf"),
          Distributions.normalCdf(col("k").cast("double") / 2 - 2.5).as("norm_cdf"))
        .orderBy("k")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "outer_merge" ->
      """WITH ca AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |  FROM customer GROUP BY 1),
        |sa AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |  FROM supplier GROUP BY 1),
        |na AS (SELECT n_nationkey AS nationkey, n_name FROM nation)
        |SELECT COALESCE(na.nationkey, ca.nationkey, sa.nationkey) AS nationkey,
        |  n_name, n_cust, n_supp
        |FROM na FULL OUTER JOIN ca ON na.nationkey = ca.nationkey
        |  FULL OUTER JOIN sa ON COALESCE(na.nationkey, ca.nationkey) = sa.nationkey
        |ORDER BY nationkey""".stripMargin,

    "rounded_join" ->
      """SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 200) c
        |JOIN supplier s ON ROUND(c_acctbal, 0) = ROUND(s_acctbal, 0)
        |ORDER BY c_custkey, s_suppkey""".stripMargin,

    "nearest_join" ->
      """WITH cand AS (
        |  SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY s_suppkey
        |      ORDER BY ABS(s_acctbal - c_acctbal), c_acctbal) AS rn
        |  FROM supplier, customer
        |  WHERE ABS(s_acctbal - c_acctbal) <= 1.0)
        |SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
        |FROM cand WHERE rn = 1 ORDER BY s_suppkey""".stripMargin,

    "ngram_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
        |  FROM documents WHERE doc_id < 50),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
        |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
        |SELECT id_a, id_b,
        |  CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = id_a
        |JOIN sizes nb ON nb.doc_id = id_b
        |WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "dist_scalars" -> {
      // binomial coefficients for n=10 as an inline VALUES map
      val coefs = (0 to 10).map { k =>
        var c = 1.0
        for (i <- 0 until k) c = c * (10 - i) / (i + 1)
        s"($k, ${c.toLong}.0)"
      }.mkString(", ")
      s"""WITH coef(k, c) AS (VALUES $coefs),
         |g AS (SELECT unnest(range(0, 11)) AS k),
         |zt AS (
         |  SELECT g.k, c,
         |    CAST(g.k AS DOUBLE)/2 - 2.5 AS x,
         |    (CAST(g.k AS DOUBLE)/2 - 2.5) / ${math.sqrt(2.0)} AS z
         |  FROM g JOIN coef ON coef.k = g.k),
         |tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ABS(z)) AS t FROM zt),
         |ee AS (SELECT *,
         |  1.0 - t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))) * EXP(-ABS(z) * ABS(z)) AS ef
         |  FROM tt)
         |SELECT k,
         |  ROUND(c * POWER(0.3, CAST(k AS DOUBLE)) * POWER(0.7, 10.0 - k), 9) AS binom_pmf,
         |  ROUND(EXP(x * x * -0.5) / (1.0 * ${math.sqrt(2 * math.Pi)}), 9) AS norm_pdf,
         |  ROUND(0.5 * (1.0 + CASE WHEN z >= 0 THEN ef ELSE -ef END), 9) AS norm_cdf
         |FROM ee ORDER BY k""".stripMargin
    }
  )
}
