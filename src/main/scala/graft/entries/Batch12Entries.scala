package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.rel.Filters
import graft.stats.{Descriptive, Distributions, Regression}

/** Entries for describe, OLS residualization, spatial box filter, and
  * Poisson log-pmf. */
object Batch12Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 filter_position/extract_zones (spatial_utils.py:1813) as a
    // 2-D range predicate.
    "box_filter" -> ((s, dir) => {
      Filters.boxFilter(T.events(s, dir), "value", "user_id",
          (100.0, 500.0), (10.0, 60.0))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // §2.4 dca_analysis (survival_reliability.py:112): net benefit over
    // a threshold grid, score = minmax acctbal, label = BUILDING.
    "decision_curve" -> ((s, dir) => {
      val cust = T.customer(s, dir)
      val r = cust.agg(min("c_acctbal"), max("c_acctbal")).head()
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val scored = cust.withColumn("score",
        (col("c_acctbal") - lit(lo)) / lit(hi - lo))
      graft.stats.Survival.decisionCurve(scored, "score",
          col("c_mktsegment") === "BUILDING",
          Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
        .orderBy("pt")
    }),

    // §2.9 calculate_binary_iv (mathext.py:3710): information value of
    // priority vs the F-status target.
    "binary_iv" -> ((s, dir) => {
      Descriptive.binaryIV(T.orders(s, dir), "o_orderpriority",
        col("o_orderstatus") === "F")
    }),

    // §2.9 poisson_logpmf (probs.py:425) over a generated k grid.
    "poisson_logpmf" -> ((s, dir) => {
      s.range(0, 15).select(col("id").as("k"),
          Distributions.poissonLogPmf(col("k"), lambda = 3.0).as("lpmf"))
        .orderBy("k")
    }),
    // §2.4 describe (descriptive.py:2224) — long-form exact summary.
    "describe" -> ((s, dir) => {
      Descriptive.describeExact(T.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("column")
    }),

    // §2.9 adjust_for_control_vars (mathext.py:3217): OLS residuals of
    // extendedprice against quantity (sufficient-statistics fit; the
    // coefficients are rounded and the residual recomputed from the
    // rounded fit on both engines, so every row is deterministic).
    "ols_residuals" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      val fit = Regression.ols(li, "l_extendedprice", Seq("l_quantity"))
      val b0 = BigDecimal(fit.beta(0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val b1 = BigDecimal(fit.beta(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      li.select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") - (lit(b0) + col("l_quantity") * lit(b1)))
            .as("resid"))
        .orderBy("l_orderkey", "l_linenumber")
    })
  )

  private def momentCols(c: String) = {
    val n = s"CAST(COUNT($c) AS DOUBLE)"
    val sx = s"(CAST(SUM(CAST(ROUND($c * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)"
    val sxx = s"(CAST(SUM(CAST(ROUND($c * 100, 0) AS BIGINT) * CAST(ROUND($c * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0)"
    s"""SELECT '$c' AS "column", COUNT($c) AS n,
       |  $sx / $n AS mean,
       |  ROUND(SQRT(($sxx - $sx * $sx / $n) / ($n - 1)), 9) AS std,
       |  MIN($c) AS min, MAX($c) AS max
       |FROM lineitem""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "box_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value BETWEEN 100.0 AND 500.0 AND user_id BETWEEN 10 AND 60
        |ORDER BY event_id""".stripMargin,

    "binary_iv" ->
      """WITH c AS (
        |  SELECT o_orderpriority,
        |    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS g,
        |    SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS b
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT (CAST(g AS DOUBLE) + 0.5) / (CAST(SUM(g) OVER () AS DOUBLE) + 0.5) AS gp,
        |    (CAST(b AS DOUBLE) + 0.5) / (CAST(SUM(b) OVER () AS DOUBLE) + 0.5) AS bp
        |  FROM c)
        |SELECT ROUND(SUM((gp - bp) * LN(gp / bp)), 6) AS iv FROM p""".stripMargin,

    "decision_curve" ->
      """WITH b AS (SELECT MIN(c_acctbal) lo, MAX(c_acctbal) hi FROM customer),
        |s AS (SELECT (c_acctbal - lo) / (hi - lo) AS score,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
        |  FROM customer, b),
        |g AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS pt)
        |SELECT pt,
        |  CAST(SUM(CASE WHEN score >= pt THEN y ELSE 0 END) AS DOUBLE) / COUNT(*) AS tp_rate,
        |  CAST(SUM(CASE WHEN score >= pt THEN 1 - y ELSE 0 END) AS DOUBLE) / COUNT(*) AS fp_rate,
        |  CAST(SUM(CASE WHEN score >= pt THEN y ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    - CAST(SUM(CASE WHEN score >= pt THEN 1 - y ELSE 0 END) AS DOUBLE) / COUNT(*) * (pt / (1.0 - pt)) AS net_benefit
        |FROM s, g GROUP BY pt ORDER BY pt""".stripMargin,

    "poisson_logpmf" -> {
      val lnFacts = (0 to 20).map { kk =>
        s"($kk, ${math.log((1 to kk).foldLeft(1.0)(_ * _))})"
      }.mkString(", ")
      s"""WITH lf(k, lnf) AS (VALUES $lnFacts),
         |g AS (SELECT unnest(range(0, 15)) AS k)
         |SELECT g.k,
         |  ROUND(CAST(g.k AS DOUBLE) * ${math.log(3.0)} - 3.0 - lnf, 9) AS lpmf
         |FROM g JOIN lf ON lf.k = g.k ORDER BY g.k""".stripMargin
    },

    "describe" ->
      Seq("l_discount", "l_extendedprice", "l_quantity")
        .map(momentCols).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),

    "ols_residuals" -> {
      // same closed-form slope/intercept from exact moments, rounded to
      // 6 dp exactly like the Spark side before the residual projection.
      val n = "CAST(COUNT(*) AS DOUBLE)"
      val sx = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
      val sy = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
      val sxx = "CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2)) AS DECIMAL(24,4))) AS DOUBLE)"
      val sxy = "CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_extendedprice AS DECIMAL(15,2)) AS DECIMAL(32,4))) AS DOUBLE)"
      s"""WITH m AS (
         |  SELECT ROUND(($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx), 6) AS b1r,
         |    ROUND(($sy - ($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx) * $sx) / $n, 6) AS b0r
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber,
         |  l_extendedprice - (b0r + l_quantity * b1r) AS resid
         |FROM lineitem, m ORDER BY l_orderkey, l_linenumber""".stripMargin
    }
  )
}
