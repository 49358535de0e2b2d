package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-12 batch: data-quality audits (Benford first-digit screen,
  * join-key skew report) and CUSUM drift monitoring. */
object Batch39Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Benford's-law screen on order totals: nine-group aggregate,
    // first digit from the DECIMAL string rendering.
    "benford" -> ((s, dir) => {
      graft.stats.DataAudit.benford(T.orders(s, dir), "o_totalprice")
        .orderBy("digit")
    }),

    // Skew report for the supplier join key of lineitem.
    "key_skew" -> ((s, dir) => {
      graft.stats.DataAudit.keySkew(T.lineitem(s, dir), "l_suppkey",
        k = 10)
    }),

    // Pareto concentration of customer revenue (the 80/20 curve).
    "pareto_curve" -> ((s, dir) => {
      graft.stats.DataAudit.paretoCurve(T.orders(s, dir), "o_custkey",
          "o_totalprice", points = 10)
        .orderBy("pct_entities")
    }),

    // Week-over-week revenue growth: weekly decimal-exact totals +
    // one lag over the (bounded) week table.
    "wow_growth" -> ((s, dir) => {
      val weekly = T.orders(s, dir)
        .groupBy(date_trunc("week", col("o_orderdate")).cast("date")
          .as("week"))
        .agg(graft.core.Exact.dsum(col("o_totalprice")).as("revenue"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("week")
      weekly.withColumn("_prev", lag("revenue", 1).over(w))
        .select(col("week"), col("revenue"),
          round((col("revenue") - col("_prev")) / col("_prev"), 6)
            .as("wow_pct"))
        .orderBy("week")
    }),

    // CUSUM drift flags per user over the event value series:
    // decimal-exact sufficient statistics end-to-end, so every cusum
    // value is deterministic before its final round.
    "cusum_flags" -> ((s, dir) => {
      graft.ts.Windows.cusumFlags(T.events(s, dir), Seq("user_id"),
          "value", "ts", tieCols = Seq("event_id"), threshold = 3.0)
        .select("user_id", "event_id", "value", "cusum", "drift")
        .orderBy("user_id", "event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "benford" ->
      """WITH d AS (SELECT substr(regexp_replace(
        |    CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS VARCHAR),
        |    '[^1-9]', '', 'g'), 1, 1) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |g AS (SELECT digit, COUNT(*) AS n FROM d WHERE digit <> ''
        |  GROUP BY 1),
        |t AS (SELECT SUM(n) AS t FROM g),
        |sel AS (SELECT CAST(digit AS INT) AS digit, n,
        |    round(CAST(n AS DOUBLE)
        |      / CAST((SELECT t FROM t) AS DOUBLE), 6) AS observed,
        |    round(ln(1.0 + 1.0 / CAST(CAST(digit AS INT) AS DOUBLE))
        |      / ln(10.0), 6) AS expected
        |  FROM g)
        |SELECT digit, n, observed, expected,
        |  round((observed - expected) * (observed - expected)
        |    / expected, 6) AS chi2_term
        |FROM sel ORDER BY digit""".stripMargin,

    "key_skew" ->
      """WITH c AS (SELECT l_suppkey AS k, COUNT(*) AS c FROM lineitem
        |  GROUP BY 1),
        |tk AS (SELECT SUM(c) AS topk FROM (
        |  SELECT c FROM c ORDER BY c DESC, k ASC LIMIT 10)),
        |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    COUNT(*) AS d, CAST(MAX(c) AS BIGINT) AS mx FROM c)
        |SELECT n AS n_rows, d AS n_keys,
        |  round(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS max_key_share,
        |  round(CAST((SELECT topk FROM tk) AS DOUBLE)
        |    / CAST(n AS DOUBLE), 6) AS top_k_share,
        |  round(CAST(n AS DOUBLE) / CAST(d AS DOUBLE), 6)
        |    AS avg_rows_per_key
        |FROM a""".stripMargin,

    "pareto_curve" ->
      """WITH per AS (SELECT o_custkey AS k,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(v) AS t, COUNT(*) AS n FROM per),
        |r AS (SELECT v,
        |    COUNT(*) OVER (ORDER BY v DESC, k ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r,
        |    SUM(v) OVER (ORDER BY v DESC, k ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM per)
        |SELECT
        |  round(CAST(r AS DOUBLE) / CAST((SELECT n FROM t) AS DOUBLE), 6)
        |    AS pct_entities,
        |  round(CAST(cum AS DOUBLE) / CAST((SELECT t FROM t) AS DOUBLE), 6)
        |    AS pct_mass
        |FROM r WHERE (r * 10) % (SELECT n FROM t) < 10
        |ORDER BY pct_entities""".stripMargin,

    "wow_growth" ->
      """WITH weekly AS (SELECT
        |    CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT week, revenue,
        |  round((revenue - LAG(revenue) OVER (ORDER BY week))
        |    / LAG(revenue) OVER (ORDER BY week), 6) AS wow_pct
        |FROM weekly ORDER BY week""".stripMargin,

    "cusum_flags" ->
      """WITH s AS (SELECT user_id, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sm,
        |    SUM(CAST(value AS DECIMAL(18,2))
        |      * CAST(value AS DECIMAL(18,2))) AS q
        |  FROM events GROUP BY 1),
        |p AS (SELECT user_id, event_id, value,
        |    SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM events)
        |SELECT p.user_id, p.event_id, p.value,
        |  CAST(CASE WHEN CAST(ps * 100 AS BIGINT) * n
        |        - k * CAST(sm * 100 AS BIGINT) >= 0
        |    THEN ((CAST(ps * 100 AS BIGINT) * n
        |        - k * CAST(sm * 100 AS BIGINT)) * 2000000 + 100 * n)
        |      // (2 * 100 * n)
        |    ELSE -((-(CAST(ps * 100 AS BIGINT) * n
        |        - k * CAST(sm * 100 AS BIGINT)) * 2000000 + 100 * n)
        |      // (2 * 100 * n))
        |  END AS DOUBLE) / 1000000.0 AS cusum,
        |  CASE WHEN n > 1 THEN
        |    abs(CAST(ps AS DOUBLE) - CAST(k AS DOUBLE)
        |      * (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)))
        |    > 3.0 * sqrt((CAST(q AS DOUBLE)
        |        - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
        |          / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0))
        |  ELSE false END AS drift
        |FROM p JOIN s USING (user_id)
        |ORDER BY user_id, event_id""".stripMargin
  )
}
