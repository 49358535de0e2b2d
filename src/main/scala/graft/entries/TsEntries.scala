package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.ts.{Temporal, Windows}

/** Driver-contract entries for time-series / window operators
  * (SURVEY §2.5, §2.11). All windows partition by user_id — the
  * at-scale contract (no global sorts).
  */
object TsEntries extends Entries {

  private val evOrder = Seq(col("ts"), col("event_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.5 create_lag_features (ts_utils.py:4088).
    "lag_features" -> ((s, dir) => {
      Windows.lagFeatures(T.events(s, dir), "value", Seq(1, 2),
          Seq("user_id"), evOrder)
        .select("event_id", "value_lag1", "value_lag2")
        .orderBy("event_id")
    }),

    // §2.5 moving_average (spatial_utils.py:4065) — exact decimal MA.
    "moving_avg" -> ((s, dir) => {
      Windows.movingAverage(T.events(s, dir), "value", 7,
          Seq("user_id"), evOrder, "ma7")
        .select("event_id", "ma7")
        .orderBy("event_id")
    }),

    // §2.5 CumulativeSumTransformer (transformers/ts.py:265).
    "cumsum" -> ((s, dir) => {
      Windows.cumulativeSum(T.events(s, dir), "value",
          Seq("user_id"), evOrder, "csum")
        .select("event_id", "csum")
        .orderBy("event_id")
    }),

    // §2.5 DifferencingTransformer (transformers/ts.py:543).
    "diff1" -> ((s, dir) => {
      Windows.difference(T.events(s, dir), "value", 1,
          Seq("user_id"), evOrder, "d1")
        .select("event_id", "d1")
        .orderBy("event_id")
    }),

    // §2.5 rank_data (mathext.py:2967).
    "rank_window" -> ((s, dir) => {
      Windows.rankData(T.orders(s, dir), Seq("o_orderpriority"),
          Seq(col("o_totalprice").asc))
        .select("o_orderkey", "rank", "dense_rank", "percent_rank")
        .orderBy("o_orderkey")
    }),

    // §2.5 rank(method='average') — pandas average rank.
    "avg_rank" -> ((s, dir) => {
      Windows.averageRank(T.lineitem(s, dir), Seq("l_returnflag"), "l_quantity")
        .select("l_orderkey", "l_linenumber", "avg_rank")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.11 resample to daily grain (ts_utils.py:2482).
    "resample_daily" -> ((s, dir) => {
      Temporal.resample(T.events(s, dir), "ts", "day",
          Seq(count(lit(1)).as("n_events"),
              sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value")),
          keyName = "period")
        .withColumn("period", col("period").cast("date"))
        .orderBy("period")
    }),

    // §2.9 convert_date_features (quality.py:398).
    "date_features" -> ((s, dir) => {
      Temporal.dateFeatures(T.events(s, dir), "ts")
        .select("event_id", "year", "month", "day", "day_of_week",
          "iso_dow", "quarter", "hour")
        .orderBy("event_id")
    }),

    // §2.9 DateTimeCyclicalEncoder (transformers/ts.py:887).
    "cyclical_month" -> ((s, dir) => {
      Temporal.cyclicalEncode(
          T.events(s, dir).withColumn("m", month(col("ts"))),
          col("m"), 12, "month")
        .select("event_id", "month_sin", "month_cos")
        .orderBy("event_id")
    }),

    // §2.11 trend_analysis linear OLS per series (ts_utils.py:720).
    "trend_ols" -> ((s, dir) => {
      Temporal.trendOls(T.events(s, dir), "value", Seq("user_id"), evOrder)
        .orderBy("user_id")
    }),

    // §2.11 ACF (ts_utils.py:2913) at lags 1, 2.
    "acf" -> ((s, dir) => {
      Temporal.acf(T.events(s, dir), "value", Seq(1, 2), Seq("user_id"), evOrder)
        .orderBy("user_id")
    }),

    // §2.11 PACF via Durbin–Levinson unrolled in closed form over the
    // exact-moment ACF — fully distributed column expressions
    // (Temporal.pacf is the any-maxLag driver-side variant).
    "pacf" -> ((s, dir) => {
      graft.ts.Stationarity.pacf3(T.events(s, dir), "user_id", evOrder, "value")
        .orderBy("user_id", "lag")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "pacf" -> (graft.ts.Stationarity.pacf3Sql("events", "user_id",
      "ts, event_id", "value") + "\nORDER BY user_id, lag"),

    "lag_features" ->
      """SELECT event_id,
        |  LAG(value, 1) OVER w AS value_lag1,
        |  LAG(value, 2) OVER w AS value_lag2
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "moving_avg" ->
      """SELECT event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / COUNT(value) OVER w AS ma7
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "cumsum" ->
      """SELECT event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(24,6))) OVER w AS DOUBLE) AS csum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "diff1" ->
      """SELECT event_id, value - LAG(value, 1) OVER w AS d1
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "rank_window" ->
      """SELECT o_orderkey,
        |  CAST(RANK() OVER w AS INT) AS rank,
        |  CAST(DENSE_RANK() OVER w AS INT) AS dense_rank,
        |  PERCENT_RANK() OVER w AS percent_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |ORDER BY o_orderkey""".stripMargin,

    "avg_rank" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS DOUBLE)
        |    + (CAST(COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) AS DOUBLE) - 1.0) / 2.0
        |    AS avg_rank
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "resample_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS period,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "date_features" ->
      """SELECT event_id,
        |  CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
        |  CAST(dayofmonth(ts) AS INT) AS day,
        |  CAST(dayofweek(ts) + 1 AS INT) AS day_of_week,
        |  CAST(isodow(ts) AS INT) AS iso_dow,
        |  CAST(quarter(ts) AS INT) AS quarter, CAST(hour(ts) AS INT) AS hour
        |FROM events ORDER BY event_id""".stripMargin,

    "cyclical_month" ->
      """SELECT event_id,
        |  ROUND(SIN(CAST(month(ts) AS DOUBLE) * (2 * PI() / 12)), 6) AS month_sin,
        |  ROUND(COS(CAST(month(ts) AS DOUBLE) * (2 * PI() / 12)), 6) AS month_cos
        |FROM events ORDER BY event_id""".stripMargin,

    "trend_ols" ->
      """WITH idx AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
        |  FROM events),
        |m AS (
        |  SELECT user_id,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(i) AS DOUBLE) AS si,
        |    CAST(SUM(i * i) AS DOUBLE) AS sii,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(i AS DECIMAL(10,0)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(32,6))) AS DOUBLE) AS siy
        |  FROM idx GROUP BY user_id)
        |SELECT user_id,
        |  (n * siy - si * sy) / (n * sii - si * si) AS slope,
        |  (sy - (n * siy - si * sy) / (n * sii - si * si) * si) / n AS intercept,
        |  CAST(n AS BIGINT) AS n
        |FROM m ORDER BY user_id""".stripMargin,

    "acf" -> {
      def corrK(k: Int) =
        s"""ROUND((n$k * sxy$k - sx$k * sy$k) /
           |    (SQRT(n$k * sxx$k - sx$k * sx$k) * SQRT(n$k * syy$k - sy$k * sy$k)), 9)""".stripMargin
      def sums(k: Int) =
        s"""CAST(SUM(CASE WHEN lag$k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n$k,
           |    CAST(SUM(CASE WHEN lag$k IS NOT NULL THEN CAST(value AS DECIMAL(12,3)) END) AS DOUBLE) AS sx$k,
           |    CAST(SUM(CASE WHEN lag$k IS NOT NULL THEN CAST(lag$k AS DECIMAL(12,3)) END) AS DOUBLE) AS sy$k,
           |    CAST(SUM(CASE WHEN lag$k IS NOT NULL THEN CAST(CAST(value AS DECIMAL(12,3)) * CAST(lag$k AS DECIMAL(12,3)) AS DECIMAL(28,6)) END) AS DOUBLE) AS sxy$k,
           |    CAST(SUM(CASE WHEN lag$k IS NOT NULL THEN CAST(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3)) AS DECIMAL(28,6)) END) AS DOUBLE) AS sxx$k,
           |    CAST(SUM(CASE WHEN lag$k IS NOT NULL THEN CAST(CAST(lag$k AS DECIMAL(12,3)) * CAST(lag$k AS DECIMAL(12,3)) AS DECIMAL(28,6)) END) AS DOUBLE) AS syy$k""".stripMargin
      s"""WITH l AS (
         |  SELECT user_id, value,
         |    LAG(value, 1) OVER w AS lag1, LAG(value, 2) OVER w AS lag2
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |m AS (
         |  SELECT user_id,
         |    ${sums(1)},
         |    ${sums(2)}
         |  FROM l GROUP BY user_id)
         |SELECT user_id, ${corrK(1)} AS acf1, ${corrK(2)} AS acf2
         |FROM m ORDER BY user_id""".stripMargin
    }
  )
}
