package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.rel.Aggregates
import graft.stats.{Correlation, Survival}
import graft.ts.Interpolate

/** Driver-contract entries completing the §2 inventory: interpolation,
  * correlation matrix, cumulative column ops, binning stats, value
  * counts, decomposition, stationarity transforms, Fourier features,
  * Kaplan–Meier, and the audit_data composite.
  */
object MoreEntries extends Entries {

  // shared moment-sum SQL (same trees as graft.stats.Descriptive):
  // scaled-long products, exact accumulation, one de-scaling division.
  private def sx(c: String) =
    s"(CAST(SUM(CAST(ROUND($c * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)"
  private def sxx(c: String) =
    s"(CAST(SUM(CAST(ROUND($c * 100, 0) AS BIGINT) * CAST(ROUND($c * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0)"
  private def sxy(a: String, b: String) =
    s"(CAST(SUM(CAST(ROUND($a * 100, 0) AS BIGINT) * CAST(ROUND($b * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0)"

  private def eventsGapped(s: SparkSession, dir: String): DataFrame =
    T.events(s, dir).withColumn("value_n",
      when(col("event_type").isin("error", "signup"), lit(null))
        .otherwise(col("value")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.5 linear interpolation of gaps (base_utils.py:1287).
    "interp_linear" -> ((s, dir) => {
      Interpolate.linear(eventsGapped(s, dir), "value_n",
          Seq("user_id"), Seq(col("ts"), col("event_id")), "value_i")
        .select("event_id", "value_i")
        .orderBy("event_id")
    }),

    // §2.4 correlation matrix (quality.py:1863) — exact moments.
    "corr_matrix" -> ((s, dir) => {
      Correlation.matrix(T.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_a", "col_b")
    }),

    // §2.4 cumulative_ops across a column list (stats/utils.py:236).
    "cumulative_cols" -> ((s, dir) => {
      val q = col("l_quantity"); val d = col("l_discount"); val t = col("l_tax")
      T.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          q.as("c1"), (q + d).as("c2"), (q + d + t).as("c3"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.4 binning_statistic (base_utils.py:4659) with exact-decimal
    // per-bin means.
    "binning_stat" -> ((s, dir) => {
      Aggregates.binningStatistic(T.events(s, dir), "value", "value",
          lo = 0.0, width = 100.0,
          stats = Seq(
            c => sum(c.cast("decimal(18,6)")).cast("double") / count(c),
            c => count(c).cast("double")),
          statNames = Seq("mean_y", "count_y"))
        .orderBy("bin")
    }),

    // §2.4 category_count (base_utils.py:4731).
    "category_count" -> ((s, dir) => {
      Aggregates.categoryCount(T.events(s, dir), "event_type")
        .orderBy("event_type")
    }),

    // §2.4 check_unique_values (quality.py:1568) — exact distincts.
    "unique_stats" -> ((s, dir) => {
      Aggregates.uniqueStats(T.orders(s, dir),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    }),

    // §2.11 decompose: centered-MA trend component (ts_utils.py:2263).
    "decompose_trend" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 3)
      T.events(s, dir)
        .withColumn("trend",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double") /
            count(col("value")).over(w))
        .select("event_id", "trend")
        .orderBy("event_id")
    }),

    // §2.11 decompose: seasonal phase means (rounded — double avgs).
    "decompose_seasonal" -> ((s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wMa = wOrd.rowsBetween(-3, 3)
      T.events(s, dir)
        .withColumn("_i", row_number().over(wOrd))
        .withColumn("_trend",
          sum(col("value").cast("decimal(18,6)")).over(wMa).cast("double") /
            count(col("value")).over(wMa))
        .withColumn("_phase", pmod(col("_i"), lit(7)))
        .groupBy(col("user_id"), col("_phase").as("phase"))
        .agg(round(avg(col("value") - col("_trend")), 6).as("seasonal"))
        .orderBy("user_id", "phase")
    }),

    // §2.11 transform_stationarity: seasonal differencing
    // (ts_utils.py:3262).
    "seasonal_diff" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      T.events(s, dir)
        .withColumn("sdiff", col("value") - lag(col("value"), 7).over(w))
        .select("event_id", "sdiff")
        .orderBy("event_id")
    }),

    // §2.11 Fourier terms of day-of-year (ts_engineering,
    // ts_utils.py:2482).
    "fourier_day" -> ((s, dir) => {
      val phase = dayofyear(col("ts")).cast("double") * (2.0 * math.Pi / 366.0)
      T.events(s, dir).select(col("event_id"),
          round(sin(phase), 6).as("f1_sin"), round(cos(phase), 6).as("f1_cos"),
          round(sin(phase * 2), 6).as("f2_sin"), round(cos(phase * 2), 6).as("f2_cos"))
        .orderBy("event_id")
    }),

    // §2.4 kaplan_meier_analysis (survival_reliability.py:24).
    "kaplan_meier" -> ((s, dir) => {
      Survival.kaplanMeier(T.lineitem(s, dir), "l_quantity",
          col("l_linestatus") === "F")
        .orderBy("t")
    }),

    // §3.2 audit_data composite (quality.py:98): one fused lazy chain of
    // fill -> clip -> date features -> scale.
    "audit_composite" -> ((s, dir) => {
      // NO cache: the fence pass reads 1 column, the min/max aggregate
      // 1, the output projection 8 — three column-pruned parquet scans
      // are cheaper than ONE full-width columnar encode of the table
      // (the r18 persist() spent 1.5 s — 40% of the query — building a
      // 16-column cache; measured r19: 4.0 → 2.6 s without it), and a
      // whole-table memory cache is the wrong plan at 100 TB anyway
      val li = T.lineitem(s, dir)
        .withColumn("qty_n",
          when(col("l_linenumber") === 5, lit(null)).otherwise(col("l_quantity")))
      // distributed exact fences (the built-in percentile aggregate
      // merges all values into one buffer — the 100 TB bottleneck)
      val f = graft.stats.Quantiles
        .exactPercentiles(li, "l_extendedprice", Seq(0.01, 0.99))
      val mm = li.agg(min(col("l_discount")), max(col("l_discount"))).head()
      val (lo, hi, dLo, dHi) = (f(0), f(1), mm.getDouble(0), mm.getDouble(1))
      li.na.fill(Map("qty_n" -> 25.0))
        .withColumn("price_clipped",
          least(greatest(col("l_extendedprice"), lit(lo)), lit(hi)))
        .withColumn("ship_year", year(col("l_shipdate")))
        .withColumn("ship_month", month(col("l_shipdate")))
        .withColumn("disc_scaled",
          (col("l_discount") - lit(dLo)) / lit(dHi - dLo))
        .select("l_orderkey", "l_linenumber", "qty_n", "price_clipped",
          "ship_year", "ship_month", "disc_scaled")
        .orderBy("l_orderkey", "l_linenumber")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "interp_linear" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_type IN ('error','signup') THEN NULL ELSE value END AS v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS p
        |  FROM events),
        |n AS (
        |  SELECT event_id, v, p,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wp AS pp,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER wn AS np
        |  FROM base
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * (p - pp) / (np - pp) END AS value_i
        |FROM n ORDER BY event_id""".stripMargin,

    "corr_matrix" -> {
      def corrRow(a: String, b: String) = {
        val n = "CAST(COUNT(*) AS DOUBLE)"
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  ROUND(($n * ${sxy(a, b)} - ${sx(a)} * ${sx(b)}) /
           |    (SQRT($n * ${sxx(a)} - ${sx(a)} * ${sx(a)}) * SQRT($n * ${sxx(b)} - ${sx(b)} * ${sx(b)})), 9) AS corr
           |FROM lineitem""".stripMargin
      }
      Seq(corrRow("l_quantity", "l_extendedprice"),
          corrRow("l_quantity", "l_discount"),
          corrRow("l_extendedprice", "l_discount"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    },

    "cumulative_cols" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity AS c1,
        |  l_quantity + l_discount AS c2,
        |  l_quantity + l_discount + l_tax AS c3
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "binning_stat" ->
      """SELECT CAST(FLOOR(value / 100.0) AS BIGINT) AS bin,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS mean_y,
        |  CAST(COUNT(value) AS DOUBLE) AS count_y
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "category_count" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "unique_stats" ->
      """SELECT COUNT(DISTINCT o_custkey) AS o_custkey_distinct,
        |  COUNT(DISTINCT o_orderstatus) AS o_orderstatus_distinct,
        |  COUNT(DISTINCT o_orderpriority) AS o_orderpriority_distinct,
        |  COUNT(*) AS n_rows
        |FROM orders""".stripMargin,

    "decompose_trend" ->
      """SELECT event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / COUNT(value) OVER w AS trend
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    "decompose_seasonal" ->
      """WITH t AS (
        |  SELECT user_id, value,
        |    CAST(ROW_NUMBER() OVER wo AS BIGINT) % 7 AS phase,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wm AS DOUBLE)
        |      / COUNT(value) OVER wm AS trend
        |  FROM events
        |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
        |         wm AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |SELECT user_id, CAST(phase AS BIGINT) AS phase,
        |  ROUND(AVG(value - trend), 6) AS seasonal
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "seasonal_diff" ->
      """SELECT event_id, value - LAG(value, 7) OVER w AS sdiff
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "fourier_day" ->
      """SELECT event_id,
        |  ROUND(SIN(CAST(dayofyear(ts) AS DOUBLE) * (2 * PI() / 366.0)), 6) AS f1_sin,
        |  ROUND(COS(CAST(dayofyear(ts) AS DOUBLE) * (2 * PI() / 366.0)), 6) AS f1_cos,
        |  ROUND(SIN(CAST(dayofyear(ts) AS DOUBLE) * (2 * PI() / 366.0) * 2), 6) AS f2_sin,
        |  ROUND(COS(CAST(dayofyear(ts) AS DOUBLE) * (2 * PI() / 366.0) * 2), 6) AS f2_cos
        |FROM events ORDER BY event_id""".stripMargin,

    "kaplan_meier" ->
      """WITH pt AS (
        |  SELECT l_quantity AS t,
        |    SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS d,
        |    COUNT(*) AS c
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT t, d,
        |    SUM(c) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM pt),
        |s AS (
        |  SELECT t, d, n_risk,
        |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit0,
        |    SUM(CASE WHEN d < n_risk THEN LN(1.0 - CAST(d AS DOUBLE) / n_risk) END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS slog
        |  FROM r)
        |SELECT t, CAST(d AS BIGINT) AS n_events, CAST(n_risk AS BIGINT) AS n_risk,
        |  CASE WHEN hit0 = 1 THEN 0.0 ELSE ROUND(EXP(COALESCE(slog, 0.0)), 9) END AS surv
        |FROM s ORDER BY t""".stripMargin,

    "audit_composite" ->
      """WITH b AS (
        |  SELECT quantile_cont(l_extendedprice, 0.01) lo, quantile_cont(l_extendedprice, 0.99) hi,
        |    MIN(l_discount) dlo, MAX(l_discount) dhi
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber = 5 THEN 25.0 ELSE l_quantity END AS qty_n,
        |  LEAST(GREATEST(l_extendedprice, lo), hi) AS price_clipped,
        |  CAST(YEAR(l_shipdate) AS INT) AS ship_year,
        |  CAST(MONTH(l_shipdate) AS INT) AS ship_month,
        |  (l_discount - dlo) / (dhi - dlo) AS disc_scaled
        |FROM lineitem, b ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
