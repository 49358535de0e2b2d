package graft.entries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import graft.core.{Tables => T}
import graft.ts.{Temporal, Windows, Interpolate, PerGroup}

/** Registry queries for time-series / window operators (SURVEY §2.5,
  * §2.11) and the batch event analytics (funnel, cohorts, transitions)
  * whose oracles the streaming deploys share. All windows partition by
  * user_id — the at-scale contract (no global sorts).
  */
object TsEntries extends Entries {

  private val evOrder = Seq(col("ts"), col("event_id"))

  private def eventsGapped(s: SparkSession, dir: String): DataFrame =
    T.events(s, dir).withColumn("value_n",
      when(col("event_type").isin("error", "signup"), lit(null))
        .otherwise(col("value")))

  // Savitzky–Golay quadratic, window 5: (-3, 12, 17, 12, -3)/35.
  private val sg5 = Seq(-3.0, 12.0, 17.0, 12.0, -3.0).map(_ / 35.0)

  /** Exact decimal cross-moment Pearson corr(x, y) with null-pair
    * masking, rounded 9 — the Temporal.acf kernel generalized to two
    * distinct series (ts_corr_analysis cross-correlation,
    * gofast/utils/ts_utils.py:2913). */
  private def xcorr(x: Column, y: Column): Column = {
    val xd = x.cast("decimal(12,3)")
    val yd = y.cast("decimal(12,3)")
    val m = x.isNotNull && y.isNotNull
    val n = sum(when(m, 1L).otherwise(0L)).cast("double")
    val sx = sum(when(m, xd)).cast("double")
    val sy = sum(when(m, yd)).cast("double")
    val sxy = sum(when(m, (xd * yd).cast("decimal(28,6)"))).cast("double")
    val sxx = sum(when(m, (xd * xd).cast("decimal(28,6)"))).cast("double")
    val syy = sum(when(m, (yd * yd).cast("decimal(28,6)"))).cast("double")
    round((n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
  }

  private[entries] val funnelSql =
    """WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id AS u, MIN(e.ts) AS t
      |  FROM events e JOIN s1 ON e.user_id = s1.u
      |  WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
      |s3 AS (SELECT e.user_id AS u, MIN(e.ts) AS t
      |  FROM events e JOIN s2 ON e.user_id = s2.u
      |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
      |SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
      |UNION ALL
      |SELECT 2, 'click', COUNT(*) FROM s2
      |UNION ALL
      |SELECT 3, 'purchase', COUNT(*) FROM s3
      |ORDER BY step""".stripMargin

  private[entries] val cohortRetentionSql =
    """WITH c AS (SELECT user_id AS u,
      |    MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort
      |  FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id AS u,
      |    CAST(date_trunc('week', ts) AS DATE) AS p
      |  FROM events)
      |SELECT c.cohort,
      |  CAST(date_diff('day', c.cohort, a.p) / 7 AS BIGINT)
      |    AS period_offset,
      |  COUNT(*) AS n_users
      |FROM a JOIN c ON a.u = c.u
      |GROUP BY 1, 2 ORDER BY cohort, period_offset""".stripMargin

  private[entries] val conversionTimeSql =
    """WITH f AS (SELECT user_id AS u, MIN(ts) AS t0 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id AS u,
      |    MIN(CAST(FLOOR(epoch(e.ts)) AS BIGINT))
      |      - MIN(CAST(FLOOR(epoch(f.t0)) AS BIGINT)) AS dt
      |  FROM events e JOIN f ON e.user_id = f.u
      |  WHERE e.event_type = 'purchase' AND e.ts >= f.t0
      |  GROUP BY 1)
      |SELECT COUNT(*) AS n_converted,
      |  MIN(dt) AS min_s,
      |  round(quantile_cont(dt, 0.25), 6) AS p25_s,
      |  round(quantile_cont(dt, 0.5), 6) AS median_s,
      |  round(quantile_cont(dt, 0.75), 6) AS p75_s,
      |  MAX(dt) AS max_s,
      |  round(CAST(SUM(dt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS mean_s
      |FROM c""".stripMargin

  private[entries] val eventTransitionsSql =
    """WITH p AS (SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

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
    }),

    // §2.5 linear interpolation of gaps (base_utils.py:1287).
    "interp_linear" -> ((s, dir) => {
      Interpolate.linear(eventsGapped(s, dir), "value_n",
          Seq("user_id"), Seq(col("ts"), col("event_id")), "value_i")
        .select("event_id", "value_i")
        .orderBy("event_id")
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

    // §2.5 savgol_filter (spatial_utils.py:3937) as window convolution.
    "sg_smooth" -> ((s, dir) => {
      Windows.convolve(T.events(s, dir), "value", sg5,
          Seq("user_id"), Seq(col("ts"), col("event_id")), "sg")
        .select(col("event_id"), col("sg"))
        .orderBy("event_id")
    }),

    // §2.5 rolling std (ts_engineering, ts_utils.py:2482).
    "rolling_std" -> ((s, dir) => {
      Windows.rollingStd(T.events(s, dir), "value", 7,
          Seq("user_id"), Seq(col("ts"), col("event_id")), "rstd")
        .select("event_id", "rstd")
        .orderBy("event_id")
    }),

    // §2.5 optimized_spearmanr (mathext.py:3063): Pearson on average
    // ranks, per group. Ranks come from the distributed two-phase rank
    // (parallel across value buckets, not one task per group) and are
    // carried as 2×rank integers: moment sums stay exact in
    // long/decimal(38,0), and Pearson is bit-invariant under the
    // exact power-of-two scaling.
    "spearman" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
        .select("l_returnflag", "l_quantity", "l_extendedprice")
      // per-row two-phase ranks: no distinct-value join-back — the
      // price domain is near-unique, so a rank map would be as large
      // as the data and the join-back the dominant shuffle
      // the inner pass reads the bare 3-column scan (re-reading it beats
      // a block copy of every row, r19); its ranked output is cut, as
      // the outer pass reads it three times, each redoing the inner
      // window (measured at ×4: 1.30 → 1.77 s without the cut)
      val base = Windows.rank2Rows(
        graft.core.Cut.of(
          Windows.rank2Rows(li, Seq("l_returnflag"), "l_quantity", "r2q"),
          graft.core.Cut.Reread),
        Seq("l_returnflag"), "l_extendedprice", "r2p")
      val n = count(lit(1)).cast("double")
      def s1(c: String) = sum(c).cast("double")
      def s2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        sum((a * b).cast("decimal(38,0)")).cast("double")
      base.groupBy("l_returnflag").agg(
          round((n * s2(col("r2q"), col("r2p")) - s1("r2q") * s1("r2p")) /
            (sqrt(n * s2(col("r2q"), col("r2q")) - s1("r2q") * s1("r2q")) *
             sqrt(n * s2(col("r2p"), col("r2p")) - s1("r2p") * s1("r2p"))), 9)
            .as("spearman"))
        .orderBy("l_returnflag")
    }),

    // §2.9 count_local_minima (mathext.py:4820) per series.
    "local_minima" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      T.events(s, dir)
        .withColumn("_isMin",
          when(col("value") < lag(col("value"), 1).over(w) &&
               col("value") < lead(col("value"), 1).over(w), 1L).otherwise(0L))
        .groupBy("user_id").agg(sum("_isMin").as("n_minima"))
        .orderBy("user_id")
    }),

    // Full per-series recursion (adjust=True ewm), surfaced as the final
    // value per series so DuckDB can replay the identical fold with
    // list_reduce (same IEEE expression tree -> exact hash match).
    "ewm" -> ((s, dir) => {
      PerGroup.ewm(T.events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "ts_us", "value", alpha = 0.3)
        .groupBy("user_id")
        .agg(max_by(col("ewm"), col("ts_us")).as("ewm_last"))
        .orderBy("user_id")
    }),

    // §2.11 ADF, distributed closed form: one lag window + one groupBy
    // of exact-decimal sufficient statistics, Cramer-rule solve in the
    // projection — no per-series materialization (PerGroup.adf is the
    // bounded-series API variant; this is the 100 TB plan).
    "adf" -> ((s, dir) => {
      graft.ts.Stationarity.adf(T.events(s, dir), "user_id",
          Seq(col("ts"), col("event_id")), "value")
        .orderBy("user_id")
    }),

    // batch analog of session windows (SURVEY §2.12): 30-minute gap.
    "sessionize" -> ((s, dir) => {
      Temporal.sessionize(T.events(s, dir), "ts", Seq("user_id"),
          gapSeconds = 1800, orderTiebreak = Seq(col("event_id")))
        .select("event_id", "user_id", "session_id")
        .orderBy("event_id")
    }),

    // §2.11 trend_ops(remove) (ts_utils.py:1026): per-row detrend via
    // window sufficient statistics, one shuffle.
    "detrend" -> ((s, dir) => {
      Temporal.detrend(T.events(s, dir), "value", Seq("user_id"),
          Seq(col("ts"), col("event_id")), "detrended")
        .select("event_id", "detrended")
        .orderBy("event_id")
    }),

    // §2.11 ts_corr_analysis (ts_utils.py:2913): cross-correlation of
    // `value` against a second per-event signal (props length) at lags
    // 0..2, per series. Same one-shuffle sufficient-statistics plan as
    // ACF: lags via the series window, then one groupBy.
    "ccf" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val xlen = length(col("props")).cast("long")
      val d = T.events(s, dir)
        .withColumn("_x0", xlen)
        .withColumn("_x1", lag(xlen, 1).over(w))
        .withColumn("_x2", lag(xlen, 2).over(w))
      d.groupBy("user_id").agg(
          xcorr(col("value"), col("_x0")).as("ccf0"),
          xcorr(col("value"), col("_x1")).as("ccf1"),
          xcorr(col("value"), col("_x2")).as("ccf2"))
        .orderBy("user_id")
    }),

    // §2.5 ranking family: NTILE(4) quartile buckets per priority with
    // per-bucket exact-decimal revenue. Deterministic tiebreak on
    // o_orderkey. (Per-group ordered window: parallelism = #groups —
    // fine for few large groups only when the group fits a task; the
    // distributed alternative for the same statistic is rank2Rows /
    // exactPercentiles.)
    "ntile_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      T.orders(s, dir)
        .withColumn("tile", ntile(4).over(w))
        .groupBy("o_orderpriority", "tile")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderpriority", "tile")
    }),

    // §2.11 KPSS, distributed closed form: n-scaled demeaned series +
    // partial-sum cumsum window + one groupBy of exact-decimal sums —
    // no per-series materialization (PerGroup.kpss is the
    // bounded-series API variant; this is the 100 TB plan).
    "kpss" -> ((s, dir) => {
      graft.ts.Stationarity.kpss(T.events(s, dir), "user_id",
          Seq(col("ts"), col("event_id")), "value")
        .orderBy("user_id")
    }),

    // §2.5 weighted_spearman_rank (mathext.py:3512): weighted Pearson
    // over per-row two-phase average ranks (2×rank longs), weights =
    // l_linenumber — every weighted moment stays exact in decimal.
    "wspearman" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_linenumber")
      // inner pass uncut, its output cut (see the spearman entry note)
      val base = graft.ts.Windows.rank2Rows(
        graft.core.Cut.of(
          graft.ts.Windows.rank2Rows(li, Seq("l_returnflag"), "l_quantity", "r2q"),
          graft.core.Cut.Reread),
        Seq("l_returnflag"), "l_extendedprice", "r2p")
      val w = col("l_linenumber").cast("long")
      def sd(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,0)")).cast("double")
      base.groupBy("l_returnflag").agg({
          val sw = sd(w); val sx = sd(w * col("r2q")); val sy = sd(w * col("r2p"))
          val sxy = sd(w * col("r2q") * col("r2p"))
          val sxx = sd(w * col("r2q") * col("r2q"))
          val syy = sd(w * col("r2p") * col("r2p"))
          round((sw * sxy - sx * sy) /
            (sqrt(sw * sxx - sx * sx) * sqrt(sw * syy - sy * sy)), 9)
            .as("wspearman")
        })
        .orderBy("l_returnflag")
    }),

    // §2.5 torres_verdin_filter (gofast/utils/spatial_utils.py:4685):
    // volatility-adaptive moving average per series; last filtered
    // value per user (the recursion replayed by the DuckDB oracle via
    // an indexed list_reduce with the identical IEEE tree).
    "torres_verdin" -> ((s, dir) => {
      graft.ts.PerGroup.torresVerdin(
          T.events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "ts_us", "event_id", "value",
          weightFactor = 0.1, beta = 1.0)
        .groupBy("user_id")
        .agg(max_by(col("ama"), col("ts_us")).as("ama_last"))
        .orderBy("user_id")
    }),

    // Max drawdown per user over the event-time-ordered value series
    // (the makeWalk price-path consumer): cumulative-max window +
    // one keyed aggregation.
    "max_drawdown" -> ((s, dir) => {
      graft.ts.Windows.maxDrawdown(T.events(s, dir), Seq("user_id"),
          "value", "ts", tieCols = Seq("event_id"))
        .orderBy("user_id")
    }),

    // Ordered conversion funnel view -> click -> purchase: per-user
    // min-timestamp chains through user-keyed joins; counts are
    // monotone by construction.
    "funnel" -> ((s, dir) => {
      graft.ts.EventAnalytics.funnel(T.events(s, dir), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy("step")
    }),

    // Weekly cohort retention off first-seen week.
    "cohort_retention" -> ((s, dir) => {
      graft.ts.EventAnalytics.cohortRetention(T.events(s, dir),
          "user_id", "ts", period = "week")
        .orderBy("cohort", "period_offset")
    }),

    // Time-to-convert distribution view -> purchase (exact quartiles
    // over integer seconds, bounded per-user domain).
    "conversion_time" -> ((s, dir) => {
      graft.ts.EventAnalytics.conversionTime(T.events(s, dir),
        "user_id", "event_type", "ts", "view", "purchase")
    }),

    // First-order event-type transition matrix per user (the Markov
    // view of behavior).
    "event_transitions" -> ((s, dir) => {
      graft.ts.EventAnalytics.eventTransitions(T.events(s, dir),
          "user_id", "event_type", "ts", tieCols = Seq("event_id"))
        .orderBy("from_type", "to_type")
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

  /** The lag-k Pearson correlation over the n/sx/sy/sxy/sxx/syy sums
    * the acf and ccf oracles both build, rounded to 9 places. */
  private def corrK(k: Int): String =
    s"""ROUND((n$k * sxy$k - sx$k * sy$k) /
       |    (SQRT(n$k * sxx$k - sx$k * sx$k) * SQRT(n$k * syy$k - sy$k * sy$k)), 9)""".stripMargin

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
    },

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

    "adf" -> (graft.ts.Stationarity.adfSql("events", "user_id",
      "ts, event_id", "value") + "\nORDER BY user_id"),

    // Replays the Spark-side recursion num_t = v + (1-0.3)*num,
    // den_t = 1 + (1-0.3)*den (adjust=True ewm) with the identical
    // IEEE expression tree; list_reduce seeds acc with the first
    // element, which equals the Spark fold's first step from 0.
    "ewm" ->
      """WITH o AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id,
        |    list(value ORDER BY ts, event_id) AS vs
        |  FROM events GROUP BY 1)
        |SELECT user_id,
        |  list_reduce(vs, (acc, x) -> x + (1 - 0.3) * acc) /
        |  list_reduce(list_transform(vs, x -> CAST(1 AS DOUBLE)),
        |    (acc, x) -> x + (1 - 0.3) * acc) AS ewm_last
        |FROM o ORDER BY user_id""".stripMargin,

    "sg_smooth" ->
      """SELECT event_id,
        |  (-3.0/35.0) * LAG(value, 2) OVER w + (12.0/35.0) * LAG(value, 1) OVER w
        |   + (17.0/35.0) * value
        |   + (12.0/35.0) * LEAD(value, 1) OVER w + (-3.0/35.0) * LEAD(value, 2) OVER w AS sg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "rolling_std" ->
      """SELECT event_id,
        |  CASE WHEN COUNT(value) OVER w > 1 THEN
        |    SQRT((CAST(SUM(CAST(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3)) AS DECIMAL(26,6))) OVER w AS DOUBLE)
        |      - CAST(SUM(CAST(value AS DECIMAL(12,3))) OVER w AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(12,3))) OVER w AS DOUBLE) / CAST(COUNT(value) OVER w AS DOUBLE))
        |      / (CAST(COUNT(value) OVER w AS DOUBLE) - 1))
        |  END AS rstd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // 2×rank integer carriers, mirroring the Spark plan: moment sums
    // are exact in bigint/decimal(38,0) and Pearson is bit-invariant
    // under the power-of-two scaling.
    "spearman" ->
      """WITH ranked AS (
        |  SELECT l_returnflag,
        |    CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS BIGINT) AS r2q,
        |    CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS BIGINT) AS r2p
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) n,
        |    CAST(SUM(r2q) AS DOUBLE) sq,
        |    CAST(SUM(r2p) AS DOUBLE) sp,
        |    CAST(SUM(CAST(r2q * r2p AS DECIMAL(38,0))) AS DOUBLE) sqp,
        |    CAST(SUM(CAST(r2q * r2q AS DECIMAL(38,0))) AS DOUBLE) sqq,
        |    CAST(SUM(CAST(r2p * r2p AS DECIMAL(38,0))) AS DOUBLE) spp
        |  FROM ranked GROUP BY 1)
        |SELECT l_returnflag,
        |  ROUND((n * sqp - sq * sp) /
        |    (SQRT(n * sqq - sq * sq) * SQRT(n * spp - sp * sp)), 9) AS spearman
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "local_minima" ->
      """WITH m AS (
        |  SELECT user_id,
        |    CASE WHEN value < LAG(value, 1) OVER w
        |      AND value < LEAD(value, 1) OVER w THEN 1 ELSE 0 END AS ismin
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(SUM(ismin) AS BIGINT) AS n_minima
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
        |      OR LAG(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id,
        |  CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g ORDER BY event_id""".stripMargin,

    "detrend" ->
      """WITH idx AS (
        |  SELECT event_id, user_id, value,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS i
        |  FROM events),
        |m AS (
        |  SELECT event_id, value, i,
        |    CAST(COUNT(*) OVER wa AS DOUBLE) AS n,
        |    CAST(SUM(i) OVER wa AS DOUBLE) AS si,
        |    CAST(SUM(i * i) OVER wa AS DOUBLE) AS sii,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wa AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(i AS DECIMAL(10,0)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(32,6))) OVER wa AS DOUBLE) AS siy
        |  FROM idx
        |  WINDOW wa AS (PARTITION BY user_id))
        |SELECT event_id,
        |  value - ((sy - (n * siy - si * sy) / (n * sii - si * si) * si) / n
        |    + (n * siy - si * sy) / (n * sii - si * si) * CAST(i AS DOUBLE)) AS detrended
        |FROM m ORDER BY event_id""".stripMargin,

    "kpss" -> (graft.ts.Stationarity.kpssSql("events", "user_id",
      "ts, event_id", "value") + "\nORDER BY user_id"),

    "ccf" -> {
      def sums(k: Int) =
        s"""CAST(SUM(CASE WHEN m$k THEN 1 ELSE 0 END) AS DOUBLE) AS n$k,
           |    CAST(SUM(CASE WHEN m$k THEN xd END) AS DOUBLE) AS sx$k,
           |    CAST(SUM(CASE WHEN m$k THEN yd$k END) AS DOUBLE) AS sy$k,
           |    CAST(SUM(CASE WHEN m$k THEN CAST(xd * yd$k AS DECIMAL(28,6)) END) AS DOUBLE) AS sxy$k,
           |    CAST(SUM(CASE WHEN m$k THEN CAST(xd * xd AS DECIMAL(28,6)) END) AS DOUBLE) AS sxx$k,
           |    CAST(SUM(CASE WHEN m$k THEN CAST(yd$k * yd$k AS DECIMAL(28,6)) END) AS DOUBLE) AS syy$k""".stripMargin
      s"""WITH l AS (
         |  SELECT user_id, CAST(value AS DECIMAL(12,3)) AS xd,
         |    CAST(length(props) AS DECIMAL(12,3)) AS yd0,
         |    CAST(LAG(length(props), 1) OVER w AS DECIMAL(12,3)) AS yd1,
         |    CAST(LAG(length(props), 2) OVER w AS DECIMAL(12,3)) AS yd2,
         |    value IS NOT NULL AND length(props) IS NOT NULL AS m0,
         |    value IS NOT NULL AND LAG(length(props), 1) OVER w IS NOT NULL AS m1,
         |    value IS NOT NULL AND LAG(length(props), 2) OVER w IS NOT NULL AS m2
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |m AS (
         |  SELECT user_id,
         |    ${sums(0)},
         |    ${sums(1)},
         |    ${sums(2)}
         |  FROM l GROUP BY user_id)
         |SELECT user_id, ${corrK(0)} AS ccf0, ${corrK(1)} AS ccf1, ${corrK(2)} AS ccf2
         |FROM m ORDER BY user_id""".stripMargin
    },

    "ntile_window" ->
      """WITH q AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS INT) AS tile
        |  FROM orders)
        |SELECT o_orderpriority, tile, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "wspearman" -> {
      def r2(v: String) =
        s"""CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY $v)
           |      + COUNT(*) OVER (PARTITION BY l_returnflag, $v) - 1 AS BIGINT)""".stripMargin
      def sd(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(38,0))) AS DOUBLE)"
      s"""WITH r AS (
         |  SELECT l_returnflag, CAST(l_linenumber AS BIGINT) AS w,
         |    ${r2("l_quantity")} AS r2q,
         |    ${r2("l_extendedprice")} AS r2p
         |  FROM lineitem),
         |m AS (
         |  SELECT l_returnflag,
         |    ${sd("w")} AS sw, ${sd("w * r2q")} AS sx, ${sd("w * r2p")} AS sy,
         |    ${sd("w * r2q * r2p")} AS sxy,
         |    ${sd("w * r2q * r2q")} AS sxx,
         |    ${sd("w * r2p * r2p")} AS syy
         |  FROM r GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  ROUND((sw * sxy - sx * sy) /
         |    (SQRT(sw * sxx - sx * sx) * SQRT(sw * syy - sy * sy)), 9) AS wspearman
         |FROM m ORDER BY l_returnflag""".stripMargin
    },

    // Replays the adaptive recursion ama = w*x + (1-w)*ama with
    // w = min(0.1*(1 + 1.0*|x - prev|), 1): list_reduce's 3-arg lambda
    // exposes the invocation index i with x = vs[i+1], so the previous
    // ordered value is vs[i]; acc seeds with vs[1] = the Spark fold's
    // first step. Identical IEEE expression tree -> bit-equal, unrounded.
    "torres_verdin" ->
      """WITH o AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id,
        |    list(value ORDER BY ts, event_id) AS vs
        |  FROM events GROUP BY 1)
        |SELECT user_id,
        |  list_reduce(vs, (acc, x, i) ->
        |    LEAST(0.1 * (1 + 1.0 * ABS(x - vs[i])), 1.0) * x
        |    + (1 - LEAST(0.1 * (1 + 1.0 * ABS(x - vs[i])), 1.0)) * acc) AS ama_last
        |FROM o ORDER BY user_id""".stripMargin,

    "max_drawdown" ->
      """WITH w AS (SELECT user_id, value,
        |    MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events),
        |d AS (SELECT user_id, peak,
        |    CASE WHEN peak > 0 THEN (peak - value) / peak END AS dd
        |  FROM w)
        |SELECT user_id, COUNT(*) AS n_obs,
        |  round(MAX(peak), 6) AS peak,
        |  round(MAX(dd), 6) AS max_drawdown
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    "funnel" -> funnelSql,
    "cohort_retention" -> cohortRetentionSql,
    "conversion_time" -> conversionTimeSql,
    "event_transitions" -> eventTransitionsSql,

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

  override val globalWindowAllowed: Set[String] = Set(
    // row-scale, still to rewrite to a partitioned or two-phase form:
    // the window runs over the weeks, a table that grows with the data
    "wow_growth")
}
