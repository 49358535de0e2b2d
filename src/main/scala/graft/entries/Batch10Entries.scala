package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.rel.Sampling
import graft.ts.{PerGroup, Windows}

/** Entries for smoothing, rank correlation, extrema, coverage,
  * replication, and per-series recursion (SURVEY §2.5/§2.6/§2.9 math).
  */
object Batch10Entries extends Entries {

  // Savitzky–Golay quadratic, window 5: (-3, 12, 17, 12, -3)/35.
  private val sg5 = Seq(-3.0, 12.0, 17.0, 12.0, -3.0).map(_ / 35.0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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
      // inner pass: cut = false — its input is the bare 3-column scan,
      // re-running it beats one block copy of every row (r19 measured)
      val base = Windows.rank2Rows(
        Windows.rank2Rows(li, Seq("l_returnflag"), "l_quantity", "r2q",
          cut = false),
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

    // §2.9 compute_coverage (mathext.py:925): share of values inside
    // the exact [q05, q95] band.
    "coverage" -> ((s, dir) => {
      val ev = T.events(s, dir)
      val f = graft.stats.Quantiles
        .exactPercentiles(ev, "value", Seq(0.05, 0.95))
      val (lo, hi) = (f(0), f(1))
      ev.groupBy("event_type")
        .agg((sum(when(col("value").between(lo, hi), 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("coverage"))
        .orderBy("event_type")
    }),

    // §2.6 replace_data bootstrap replication (data_utils.py:4642).
    "replicate_rows" -> ((s, dir) => {
      Sampling.replicateRows(T.region(s, dir), 3)
        .groupBy("r_regionkey", "r_name").agg(count(lit(1)).as("n"))
        .orderBy("r_regionkey")
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
    })
  )

  val oracleSql: Map[String, String] = Map(
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

    "coverage" ->
      """WITH b AS (SELECT quantile_cont(value, 0.05) lo, quantile_cont(value, 0.95) hi FROM events)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN value BETWEEN lo AND hi THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS coverage
        |FROM events, b GROUP BY event_type ORDER BY event_type""".stripMargin,

    "replicate_rows" ->
      """SELECT r_regionkey, r_name, COUNT(*) AS n
        |FROM region, generate_series(1, 3)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  )
}
