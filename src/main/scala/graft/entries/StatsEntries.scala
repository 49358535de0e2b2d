package graft.entries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.stats.{Descriptive => D, WeightedMedian}

/** Driver-contract entries for the statistics operators (SURVEY §2.4).
  *
  * Every float output is either a closed-form double expression over
  * EXACT decimal power sums (bit-identical in Spark and DuckDB — see
  * [[graft.stats.Descriptive]]) or explicitly rounded.
  */
object StatsEntries extends Entries {

  // SQL mirrors of Descriptive.powerSum — identical casts, identical
  // double expression trees, so both engines produce the same bits.
  // scaled-long moments, mirroring Descriptive.powerSum/crossSum: per-row
  // products in BIGINT (codegen'd both engines), exact HUGEINT/decimal(38)
  // accumulation, one deterministic de-scaling division.
  private def sx(c: String) =
    s"(CAST(SUM(CAST(ROUND($c * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)"
  private def sxx(c: String) =
    s"(CAST(SUM(CAST(ROUND($c * 100, 0) AS BIGINT) * CAST(ROUND($c * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0)"
  private def sx3(c: String) =
    s"CAST(SUM(CAST(CAST($c AS DECIMAL(12,2)) * CAST($c AS DECIMAL(12,2)) * CAST($c AS DECIMAL(12,2)) AS DECIMAL(30,6))) AS DOUBLE)"
  // DuckDB computes a DECIMAL(18)×DECIMAL(18) product in int64 and
  // overflows on x⁴ — force int128 with width-19 operands (the Spark
  // side keeps (18,4): both are exact, only representation differs).
  private def sx4(c: String) =
    s"CAST(SUM(CAST(CAST(CAST($c AS DECIMAL(9,2)) * CAST($c AS DECIMAL(9,2)) AS DECIMAL(19,4)) * CAST(CAST($c AS DECIMAL(9,2)) * CAST($c AS DECIMAL(9,2)) AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE)"
  private def sxy(a: String, b: String) =
    s"(CAST(SUM(CAST(ROUND($a * 100, 0) AS BIGINT) * CAST(ROUND($b * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0)"
  private def nD(c: String) = s"CAST(COUNT($c) AS DOUBLE)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // mean/var/std from exact moments, per group (descriptive.py:1580+).
    "desc_moments" -> ((s, dir) => {
      T.lineitem(s, dir).groupBy("l_returnflag")
        .agg(D.momentAggs(col("l_quantity")).head, D.momentAggs(col("l_quantity")).tail: _*)
        .select(Seq(col("l_returnflag"), col("n"), col("mean"),
          col("var_samp"), col("std_samp")): _*)
        .orderBy("l_returnflag")
    }),

    // skew/kurtosis from exact moments (descriptive.py:251, :390).
    "shape_moments" -> ((s, dir) => {
      T.customer(s, dir).groupBy("c_mktsegment")
        .agg(D.shapeAggs(col("c_acctbal")).head, D.shapeAggs(col("c_acctbal")).tail: _*)
        .orderBy("c_mktsegment")
    }),

    // exact percentiles (quartiles, descriptive.py:1084) — distributed
    // order statistics, bit-identical to DuckDB's quantile_cont.
    "quantiles_exact" -> ((s, dir) => {
      graft.stats.Quantiles.exactPercentilesByGroup(T.lineitem(s, dir),
          Seq("l_returnflag"), "l_quantity", Seq(0.25, 0.5, 0.75))
        .groupBy("l_returnflag").pivot("p", Seq(0.25, 0.5, 0.75))
        .agg(first("value"))
        .withColumnRenamed("0.25", "q25")
        .withColumnRenamed("0.5", "q50")
        .withColumnRenamed("0.75", "q75")
        .orderBy("l_returnflag")
    }),

    // IQR + range (descriptive.py:1781, :2069).
    "iqr_range" -> ((s, dir) => {
      T.customer(s, dir).groupBy("c_mktsegment")
        .agg((percentile(col("c_acctbal"), lit(0.75)) -
              percentile(col("c_acctbal"), lit(0.25))).as("iqr"),
             (max(col("c_acctbal")) - min(col("c_acctbal"))).as("value_range"))
        .orderBy("c_mktsegment")
    }),

    // deterministic mode (descriptive.py:664): ties -> smallest value.
    "mode_det" -> ((s, dir) => {
      D.modeDet(T.orders(s, dir), Seq("o_orderstatus"), "o_orderpriority")
        .orderBy("o_orderstatus")
    }),

    // harmonic mean (descriptive.py:1916), rounded (double-sum based).
    "hmean" -> ((s, dir) => {
      T.lineitem(s, dir).groupBy("l_returnflag")
        .agg(D.hmean(col("l_quantity")).as("hmean"))
        .orderBy("l_returnflag")
    }),

    // Gini coefficient (descriptive.py:51) via sorted cumulative form.
    "gini_coeff" -> ((s, dir) => {
      D.gini(T.orders(s, dir), "o_totalprice", groupCols = Seq("o_orderpriority"))
        .orderBy("o_orderpriority")
    }),

    // weighted median (descriptive.py:517) — custom Aggregator.
    "weighted_median" -> ((s, dir) => {
      val wm = udaf(new WeightedMedian(),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
      T.lineitem(s, dir).groupBy("l_returnflag")
        .agg(wm(col("l_quantity"), col("l_extendedprice")).as("wmedian"))
        .orderBy("l_returnflag")
    }),

    // Pearson corr + sample cov from exact cross-moments
    // (descriptive.py:177, relationships.py:32).
    "corr_pair" -> ((s, dir) => {
      T.lineitem(s, dir).groupBy("l_returnflag")
        .agg(D.corrExact(col("l_quantity"), col("l_extendedprice")).as("corr_qp"),
             D.covExact(col("l_quantity"), col("l_discount")).as("cov_qd"))
        .orderBy("l_returnflag")
    }),

    // per-row z-scores from exact global moments (descriptive.py:2356).
    "zscore" -> ((s, dir) => {
      D.zscores(T.orders(s, dir), "o_totalprice", "z")
        .select("o_orderkey", "z")
        .orderBy("o_orderkey")
    }),

    // bin counting / empirical target rate per category
    // (gofast/utils/ml/preprocessing.py:1601) + Laplace smoothing
    // (gofast/utils/ml/utils.py:822): exact count arithmetic.
    "bin_counting" -> ((s, dir) => {
      T.orders(s, dir).groupBy("o_orderpriority")
        .agg((sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("rate_f"),
             ((sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)) + lit(1L)).cast("double") /
              (count(lit(1)) + lit(3L))).as("rate_f_laplace"))
        .orderBy("o_orderpriority")
    })
  )

  private def momentsSql(c: String) = {
    val (n, s1, s2) = (nD(c), sx(c), sxx(c))
    s"""COUNT($c) AS n,
       |  $s1 / $n AS mean,
       |  ($s2 - $s1 * $s1 / $n) / ($n - 1) AS var_samp,
       |  SQRT(($s2 - $s1 * $s1 / $n) / ($n - 1)) AS std_samp""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "desc_moments" ->
      s"""SELECT l_returnflag, ${momentsSql("l_quantity")}
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "shape_moments" -> {
      val c = "c_acctbal"
      val (n, s1, s2, s3, s4) = (nD(c), sx(c), sxx(c), sx3(c), sx4(c))
      val mu = s"($s1 / $n)"
      val m2 = s"($s2 / $n - $mu * $mu)"
      val m3 = s"($s3 / $n - 3.0 * $mu * ($s2 / $n) + 2.0 * $mu * $mu * $mu)"
      val m4 = s"($s4 / $n - 4.0 * $mu * ($s3 / $n) + 6.0 * $mu * $mu * ($s2 / $n) - 3.0 * $mu * $mu * $mu * $mu)"
      s"""SELECT c_mktsegment,
         |  ROUND($m3 / ($m2 * SQRT($m2)), 9) AS skew,
         |  ROUND($m4 / ($m2 * $m2) - 3.0, 9) AS kurt
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    },

    "quantiles_exact" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.50) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "iqr_range" ->
      """SELECT c_mktsegment,
        |  quantile_cont(c_acctbal, 0.75) - quantile_cont(c_acctbal, 0.25) AS iqr,
        |  MAX(c_acctbal) - MIN(c_acctbal) AS value_range
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "mode_det" ->
      """SELECT o_orderstatus, o_orderpriority AS mode FROM (
        |  SELECT o_orderstatus, o_orderpriority,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "hmean" ->
      """SELECT l_returnflag,
        |  ROUND(CAST(COUNT(l_quantity) AS DOUBLE) / SUM(1.0 / l_quantity), 6) AS hmean
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "gini_coeff" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS i
        |  FROM orders)
        |SELECT o_orderpriority,
        |  ROUND(2.0 * CAST(SUM(CAST(CAST(i AS DECIMAL(10,0)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(32,2))) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE))
        |  - (CAST(COUNT(*) AS DOUBLE) + 1.0) / CAST(COUNT(*) AS DOUBLE), 9) AS gini
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "weighted_median" ->
      """WITH w AS (
        |  SELECT l_returnflag, l_quantity AS v, CAST(l_extendedprice AS DECIMAL(18,2)) AS w FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, v,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM w)
        |SELECT l_returnflag, MIN(v) AS wmedian FROM c
        |WHERE 2 * cw >= tw GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "corr_pair" -> {
      val (n, q, p, d) = (s"CAST(COUNT(*) AS DOUBLE)", "l_quantity", "l_extendedprice", "l_discount")
      s"""SELECT l_returnflag,
         |  ROUND(($n * ${sxy(q, p)} - ${sx(q)} * ${sx(p)}) /
         |    (SQRT($n * ${sxx(q)} - ${sx(q)} * ${sx(q)}) * SQRT($n * ${sxx(p)} - ${sx(p)} * ${sx(p)})), 9) AS corr_qp,
         |  ROUND((${sxy(q, d)} - ${sx(q)} * ${sx(d)} / $n) / ($n - 1), 9) AS cov_qd
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    "zscore" -> {
      val c = "o_totalprice"
      s"""WITH m AS (SELECT ROUND(${sx(c)} / ${nD(c)}, 9) AS mean,
         |  ROUND(SQRT((${sxx(c)} - ${sx(c)} * ${sx(c)} / ${nD(c)}) / (${nD(c)} - 1)), 9) AS std
         |  FROM orders)
         |SELECT o_orderkey, ($c - mean) / std AS z
         |FROM orders, m ORDER BY o_orderkey""".stripMargin
    },

    "bin_counting" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rate_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) + 1 AS DOUBLE) / (COUNT(*) + 3) AS rate_f_laplace
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
