package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.encode.{BoxCox, Encoders => E}

/** Driver-contract entries for encoding/scaling operators (SURVEY §2.9
  * encoding + math families).
  */
object EncodeEntries extends Entries {

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // minmax scaling (mathext.py:4566).
    "minmax_scale" -> ((s, dir) => {
      E.minmaxScale(T.orders(s, dir), "o_totalprice", "scaled")
        .select("o_orderkey", "scaled")
        .orderBy("o_orderkey")
    }),

    // robust (median/IQR) scaling (mathext.py:4515 family).
    "robust_scale" -> ((s, dir) => {
      E.robustScale(T.customer(s, dir), "c_acctbal", "scaled")
        .select("c_custkey", "scaled")
        .orderBy("c_custkey")
    }),

    // one-hot over the known priority domain (ml/preprocessing.py:1233).
    "one_hot" -> ((s, dir) => {
      E.oneHot(T.orders(s, dir), "o_orderpriority", priorities, "pri")
        .select(Seq(col("o_orderkey")) ++
          priorities.map(p => col(s"pri_$p")): _*)
        .orderBy("o_orderkey")
    }),

    // frequency encoding (feature_engineering.py:5133).
    "freq_encode" -> ((s, dir) => {
      E.frequencyEncode(T.orders(s, dir), "o_orderpriority", "pri_freq")
        .select("o_orderkey", "o_orderpriority", "pri_freq")
        .orderBy("o_orderkey")
    }),

    // alphabetical label encoding (dataops/preprocessing.py:128).
    "label_encode" -> ((s, dir) => {
      E.labelEncode(T.orders(s, dir), "o_orderpriority", "pri_label")
        .select("o_orderkey", "pri_label")
        .orderBy("o_orderkey")
    }),

    // mean-threshold binarization (dataops/preprocessing.py:265); the
    // threshold is the exact decimal mean.
    "binarize" -> ((s, dir) => {
      val cust = T.customer(s, dir)
      val mean = cust.agg(
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(col("c_acctbal"))).head().getDouble(0)
      cust.select(col("c_custkey"),
          E.binarize(col("c_acctbal"), mean).as("above_mean"))
        .orderBy("c_custkey")
    }),

    // dict remap (base_utils.py:78) + threshold labels (ml/utils.py:902).
    "map_values" -> ((s, dir) => {
      T.orders(s, dir).select(col("o_orderkey"),
          E.mapValues(col("o_orderpriority"),
            priorities.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap)
            .as("urgency"),
          E.thresholdLabel(col("o_totalprice"),
            Seq(100000.0 -> "small", 300000.0 -> "medium"), "large")
            .as("size_band"))
        .orderBy("o_orderkey")
    }),

    // Box-Cox transform at fixed λ=0.5 (preprocessing.py:2545) — the
    // λ search itself is exercised in EncodeSpec (driver-side argmax).
    "boxcox_half" -> ((s, dir) => {
      T.orders(s, dir).select(col("o_orderkey"),
          ((sqrt(col("o_totalprice")) - 1.0) / 0.5).as("bc"))
        .orderBy("o_orderkey")
    }),

    // residuals vs group mean (mathext.py:3912): exact decimal group
    // means via a single partitioned window.
    "residuals" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
      T.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") -
            sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double") /
              count(lit(1)).over(w)).as("resid"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // skew-reducing transforms (quality.py:4372): log1p + sqrt.
    "handle_skew" -> ((s, dir) => {
      T.orders(s, dir).select(col("o_orderkey"),
          round(log1p(col("o_totalprice")), 6).as("log1p_price"),
          sqrt(col("o_totalprice")).as("sqrt_price"))
        .orderBy("o_orderkey")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "minmax_scale" ->
      """WITH b AS (SELECT MIN(o_totalprice) lo, MAX(o_totalprice) hi FROM orders)
        |SELECT o_orderkey, (o_totalprice - lo) / (hi - lo) AS scaled
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,

    "robust_scale" ->
      """WITH b AS (SELECT quantile_cont(c_acctbal, 0.5) med,
        |  quantile_cont(c_acctbal, 0.25) q1, quantile_cont(c_acctbal, 0.75) q3
        |  FROM customer)
        |SELECT c_custkey, (c_acctbal - med) / (q3 - q1) AS scaled
        |FROM customer, b ORDER BY c_custkey""".stripMargin,

    "one_hot" -> {
      val cols = priorities.map(p =>
        s"""CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END AS "pri_$p"""")
        .mkString(",\n  ")
      s"""SELECT o_orderkey, $cols FROM orders ORDER BY o_orderkey"""
    },

    "freq_encode" ->
      """SELECT o_orderkey, o_orderpriority,
        |  COUNT(*) OVER (PARTITION BY o_orderpriority) AS pri_freq
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "label_encode" ->
      """SELECT o_orderkey,
        |  CAST(DENSE_RANK() OVER (ORDER BY o_orderpriority) - 1 AS INT) AS pri_label
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "binarize" ->
      """WITH m AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |  / COUNT(c_acctbal) AS mean FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN c_acctbal > mean THEN 1 ELSE 0 END AS above_mean
        |FROM customer, m ORDER BY c_custkey""".stripMargin,

    "map_values" -> {
      val cases = priorities.zipWithIndex
        .map { case (p, i) => s"WHEN '$p' THEN ${i + 1}" }.mkString(" ")
      s"""SELECT o_orderkey,
         |  CASE o_orderpriority $cases END AS urgency,
         |  CASE WHEN o_totalprice <= 100000 THEN 'small'
         |       WHEN o_totalprice <= 300000 THEN 'medium'
         |       ELSE 'large' END AS size_band
         |FROM orders ORDER BY o_orderkey""".stripMargin
    },

    "boxcox_half" ->
      """SELECT o_orderkey,
        |  (SQRT(o_totalprice) - 1.0) / 0.5 AS bc
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "residuals" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity -
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_returnflag) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY l_returnflag) AS resid
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "handle_skew" ->
      """SELECT o_orderkey,
        |  ROUND(LN(1 + o_totalprice), 6) AS log1p_price,
        |  SQRT(o_totalprice) AS sqrt_price
        |FROM orders ORDER BY o_orderkey""".stripMargin
  )
}
