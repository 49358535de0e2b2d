package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Tables => T}
import graft.encode.{Encoders => E, Activations}

/** Registry queries for encoding / scaling operators and activation
  * transformers (SURVEY §2.9 encoding + math families).
  */
object EncodeEntries extends Entries {

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val sqrt2 = math.sqrt(2.0)

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
    }),

    // §2.9 smart_label_classifier (gofast/utils/ml/utils.py:902):
    // threshold ladder value→label, then label distribution.
    "smart_labels" -> ((s, dir) => {
      val lbl = when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 3000, "low")
        .when(col("c_acctbal") < 7000, "mid")
        .otherwise("high")
      T.customer(s, dir).select(lbl.as("label"))
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label")
    }),

    // §2.13 activation transformers (transformers/activations.py:218-
    // 4692): the full family as one codegen'd projection over a
    // deterministic 1%-of-lineitem slice; x spans both signs.
    "activations" -> ((s, dir) => {
      val x = col("x")
      T.lineitem(s, dir).filter(col("l_orderkey") % 101 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          ((col("l_quantity").cast("double") - 13.0) / 5.0).as("x"))
        .select(col("l_orderkey"), col("l_linenumber"), x,
          round(Activations.relu(x), 9).as("relu"),
          round(Activations.leakyRelu(x), 9).as("leaky_relu"),
          round(Activations.elu(x), 9).as("elu"),
          round(Activations.selu(x), 9).as("selu"),
          round(Activations.sigmoid(x), 9).as("sigmoid"),
          round(Activations.hardSigmoid(x), 9).as("hard_sigmoid"),
          round(Activations.logSigmoid(x), 9).as("log_sigmoid"),
          round(Activations.tanhA(x), 9).as("tanh_x"),
          round(Activations.tanhshrink(x), 9).as("tanhshrink"),
          round(Activations.softplus(x), 9).as("softplus"),
          round(Activations.swish(x), 9).as("swish"),
          round(Activations.hardSwish(x), 9).as("hard_swish"),
          round(Activations.gelu(x), 9).as("gelu"),
          round(Activations.mish(x), 9).as("mish"),
          round(Activations.elish(x), 9).as("elish"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.13 SoftmaxTransformer (activations.py:1558): row-wise softmax
    // over three derived features, max-shift stabilized.
    "softmax_rows" -> ((s, dir) => {
      val base = T.lineitem(s, dir).filter(col("l_orderkey") % 101 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity").cast("double") / 10.0).as("a"),
          (col("l_discount").cast("double") * 10.0).as("b"),
          (col("l_tax").cast("double") * 10.0).as("c"))
      Activations.softmaxRows(base, Seq("a", "b", "c"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("a_softmax"), 9).as("a_softmax"),
          round(col("b_softmax"), 9).as("b_softmax"),
          round(col("c_softmax"), 9).as("c_softmax"))
        .orderBy("l_orderkey", "l_linenumber")
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
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "smart_labels" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'debt'
        |            WHEN c_acctbal < 3000 THEN 'low'
        |            WHEN c_acctbal < 7000 THEN 'mid'
        |            ELSE 'high' END AS label,
        |  COUNT(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    // Mirrors Activations expression-for-expression: identical IEEE
    // trees (stable softplus form, A&S 7.1.26 erf for GELU), rounded
    // at 9 dp across the libm boundary.
    "activations" ->
      s"""WITH base AS (
         |  SELECT l_orderkey, l_linenumber,
         |    (CAST(l_quantity AS DOUBLE) - 13.0) / 5.0 AS x
         |  FROM lineitem WHERE l_orderkey % 101 = 0),
         |sp AS (
         |  SELECT *,
         |    GREATEST(x, 0.0) + LN(1.0 + EXP(-ABS(x))) AS splus,
         |    1.0 / (1.0 + EXP(-x)) AS sig,
         |    GREATEST(0.0, LEAST(1.0, 0.2 * x + 0.5)) AS hsig,
         |    SIGN(x) * (1.0 - 2.0 / (EXP(2.0 * ABS(x)) + 1.0)) AS th,
         |    x / $sqrt2 AS z
         |  FROM base),
         |tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ABS(z)) AS t FROM sp),
         |ee AS (SELECT *,
         |  1.0 - t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))) * EXP(-ABS(z) * ABS(z)) AS ef
         |  FROM tt)
         |SELECT l_orderkey, l_linenumber, x,
         |  ROUND(GREATEST(x, 0.0), 9) AS relu,
         |  ROUND(CASE WHEN x > 0 THEN x ELSE 0.01 * x END, 9) AS leaky_relu,
         |  ROUND(CASE WHEN x > 0 THEN x ELSE (EXP(x) - 1) END, 9) AS elu,
         |  ROUND(1.0507009873554804 * (CASE WHEN x > 0 THEN x ELSE 1.6732632423543772 * (EXP(x) - 1) END), 9) AS selu,
         |  ROUND(sig, 9) AS sigmoid,
         |  ROUND(hsig, 9) AS hard_sigmoid,
         |  ROUND(-(GREATEST(-x, 0.0) + LN(1.0 + EXP(-ABS(-x)))), 9) AS log_sigmoid,
         |  ROUND(th, 9) AS tanh_x,
         |  ROUND(x - th, 9) AS tanhshrink,
         |  ROUND(splus, 9) AS softplus,
         |  ROUND(x * sig, 9) AS swish,
         |  ROUND(x * hsig, 9) AS hard_swish,
         |  ROUND(x * (0.5 * (1.0 + CASE WHEN z >= 0 THEN ef ELSE -ef END)), 9) AS gelu,
         |  ROUND(x * (SIGN(splus) * (1.0 - 2.0 / (EXP(2.0 * ABS(splus)) + 1.0))), 9) AS mish,
         |  ROUND(CASE WHEN x >= 0 THEN x * sig ELSE (EXP(x) - 1) * sig END, 9) AS elish
         |FROM ee ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "softmax_rows" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_quantity AS DOUBLE) / 10.0 AS a,
        |    CAST(l_discount AS DOUBLE) * 10.0 AS b,
        |    CAST(l_tax AS DOUBLE) * 10.0 AS c
        |  FROM lineitem WHERE l_orderkey % 101 = 0),
        |m AS (SELECT *, GREATEST(a, b, c) AS mx FROM base),
        |e AS (SELECT *, EXP(a - mx) AS ea, EXP(b - mx) AS eb, EXP(c - mx) AS ec FROM m)
        |SELECT l_orderkey, l_linenumber,
        |  ROUND(ea / (ea + eb + ec), 9) AS a_softmax,
        |  ROUND(eb / (ea + eb + ec), 9) AS b_softmax,
        |  ROUND(ec / (ea + eb + ec), 9) AS c_softmax
        |FROM e ORDER BY l_orderkey, l_linenumber""".stripMargin
  )

  override val globalWindowAllowed: Set[String] = Set(
    // row-scale, still to rewrite to a partitioned or two-phase form:
    // the window runs over an encoded column's values, which grow
    // with the data
    "label_encode")
}
