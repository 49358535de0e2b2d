package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import graft.core.{Tables => T}
import graft.stats.Descriptive
import graft.stats.{Descriptive => D, WeightedMedian, Inferential, Correlation, Survival, Distributions, Regression}

/** Registry queries for the statistics operators (SURVEY §2.4):
  * descriptive moments, quantiles, correlation, regression, inferential
  * tests, data-quality audits and drift.
  *
  * Every float output is either a closed-form double expression over
  * EXACT decimal power sums (bit-identical in Spark and DuckDB — see
  * [[graft.stats.Descriptive]]) or explicitly rounded. Inferential
  * tests return statistics only — p-values are driver-side
  * ([[graft.stats.PValues]], covered by InferSpec); DuckDB has no
  * distribution CDFs to oracle them against.
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

  private def momentsSql(c: String) = {
    val (n, s1, s2) = (nD(c), sx(c), sxx(c))
    s"""COUNT($c) AS n,
       |  $s1 / $n AS mean,
       |  ($s2 - $s1 * $s1 / $n) / ($n - 1) AS var_samp,
       |  SQRT(($s2 - $s1 * $s1 / $n) / ($n - 1)) AS std_samp""".stripMargin
  }

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

  // Replays psi: quantile_cont deciles over the reference, bin =
  // 1 + #edges strictly below, floored shares, round-6 terms.
  private[entries] val driftPsiSql =
    """WITH r AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
      |  FROM lineitem WHERE l_orderkey % 2 = 0),
      |c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
      |  FROM lineitem WHERE l_orderkey % 2 = 1),
      |e AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
      |    0.6, 0.7, 0.8, 0.9]) AS edges FROM r),
      |rc AS (SELECT 1 + len(list_filter((SELECT edges FROM e),
      |    x -> v > x)) AS bin, COUNT(*) AS cr FROM r GROUP BY 1),
      |cc AS (SELECT 1 + len(list_filter((SELECT edges FROM e),
      |    x -> v > x)) AS bin, COUNT(*) AS cn FROM c GROUP BY 1),
      |d AS (SELECT unnest(range(1, 11)) AS bin),
      |j AS (SELECT d.bin,
      |    CAST(COALESCE(rc.cr, 0) AS DOUBLE) AS cr,
      |    CAST(COALESCE(cc.cn, 0) AS DOUBLE) AS cn
      |  FROM d LEFT JOIN rc ON d.bin = rc.bin
      |  LEFT JOIN cc ON d.bin = cc.bin),
      |t AS (SELECT CAST(SUM(cr) AS DOUBLE) AS tr,
      |    CAST(SUM(cn) AS DOUBLE) AS tc FROM j),
      |s AS (SELECT bin,
      |    GREATEST(cr / (SELECT tr FROM t), 1e-6) AS p,
      |    GREATEST(cn / (SELECT tc FROM t), 1e-6) AS q
      |  FROM j)
      |SELECT CAST(bin AS INT) AS bin,
      |  round(p, 6) AS ref_share, round(q, 6) AS cur_share,
      |  round((q - p) * ln(q / p), 6) AS psi_term
      |FROM s ORDER BY bin""".stripMargin

  // Replays psiCategorical: category counts, full-outer domain,
  // floored shares, one ln crossing — the drift_psi arithmetic on
  // value groups.
  private[entries] val driftPsiCatSql =
    """WITH r AS (SELECT COALESCE(CAST(o_orderpriority AS VARCHAR),
      |    '(null)') AS category FROM orders WHERE o_orderkey % 2 = 0),
      |c AS (SELECT COALESCE(CAST(o_orderpriority AS VARCHAR),
      |    '(null)') AS category FROM orders WHERE o_orderkey % 2 = 1),
      |rc AS (SELECT category, COUNT(*) AS cr FROM r GROUP BY 1),
      |cc AS (SELECT category, COUNT(*) AS cn FROM c GROUP BY 1),
      |j AS (SELECT COALESCE(rc.category, cc.category) AS category,
      |    CAST(COALESCE(rc.cr, 0) AS DOUBLE) AS cr,
      |    CAST(COALESCE(cc.cn, 0) AS DOUBLE) AS cn
      |  FROM rc FULL OUTER JOIN cc ON rc.category = cc.category),
      |t AS (SELECT SUM(cr) AS tr, SUM(cn) AS tc FROM j),
      |s AS (SELECT category,
      |    GREATEST(cr / (SELECT tr FROM t), 1e-6) AS p,
      |    GREATEST(cn / (SELECT tc FROM t), 1e-6) AS q FROM j)
      |SELECT category, ROUND(p, 6) AS ref_share,
      |  ROUND(q, 6) AS cur_share,
      |  ROUND((q - p) * ln(q / p), 6) AS psi_term
      |FROM s ORDER BY category""".stripMargin

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
    }),

    // Welch t-test (inferential.py:388).
    "t_test" -> ((s, dir) => {
      Inferential.tTestWelch(T.customer(s, dir), "c_acctbal",
        "c_mktsegment", "AUTOMOBILE", "BUILDING")
    }),

    // paired t (inferential.py:526) on an exact 2-dp difference.
    "paired_t" -> ((s, dir) => {
      Inferential.pairedTTest(T.lineitem(s, dir),
        col("l_quantity") - col("l_tax") * 100.0)
    }),

    // chi-square independence (inferential.py:1496).
    "chi2" -> ((s, dir) => {
      Inferential.chi2Test(T.orders(s, dir), "o_orderpriority", "o_orderstatus")
    }),

    // one-way ANOVA (inferential.py:1605).
    "anova" -> ((s, dir) => {
      Inferential.anovaF(T.customer(s, dir), "c_acctbal", "c_mktsegment")
    }),

    // two-sample KS (inferential.py:1173) — exact rational D.
    "ks_test" -> ((s, dir) => {
      Inferential.ksTest(T.lineitem(s, dir), "l_quantity",
        "l_returnflag", "A", "R")
    }),

    // Cronbach α (inferential.py:1391).
    "cronbach" -> ((s, dir) => {
      Inferential.cronbachAlpha(T.lineitem(s, dir),
        Seq("l_quantity", "l_discount", "l_tax"))
    }),

    // Kruskal–Wallis rank ANOVA (inferential.py:1039).
    "kruskal_wallis" -> ((s, dir) => {
      Inferential.kruskalWallis(T.customer(s, dir), "c_acctbal", "c_mktsegment")
    }),

    // Brown–Forsythe Levene (inferential.py:793).
    "levene" -> ((s, dir) => {
      Inferential.levene(T.lineitem(s, dir), "l_quantity", "l_returnflag")
    }),

    // Wilcoxon signed-rank on the paired_t difference (inferential.py:200).
    "wilcoxon" -> ((s, dir) => {
      Inferential.wilcoxonSignedRank(T.lineitem(s, dir),
        col("l_quantity") - col("l_tax") * 100.0)
    }),

    // Friedman over complete order blocks of line numbers 1..3
    // (inferential.py:1272).
    "friedman" -> ((s, dir) => {
      Inferential.friedman(
        T.lineitem(s, dir).filter(col("l_linenumber").isin(1, 2, 3)),
        "l_orderkey", "l_linenumber", "l_quantity", k = 3)
    }),

    // McNemar paired-binary χ² (inferential.py:911).
    "mcnemar" -> ((s, dir) => {
      Inferential.mcnemar(T.lineitem(s, dir),
        col("l_discount") > 0.05, col("l_tax") > 0.04)
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

    // §2.9 distribution scalars (probs.py) over a generated grid.
    "dist_scalars" -> ((s, dir) => {
      s.range(0, 11).select(col("id").as("k"),
          Distributions.binomialPmf(col("k"), n = 10, p = 0.3).as("binom_pmf"),
          Distributions.normalPdf(col("k").cast("double") / 2 - 2.5).as("norm_pdf"),
          Distributions.normalCdf(col("k").cast("double") / 2 - 2.5).as("norm_cdf"))
        .orderBy("k")
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
    }),

    // §2.9 calculate_histogram_bins (mathext.py:2920): 20 equal-width
    // bins over l_extendedprice. Bounds from one tiny agg (broadcast
    // back), bin arithmetic is pure IEEE on identical inputs — no
    // rounding needed anywhere.
    "histogram" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      val b = li.agg(min("l_extendedprice").as("_lo"),
        max("l_extendedprice").as("_hi"))
      val w = (col("_hi") - col("_lo")) / lit(20.0)
      // hi==lo guard: degenerate one-value domain puts everything in
      // bin 0 on both engines (0/0 = NaN would diverge Spark vs DuckDB).
      li.crossJoin(broadcast(b))
        .withColumn("bin",
          when(col("_hi") <= col("_lo"), lit(0L)).otherwise(
            least(floor((col("l_extendedprice") - col("_lo")) / w), lit(19L))))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          (min("_lo") + col("bin") * ((min("_hi") - min("_lo")) / lit(20.0)))
            .as("bin_lo"))
        .orderBy("bin")
    }),

    // §2.4 laplace_smoothing_categorical (gofast/utils/ml/utils.py:688):
    // add-one smoothed class probabilities. Integer-exact until the one
    // final double division.
    "laplace_smooth" -> ((s, dir) => {
      val o = T.orders(s, dir)
      val counts = o.groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("n"), count(lit(1)).as("k"))
      counts.crossJoin(broadcast(tot))
        .select(col("o_orderpriority"), col("cnt"),
          ((col("cnt") + lit(1L)).cast("double") /
            (col("n") + col("k")).cast("double")).as("p_smooth"))
        .orderBy("o_orderpriority")
    }),

    // §2.9 compute_errors (mathext.py:4887): MAE/RMSE/R² of the
    // one-regressor OLS price ~ quantity, closed form + quantized
    // residual sums.
    "reg_metrics" -> ((s, dir) => {
      Regression.errorMetricsSimple(T.lineitem(s, dir),
        "l_extendedprice", "l_quantity")
    }),

    // ---- rows-only entry (sketch internals are engine-specific) ----
    // stats at scale: percentile_approx (Greenwald–Khanna summary) on
    // the same column/quantile grid as the oracle-checked
    // quantiles_exact twin. One mergeable pass, no per-group sort —
    // the plan that survives 100 TB. Accuracy 10000 → rank error
    // ≤ n/10000; Batch31Spec asserts the rank-error bound against the
    // exact order statistics and exactness at small n.
    "quantiles_approx" -> ((s, dir) => {
      T.lineitem(s, dir).agg(
        percentile_approx(col("l_extendedprice"), lit(0.25), lit(10000))
          .as("q25"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("q50"),
        percentile_approx(col("l_extendedprice"), lit(0.75), lit(10000))
          .as("q75"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000))
          .as("q99"))
    }),

    // Two-proportion z (A/B conversion): per-user treatment =
    // user_id parity, success = at least two high-value purchases —
    // a mid-range rate at every sf (success = "ever purchased" is
    // ~100% on this data, which degenerates the pooled SE to zero).
    "ab_test" -> ((s, dir) => {
      val perUser = T.events(s, dir).groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase" &&
            col("value") > 100, 1L).otherwise(0L)) >= 2).as("converted"))
        .select((col("user_id") % 2 === 0).as("grp"), col("converted"))
      graft.stats.Inferential.twoProportionZ(perUser, "grp", "converted")
    }),

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

    // Population Stability Index — the numeric-feature drift monitor
    // next to corpus_js's token axis: reference = even-order prices,
    // current = odd-order prices (a stable split, so PSI lands near 0
    // — the monitoring fixture a healthy pipeline reports). Edges are
    // exact reference deciles (the iqr_range-proven quantile parity),
    // shares floored at 1e-6, terms round-6 after the one ln crossing.
    "drift_psi" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      graft.stats.DataAudit.psi(
          li.filter(col("l_orderkey") % 2 === 0).select("l_extendedprice"),
          li.filter(col("l_orderkey") % 2 === 1).select("l_extendedprice"),
          "l_extendedprice", bins = 10)
        .orderBy("bin")
    }),

    // Categorical PSI — drift_psi's twin where bins are VALUE GROUPS
    // (full-outer category domain, one-sided categories floored: the
    // drift signal itself), NULL its own category. Same stable
    // even/odd split as drift_psi so PSI lands near 0 and the oracle
    // exercises the share/term arithmetic, not a lucky drift. FULL
    // oracle.
    "drift_psi_cat" -> ((s, dir) => {
      val o = T.orders(s, dir)
      graft.stats.DataAudit.psiCategorical(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          "o_orderpriority")
        .orderBy("category")
    })
  )

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
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "t_test" ->
      """WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 100.0) AS sa,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 100.0) AS sb,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 10000.0) AS qa,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 10000.0) AS qb
        |  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING'))
        |SELECT
        |  ROUND((sa/na - sb/nb) / SQRT((qa - sa*sa/na)/(na-1)/na + (qb - sb*sb/nb)/(nb-1)/nb), 9) AS t_stat,
        |  ROUND(((qa - sa*sa/na)/(na-1)/na + (qb - sb*sb/nb)/(nb-1)/nb)
        |      * ((qa - sa*sa/na)/(na-1)/na + (qb - sb*sb/nb)/(nb-1)/nb)
        |    / (((qa - sa*sa/na)/(na-1)/na) * ((qa - sa*sa/na)/(na-1)/na) / (na-1)
        |     + ((qb - sb*sb/nb)/(nb-1)/nb) * ((qb - sb*sb/nb)/(nb-1)/nb) / (nb-1)), 6) AS welch_df,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
        |FROM m""".stripMargin,

    "paired_t" ->
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    (CAST(SUM(CAST(ROUND((l_quantity - l_tax * 100.0) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) AS s,
        |    (CAST(SUM(CAST(ROUND((l_quantity - l_tax * 100.0) * 100, 0) AS BIGINT) * CAST(ROUND((l_quantity - l_tax * 100.0) * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) AS q
        |  FROM lineitem)
        |SELECT ROUND((s/n) / SQRT(((q - s*s/n)/(n-1))/n), 9) AS t_stat,
        |  CAST(n - 1 AS BIGINT) AS dof
        |FROM m""".stripMargin,

    "chi2" ->
      """WITH cells AS (
        |  SELECT o_orderpriority a, o_orderstatus b, CAST(COUNT(*) AS DOUBLE) o
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT o, SUM(o) OVER (PARTITION BY a) ra, SUM(o) OVER (PARTITION BY b) cb,
        |    SUM(o) OVER () n, a, b
        |  FROM cells)
        |SELECT ROUND(SUM(POWER(o - ra*cb/n, 2) / (ra*cb/n)), 6) AS chi2,
        |  CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT) AS dof
        |FROM m""".stripMargin,

    "anova" ->
      """WITH g AS (
        |  SELECT c_mktsegment,
        |    CAST(COUNT(*) AS DOUBLE) ni,
        |    (CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) si,
        |    (CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) qi
        |  FROM customer GROUP BY 1),
        |t AS (
        |  SELECT SUM(ni) n, CAST(COUNT(*) AS DOUBLE) k, SUM(si) s, SUM(qi) q,
        |    SUM(si * si / ni) sb
        |  FROM g)
        |SELECT
        |  ROUND(((sb - s*s/n) / (k-1)) / ((q - sb) / (n-k)), 9) AS f_stat,
        |  CAST(k - 1 AS BIGINT) AS df_between,
        |  CAST(n - k AS BIGINT) AS df_within
        |FROM t""".stripMargin,

    "ks_test" ->
      """WITH pv AS (
        |  SELECT l_quantity v,
        |    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) ca,
        |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) cb
        |  FROM lineitem WHERE l_returnflag IN ('A','R') GROUP BY 1),
        |c AS (
        |  SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) fa,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) fb,
        |    SUM(ca) OVER () na, SUM(cb) OVER () nb
        |  FROM pv)
        |SELECT MAX(ABS(CAST(fa AS DOUBLE)/na - CAST(fb AS DOUBLE)/nb)) AS ks_d
        |FROM c""".stripMargin,

    "cronbach" ->
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) n,
        |    (CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) s0,
        |    (CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT) * CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) q0,
        |    (CAST(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) s1,
        |    (CAST(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT) * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) q1,
        |    (CAST(SUM(CAST(ROUND(l_tax * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) s2,
        |    (CAST(SUM(CAST(ROUND(l_tax * 100, 0) AS BIGINT) * CAST(ROUND(l_tax * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) q2,
        |    (CAST(SUM(CAST(ROUND((l_quantity + l_discount + l_tax) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) st,
        |    (CAST(SUM(CAST(ROUND((l_quantity + l_discount + l_tax) * 100, 0) AS BIGINT) * CAST(ROUND((l_quantity + l_discount + l_tax) * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) qt
        |  FROM lineitem)
        |SELECT ROUND(1.5 * (1.0 -
        |    (((q0 - s0*s0/n)/(n-1) + (q1 - s1*s1/n)/(n-1)) + (q2 - s2*s2/n)/(n-1))
        |    / ((qt - st*st/n)/(n-1))), 9) AS alpha
        |FROM m""".stripMargin,

    // Ranks carried as 2×rank bigints exactly as the Spark plan does;
    // only the k-term fold and the H expression run in double.
    "kruskal_wallis" ->
      """WITH gv AS (
        |  SELECT c_mktsegment g, c_acctbal v, COUNT(*) cgv FROM customer GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(SUM(cgv) AS BIGINT) cv FROM gv GROUP BY v),
        |rk AS (
        |  SELECT v, cv,
        |    2 * COALESCE(SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv + 1 AS rank2
        |  FROM pv),
        |pg AS (
        |  SELECT g, CAST(SUM(cgv * rank2) AS BIGINT) r2i, CAST(SUM(cgv) AS BIGINT) ni
        |  FROM gv JOIN rk USING (v) GROUP BY g),
        |t AS (SELECT CAST(SUM(cv*cv*cv - cv) AS BIGINT) tsum FROM pv),
        |a AS (
        |  SELECT SUM((CAST(r2i AS DOUBLE)/2) * (CAST(r2i AS DOUBLE)/2) / CAST(ni AS DOUBLE)) srr,
        |    CAST(SUM(ni) AS DOUBLE) n, CAST(COUNT(*) AS DOUBLE) k
        |  FROM pg)
        |SELECT ROUND((12.0/(n*(n+1)) * srr - 3.0*(n+1)) / (1.0 - CAST(tsum AS DOUBLE)/(n*n*n - n)), 9) AS h_stat,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM a, t""".stripMargin,

    // |x−med| is an exact 3-dp decimal for 2-dp doubles, so group
    // spreads aggregate exactly; quantile_cont == Spark percentile.
    "levene" ->
      """WITH med AS (
        |  SELECT l_returnflag g, quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) med
        |  FROM lineitem GROUP BY 1),
        |z AS (
        |  SELECT g, CAST(ROUND(ABS(CAST(l_quantity AS DOUBLE) - med) * 1000, 0) AS BIGINT) zl
        |  FROM lineitem JOIN med ON l_returnflag = g),
        |pg AS (
        |  SELECT g, CAST(COUNT(*) AS DOUBLE) ni,
        |    (CAST(SUM(zl) AS DOUBLE) / 1000.0) szi,
        |    (CAST(SUM(zl * zl) AS DOUBLE) / 1000000.0) qzi
        |  FROM z GROUP BY g),
        |t AS (
        |  SELECT SUM(ni) n, CAST(COUNT(*) AS DOUBLE) k, SUM(szi) sz, SUM(qzi) qz,
        |    SUM(szi * szi / ni) sb
        |  FROM pg)
        |SELECT ROUND(((sb - sz*sz/n) / (k-1)) / ((qz - sb) / (n-k)), 9) AS w_stat,
        |  CAST(k - 1 AS BIGINT) AS df_between,
        |  CAST(n - k AS BIGINT) AS df_within
        |FROM t""".stripMargin,

    "wilcoxon" ->
      """WITH nz AS (
        |  SELECT CAST(l_quantity - l_tax * 100.0 AS DECIMAL(18,2)) d
        |  FROM lineitem
        |  WHERE CAST(l_quantity - l_tax * 100.0 AS DECIMAL(18,2)) <> 0),
        |gv AS (SELECT (d > 0) g, ABS(d) v, COUNT(*) cgv FROM nz GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(SUM(cgv) AS BIGINT) cv FROM gv GROUP BY v),
        |rk AS (
        |  SELECT v, cv,
        |    2 * COALESCE(SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv + 1 AS rank2
        |  FROM pv),
        |m AS (
        |  SELECT CAST(SUM(CASE WHEN g THEN cgv * rank2 ELSE 0 END) AS BIGINT) w2p,
        |    CAST(SUM(cgv) AS BIGINT) nl
        |  FROM gv JOIN rk USING (v)),
        |t AS (SELECT CAST(SUM(cv*cv*cv - cv) AS BIGINT) tsum FROM pv)
        |SELECT CAST(w2p AS DOUBLE)/2 AS w_plus, nl AS n_nonzero,
        |  ROUND((CAST(w2p AS DOUBLE)/2 - n*(n+1)/4) /
        |    SQRT(n*(n+1)*(2*n+1)/24 - CAST(tsum AS DOUBLE)/48), 9) AS z_stat
        |FROM (SELECT w2p, nl, CAST(nl AS DOUBLE) n FROM m), t""".stripMargin,

    "friedman" ->
      """WITH base AS (
        |  SELECT l_orderkey b, l_linenumber t, l_quantity v
        |  FROM lineitem WHERE l_linenumber IN (1, 2, 3)),
        |cb AS (SELECT b FROM base GROUP BY b HAVING COUNT(*) = 3),
        |kept AS (SELECT base.* FROM base JOIN cb USING (b)),
        |rk AS (
        |  SELECT t,
        |    2 * RANK() OVER (PARTITION BY b ORDER BY v) + COUNT(*) OVER (PARTITION BY b, v) - 1 AS rank2
        |  FROM kept),
        |pt AS (SELECT t, CAST(SUM(rank2) AS BIGINT) r2j FROM rk GROUP BY t),
        |a AS (SELECT CAST(SUM(rank2 * rank2) AS BIGINT) a4, CAST(COUNT(*)/3 AS BIGINT) nb FROM rk),
        |f AS (
        |  SELECT SUM((CAST(r2j AS DOUBLE)/2 - CAST(nb AS DOUBLE)*4/2) *
        |             (CAST(r2j AS DOUBLE)/2 - CAST(nb AS DOUBLE)*4/2)) sdev,
        |    ANY_VALUE(a4) a4, ANY_VALUE(nb) nb
        |  FROM pt, a)
        |SELECT ROUND(2.0 * sdev / (CAST(a4 AS DOUBLE)/4 - CAST(nb AS DOUBLE)*3*16/4.0), 9) AS q_stat,
        |  CAST(2 AS BIGINT) AS dof, nb AS n_blocks
        |FROM f""".stripMargin,

    "mcnemar" ->
      """WITH m AS (
        |  SELECT CAST(SUM(CASE WHEN l_discount > 0.05 AND NOT (l_tax > 0.04) THEN 1 ELSE 0 END) AS BIGINT) b10,
        |    CAST(SUM(CASE WHEN NOT (l_discount > 0.05) AND l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) b01
        |  FROM lineitem)
        |SELECT (ABS(CAST(b10 AS DOUBLE) - CAST(b01 AS DOUBLE)) - 1) *
        |       (ABS(CAST(b10 AS DOUBLE) - CAST(b01 AS DOUBLE)) - 1) /
        |       (CAST(b10 AS DOUBLE) + CAST(b01 AS DOUBLE)) AS chi2_cc,
        |  b10, b01
        |FROM m""".stripMargin,

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
        |FROM lineitem, b ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "coverage" ->
      """WITH b AS (SELECT quantile_cont(value, 0.05) lo, quantile_cont(value, 0.95) hi FROM events)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN value BETWEEN lo AND hi THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS coverage
        |FROM events, b GROUP BY event_type ORDER BY event_type""".stripMargin,

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
    },

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
    },

    "histogram" ->
      """WITH b AS (SELECT MIN(l_extendedprice) lo, MAX(l_extendedprice) hi FROM lineitem),
        |binned AS (
        |  SELECT CASE WHEN hi <= lo THEN 0 ELSE
        |    LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 20.0)) AS BIGINT),
        |          19) END AS bin
        |  FROM lineitem, b)
        |SELECT bin, COUNT(*) AS n,
        |  (SELECT lo FROM b) + bin * (((SELECT hi FROM b) - (SELECT lo FROM b)) / 20.0) AS bin_lo
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,

    "laplace_smooth" ->
      """WITH c AS (SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS n, COUNT(*) AS k FROM c)
        |SELECT o_orderpriority, cnt,
        |  CAST(cnt + 1 AS DOUBLE) / CAST(n + k AS DOUBLE) AS p_smooth
        |FROM c, t ORDER BY o_orderpriority""".stripMargin,

    "reg_metrics" ->
      """WITH m AS (
        |  SELECT COUNT(*) AS nl,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS syy
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |f AS (
        |  SELECT nl, CAST(nl AS DOUBLE) AS n,
        |    (CAST(nl AS DOUBLE) * sxy - sx * sy) / (CAST(nl AS DOUBLE) * sxx - sx * sx) AS b,
        |    (sy - ((CAST(nl AS DOUBLE) * sxy - sx * sy) / (CAST(nl AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(nl AS DOUBLE) AS a,
        |    syy - sy * sy / CAST(nl AS DOUBLE) AS sstot
        |  FROM m),
        |e AS (
        |  SELECT f.nl, f.sstot,
        |    CAST(ROUND((l_extendedprice - (a + b * l_quantity)) * 1000.0, 0) AS BIGINT) AS e3
        |  FROM lineitem, f WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
        |SELECT
        |  ROUND(CAST(SUM(CAST(ABS(e3) AS DECIMAL(38,0))) AS DOUBLE) / 1000.0 / CAST(nl AS DOUBLE), 6) AS mae,
        |  ROUND(SQRT(CAST(SUM(CAST(e3 * e3 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 / CAST(nl AS DOUBLE)), 6) AS rmse,
        |  ROUND(1.0 - (CAST(SUM(CAST(e3 * e3 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) / sstot, 9) AS r2,
        |  nl AS n
        |FROM e GROUP BY nl, sstot""".stripMargin,

    "ab_test" ->
      """WITH u AS (SELECT user_id % 2 = 0 AS grp,
        |    SUM(CASE WHEN event_type = 'purchase' AND value > 100
        |      THEN 1 ELSE 0 END) >= 2 AS converted
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |    CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN grp AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS succ_a,
        |    CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN NOT grp AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS succ_b
        |  FROM u)
        |SELECT n_a, succ_a, n_b, succ_b,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |  round(CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS diff,
        |  round((CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(succ_a + succ_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(succ_a + succ_b AS DOUBLE)
        |          / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))),
        |    9) AS z_stat,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |    - 1.959964 * sqrt(
        |      (CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        * (1.0 - CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        / CAST(n_a AS DOUBLE)
        |      + (CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        * (1.0 - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        / CAST(n_b AS DOUBLE)), 6) AS ci_low,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |    + 1.959964 * sqrt(
        |      (CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        * (1.0 - CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        / CAST(n_a AS DOUBLE)
        |      + (CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        * (1.0 - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        / CAST(n_b AS DOUBLE)), 6) AS ci_high
        |FROM a""".stripMargin,

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

    "drift_psi" -> driftPsiSql,
    "drift_psi_cat" -> driftPsiCatSql
  )

  override val nljAllowed: Set[String] = Set(
    // 1-row fitted-scalar broadcasts: fitted constants (quantile cuts,
    // rank sums, regression coefficients) joined onto every row
    "decision_curve", "friedman", "histogram", "kruskal_wallis",
    "laplace_smooth", "reg_metrics", "wilcoxon",
    // drift_psi / drift_psi_cat: the (total_ref, total_cur) 1-row
    // broadcast that normalizes the bin/category count table into
    // shares (the benford / pareto_curve convention)
    "drift_psi", "drift_psi_cat",
    // benford / key_skew / pareto_curve: the corpus total rides onto
    // a bounded group/entity table as a 1-row broadcast
    "benford", "key_skew", "pareto_curve")

  override val globalWindowAllowed: Set[String] = Set(
    // distinct-value, per-group or capped domains: distinct values or
    // event times, contingency cells, IV categories, the 256 rank
    // buckets of `rank2OfCounts`
    "binary_iv", "chi2", "kaplan_meier", "kruskal_wallis", "ks_test",
    "wilcoxon",
    // row-scale, still to rewrite to a partitioned or two-phase form:
    // the window runs over a table that grows with the data (keys)
    "key_skew", "pareto_curve")
}
