package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hypothesis tests as sufficient-statistics plans (SURVEY §2.4
  * inferential row; gofast/stats/inferential.py).
  *
  * Each test aggregates exact decimal moments in ONE pass (map-side
  * partials intact) and evaluates the closed-form statistic; nothing is
  * collected but the final scalar row(s). P-values (scipy in the
  * reference) are provided via [[PValues]] on the driver — the
  * distribution CDFs are not data-parallel work.
  */
object Inferential {

  // Scaled-long moments (x·100 exact ints): per-row products stay in
  // codegen'd integer arithmetic, the decimal(38,0) accumulator is
  // exact, and one de-scaling division is deterministic on both engines.
  private def cents(c: Column) = round(c * 100, 0).cast("long")
  private def s1(c: Column) =
    sum(cents(c).cast("decimal(38,0)")).cast("double") / 100.0
  private def s2(c: Column) =
    sum((cents(c) * cents(c)).cast("decimal(38,0)")).cast("double") / 10000.0

  /** Welch's two-sample t: per-group moments → t and Welch df.
    * Reference: `t_test_independent` (inferential.py:388).
    * Output: one row (t_stat, welch_df, n_a, n_b). */
  def tTestWelch(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val c = col(valueCol)
    val isA = col(groupCol) === groupA
    val isB = col(groupCol) === groupB
    val base = df.filter(isA || isB).agg(
      sum(when(isA, 1L).otherwise(0L)).cast("double").as("na"),
      sum(when(isB, 1L).otherwise(0L)).cast("double").as("nb"),
      (sum(when(isA, cents(c)).cast("decimal(38,0)")).cast("double") / 100.0).as("sa"),
      (sum(when(isB, cents(c)).cast("decimal(38,0)")).cast("double") / 100.0).as("sb"),
      (sum(when(isA, cents(c) * cents(c)).cast("decimal(38,0)")).cast("double") / 10000.0).as("qa"),
      (sum(when(isB, cents(c) * cents(c)).cast("decimal(38,0)")).cast("double") / 10000.0).as("qb"))
    base.select(
      {
        val va = (col("qa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
        val vb = (col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
        val se2 = va / col("na") + vb / col("nb")
        val t = (col("sa") / col("na") - col("sb") / col("nb")) / sqrt(se2)
        val welch = se2 * se2 /
          ((va / col("na")) * (va / col("na")) / (col("na") - 1) +
           (vb / col("nb")) * (vb / col("nb")) / (col("nb") - 1))
        Seq(round(t, 9).as("t_stat"), round(welch, 6).as("welch_df"),
            col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"))
      }: _*)
  }

  /** Paired t on a per-row difference expression.
    * Reference: `paired_t_test` (inferential.py:526). */
  def pairedTTest(df: DataFrame, diff: Column): DataFrame = {
    val d = diff.cast("decimal(18,2)")
    df.agg(count(d).cast("double").as("n"),
        (sum(cents(diff).cast("decimal(38,0)")).cast("double") / 100.0).as("s"),
        (sum((cents(diff) * cents(diff)).cast("decimal(38,0)")).cast("double") / 10000.0).as("q"))
      .select({
        val mean = col("s") / col("n")
        val varS = (col("q") - col("s") * col("s") / col("n")) / (col("n") - 1)
        Seq(round(mean / sqrt(varS / col("n")), 9).as("t_stat"),
            (col("n") - 1).cast("long").as("dof"))
      }: _*)
  }

  /** Pearson chi-square over an r×c contingency of two categorical
    * columns. Reference: `chi2_test` (inferential.py:1496).
    * Cell/marginal counts are exact; the statistic sums c·r terms —
    * rounded, since that final small sum is order-dependent. */
  def chi2Test(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(aCol, bCol).agg(count(lit(1)).cast("double").as("o"))
    val withMargins = cells
      .withColumn("ra", sum("o").over(Window.partitionBy(aCol)))
      .withColumn("cb", sum("o").over(Window.partitionBy(bCol)))
      .withColumn("n", sum("o").over())
    val term = pow(col("o") - col("ra") * col("cb") / col("n"), 2) /
      (col("ra") * col("cb") / col("n"))
    withMargins.agg(
      round(sum(term), 6).as("chi2"),
      ((count_distinct(col(aCol)) - 1) * (count_distinct(col(bCol)) - 1))
        .cast("long").as("dof"))
  }

  /** One-way ANOVA F from per-group exact moments.
    * Reference: `anova_test` (inferential.py:1605). */
  def anovaF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val c = col(valueCol)
    val groups = df.groupBy(groupCol).agg(
      count(c).cast("double").as("ni"), s1(c).as("si"), s2(c).as("qi"))
    groups.agg(
        sum("ni").as("n"), count(lit(1)).cast("double").as("k"),
        sum("si").as("s"), sum("qi").as("q"),
        sum(col("si") * col("si") / col("ni")).as("sb"))
      .select({
        val ssb = col("sb") - col("s") * col("s") / col("n")
        val ssw = col("q") - col("sb")
        val f = (ssb / (col("k") - 1)) / (ssw / (col("n") - col("k")))
        Seq(round(f, 9).as("f_stat"),
            (col("k") - 1).cast("long").as("df_between"),
            (col("n") - col("k")).cast("long").as("df_within"))
      }: _*)
  }

  /** Two-sample Kolmogorov–Smirnov D: max |ECDF_a − ECDF_b| over the
    * pooled values — window cumulative counts, exact rational
    * arithmetic. Reference: `kolmogorov_smirnov_test`
    * (inferential.py:1173). One global ordered window over DISTINCT
    * values: bounded by value-domain cardinality, not row count. */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             groupA: String, groupB: String): DataFrame = {
    val isA = col(groupCol) === groupA
    val isB = col(groupCol) === groupB
    val perValue = df.filter(isA || isB)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("ca"),
           sum(when(isB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = perValue
      .withColumn("fa", sum("ca").over(w))
      .withColumn("fb", sum("cb").over(w))
      .withColumn("na", sum("ca").over())
      .withColumn("nb", sum("cb").over())
    cum.agg(max(abs(col("fa").cast("double") / col("na") -
                    col("fb").cast("double") / col("nb"))).as("ks_d"))
  }

  /** Kruskal–Wallis H (rank ANOVA, tie-corrected) over k groups.
    * Reference: `kruskal_wallis_test` (inferential.py:1039).
    * Ranks are carried as 2×rank longs (exact through every shuffle);
    * only the final k-term fold and the H expression run in double.
    * Output: one row (h_stat, dof). */
  def kruskalWallis(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    // Per-row two-phase ranks (rank2Rows): the pooled rank and the tie
    // multiplicity arrive attached to each row, so the whole statistic
    // is ONE groupBy + one k-row fold — no value-domain table, no
    // persist, no join-back. Tie sum Σ_v(cv³−cv) folds per-row as
    // Σ_rows(cv²−1).
    // cut: the rank kernel reads its input three times through three
    // different exchanges (measured at ×4: kruskal_wallis 0.63 → 0.83 s
    // without it)
    val base = graft.core.Cut.of(
      df.select(col(groupCol).as("g"), col(valueCol).as("v")),
      graft.core.Cut.Reread)
    val ranked = graft.ts.Windows
      .rank2Rows(base, Seq.empty, "v", "rank2", tieCountCol = Some("cv"))
      .filter(col("rank2").isNotNull)
    val perGroup = ranked.groupBy("g")
      .agg(sum("rank2").as("r2i"), count(lit(1)).as("ni"),
           sum(col("cv") * col("cv") - lit(1L)).as("tg"))
    perGroup
      .agg(
        sum((col("r2i").cast("double") / 2) * (col("r2i").cast("double") / 2) /
          col("ni").cast("double")).as("srr"),
        sum("ni").cast("double").as("n"),
        count(lit(1)).cast("double").as("k"),
        sum("tg").as("tsum"))
      .select({
        val n = col("n")
        val h = lit(12.0) / (n * (n + 1)) * col("srr") - lit(3.0) * (n + 1)
        val corr = lit(1.0) - col("tsum").cast("double") / (n * n * n - n)
        Seq(round(h / corr, 9).as("h_stat"),
            (col("k") - 1).cast("long").as("dof"))
      }: _*)
  }

  /** Brown–Forsythe Levene test (center = group median) for equal
    * variances. Reference: `levene_test` (inferential.py:793).
    * |x − med| is an exact ≤3-dp quantity for 2-dp inputs (the median
    * interpolates at most one midpoint), so the spreads aggregate as
    * decimal(15,3) moments — no order-dependent double sums until the
    * final k-term fold. Output: one row (w_stat, df_between, df_within). */
  def levene(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val meds = df.groupBy(col(groupCol).as("_lev_g"))
      .agg(percentile(col(valueCol).cast("double"), lit(0.5)).as("_lev_med"))
    val zl = round(abs(col(valueCol).cast("double") - col("_lev_med")) * 1000, 0)
      .cast("long")
    val perGroup = df
      .join(broadcast(meds), df(groupCol) === meds("_lev_g"))
      .groupBy("_lev_g")
      .agg(count(lit(1)).cast("double").as("ni"),
           (sum(zl.cast("decimal(38,0)")).cast("double") / 1000.0).as("szi"),
           (sum((zl * zl).cast("decimal(38,0)")).cast("double") / 1000000.0).as("qzi"))
    perGroup
      .agg(sum("ni").as("n"), count(lit(1)).cast("double").as("k"),
           sum("szi").as("sz"), sum("qzi").as("qz"),
           sum(col("szi") * col("szi") / col("ni")).as("sb"))
      .select({
        val ssb = col("sb") - col("sz") * col("sz") / col("n")
        val ssw = col("qz") - col("sb")
        val w = (ssb / (col("k") - 1)) / (ssw / (col("n") - col("k")))
        Seq(round(w, 9).as("w_stat"),
            (col("k") - 1).cast("long").as("df_between"),
            (col("n") - col("k")).cast("long").as("df_within"))
      }: _*)
  }

  /** Wilcoxon signed-rank on an exact-decimal per-row difference:
    * zeros dropped, |d| average-ranked (2×rank longs), W+ = rank sum of
    * positive differences, tie-corrected normal approximation z.
    * Reference: `wilcoxon_signed_rank_test` (inferential.py:200).
    * Output: one row (w_plus, n_nonzero, z_stat). */
  def wilcoxonSignedRank(df: DataFrame, diff: Column): DataFrame = {
    val d = diff.cast("decimal(18,2)")
    val nz = df.select(d.as("d")).filter(col("d") =!= 0)
    // 2-dp |d| has a SMALL value domain: collapse rows to per-value
    // counts first (cheap partial-agg groupBy), rank the tiny count
    // table, join back — cheaper than per-row ranking here, unlike
    // kruskalWallis whose near-unique domain wants rank2Rows.
    val gv = nz.groupBy((col("d") > 0).as("g"), abs(col("d")).as("v"))
      .agg(count(lit(1)).as("cgv"))
    val perValue = gv.groupBy("v").agg(sum("cgv").as("cv"))
    val ranked = graft.ts.Windows.rank2OfCounts(
        perValue.withColumnRenamed("v", "_v").withColumnRenamed("cv", "_cv"),
        Seq.empty)
      .withColumnRenamed("_v", "v").withColumnRenamed("_r2", "rank2")
    val joined = gv.join(ranked.select("v", "rank2"), Seq("v"))
    val ties = perValue.agg(
      sum(col("cv") * col("cv") * col("cv") - col("cv")).as("tsum"))
    val stats = joined.agg(
      sum(when(col("g"), col("cgv") * col("rank2")).otherwise(0L)).as("w2p"),
      sum("cgv").as("nl"))
    stats.crossJoin(ties).select({
      val n = col("nl").cast("double")
      val wPlus = col("w2p").cast("double") / 2
      val mu = n * (n + 1) / 4
      val sigma2 = n * (n + 1) * (lit(2) * n + 1) / 24 -
        col("tsum").cast("double") / 48
      Seq(wPlus.as("w_plus"), col("nl").as("n_nonzero"),
          round((wPlus - mu) / sqrt(sigma2), 9).as("z_stat"))
    }: _*)
  }

  /** Friedman test over complete blocks (one observation per
    * block×treatment): within-block average ranks (2×rank longs), rank
    * sums per treatment, tie-general statistic
    * Q = (k−1)·Σ(R_j − n(k+1)/2)² / (A − nk(k+1)²/4) with A = Σr².
    * Reference: `friedman_test` (inferential.py:1272).
    * Output: one row (q_stat, dof, n_blocks). */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
               valueCol: String, k: Int): DataFrame = {
    val complete = df.groupBy(col(blockCol).as("_fr_b"))
      .agg(count(lit(1)).as("c")).filter(col("c") === k).select("_fr_b")
    val kept = df.join(complete, df(blockCol) === complete("_fr_b"))
    val wr = Window.partitionBy(col(blockCol)).orderBy(col(valueCol))
    val wv = Window.partitionBy(col(blockCol), col(valueCol))
    val ranked = kept.select(col(treatCol).as("t"),
      (lit(2L) * rank().over(wr) + count(lit(1)).over(wv) - 1).as("rank2"))
    val perTreat = ranked.groupBy("t").agg(sum("rank2").as("r2j"))
    val a4 = ranked.agg(sum(col("rank2") * col("rank2")).as("a4"),
      (count(lit(1)) / k).as("nb"))
    val folded = perTreat.crossJoin(a4).agg(
      sum({
        val dev = col("r2j").cast("double") / 2 -
          col("nb").cast("double") * (k + 1) / 2
        dev * dev
      }).as("sdev"),
      first("a4").as("a4"), first("nb").as("nb"))
    folded.select({
      val n = col("nb").cast("double")
      val denom = col("a4").cast("double") / 4 - n * k * ((k + 1) * (k + 1)) / 4.0
      Seq(round(lit((k - 1).toDouble) * col("sdev") / denom, 9).as("q_stat"),
          lit((k - 1).toLong).as("dof"), col("nb").cast("long").as("n_blocks"))
    }: _*)
  }

  /** McNemar χ² (continuity-corrected) for paired binary outcomes:
    * discordant counts b = Σ(a∧¬b), c = Σ(¬a∧b), then (|b−c|−1)²/(b+c).
    * Exact integer counts; the statistic is a single IEEE division.
    * Reference: `mcnemar_test` (inferential.py:911). */
  def mcnemar(df: DataFrame, condA: Column, condB: Column): DataFrame = {
    df.agg(
        sum(when(condA && !condB, 1L).otherwise(0L)).as("b10"),
        sum(when(!condA && condB, 1L).otherwise(0L)).as("b01"))
      .select({
        val b = col("b10").cast("double")
        val c = col("b01").cast("double")
        val num = (abs(b - c) - 1) * (abs(b - c) - 1)
        Seq((num / (b + c)).as("chi2_cc"), col("b10"), col("b01"))
      }: _*)
  }

  /** Cronbach's α over item columns: k/(k−1)·(1 − Σvarᵢ/var_total),
    * sample variances from exact moments.
    * Reference: `cronbach_alpha` (inferential.py:1391). */
  def cronbachAlpha(df: DataFrame, items: Seq[String]): DataFrame = {
    val k = items.size.toDouble
    val total = items.map(col).reduce(_ + _)
    val aggs =
      items.zipWithIndex.flatMap { case (it, i) =>
        Seq(s1(col(it)).as(s"s$i"), s2(col(it)).as(s"q$i"))
      } ++ Seq(
        (sum(cents(total).cast("decimal(38,0)")).cast("double") / 100.0).as("st"),
        (sum((cents(total) * cents(total)).cast("decimal(38,0)")).cast("double") / 10000.0).as("qt"),
        count(lit(1)).cast("double").as("n"))
    df.agg(aggs.head, aggs.tail: _*).select {
      val n = col("n")
      def varOf(s: Column, q: Column) = (q - s * s / n) / (n - 1)
      val sumItemVar = items.indices
        .map(i => varOf(col(s"s$i"), col(s"q$i"))).reduce(_ + _)
      val varTotal = varOf(col("st"), col("qt"))
      round(lit(k / (k - 1)) * (lit(1.0) - sumItemVar / varTotal), 9).as("alpha")
    }
  }

  /** Two-proportion z-test (the A/B conversion test): units carry a
    * boolean group (`treatment`) and a boolean outcome (`success`).
    * One aggregation pass → counts, per-group rates, rate difference,
    * pooled-SE z statistic (round-9, the wilcoxon convention — CDFs
    * live driver-side in [[PValues]]/[[Distributions]]), and the 95%
    * Wald CI of the difference from the UNPOOLED SE. A group with no
    * units yields NULL derived stats (ANSI-safe). */
  def twoProportionZ(df: DataFrame, groupCol: String,
                     successCol: String): DataFrame = {
    val g = col(groupCol).cast("boolean")
    val y = col(successCol).cast("boolean")
    df.agg(
        sum(when(g, 1L).otherwise(0L)).as("n_a"),
        sum(when(g && y, 1L).otherwise(0L)).as("succ_a"),
        sum(when(!g, 1L).otherwise(0L)).as("n_b"),
        sum(when(!g && y, 1L).otherwise(0L)).as("succ_b"))
      .select({
        val na = col("n_a").cast("double")
        val nb = col("n_b").cast("double")
        val pa = col("succ_a").cast("double") / na
        val pb = col("succ_b").cast("double") / nb
        val pPool = (col("succ_a") + col("succ_b")).cast("double") /
          (na + nb)
        val sePool = sqrt(pPool * (lit(1.0) - pPool) *
          (lit(1.0) / na + lit(1.0) / nb))
        val seUnpooled = sqrt(pa * (lit(1.0) - pa) / na +
          pb * (lit(1.0) - pb) / nb)
        val ok = col("n_a") > 0 && col("n_b") > 0
        Seq(col("n_a"), col("succ_a"), col("n_b"), col("succ_b"),
          when(ok, round(pa, 6)).as("rate_a"),
          when(ok, round(pb, 6)).as("rate_b"),
          when(ok, round(pa - pb, 6)).as("diff"),
          // all-convert / none-convert pools have zero SE: z undefined
          when(ok && pPool > 0 && pPool < 1,
            round((pa - pb) / sePool, 9)).as("z_stat"),
          when(ok, round(pa - pb - lit(1.959964) * seUnpooled, 6))
            .as("ci_low"),
          when(ok, round(pa - pb + lit(1.959964) * seUnpooled, 6))
            .as("ci_high"))
      }: _*)
  }
}

/** Driver-side p-value helpers (scipy's role in the reference).
  * Standard continued-fraction / series implementations of the
  * regularized incomplete beta and gamma functions.
  */
object PValues {

  /** Regularized incomplete beta I_x(a,b) via Lentz continued fraction. */
  def incompleteBeta(a: Double, b: Double, x: Double): Double = {
    if (x <= 0) return 0.0
    if (x >= 1) return 1.0
    val lbeta = logGamma(a) + logGamma(b) - logGamma(a + b)
    val front = math.exp(a * math.log(x) + b * math.log(1 - x) - lbeta)
    val symmetric = x > (a + 1) / (a + b + 2)
    val (aa, bb, xx) = if (symmetric) (b, a, 1 - x) else (a, b, x)
    var f = 1.0; var c = 1.0; var d = 0.0
    var i = 0
    while (i <= 300) {
      val m = i / 2
      val num =
        if (i == 0) 1.0
        else if (i % 2 == 0) m * (bb - m) * xx / ((aa + 2 * m - 1) * (aa + 2 * m))
        else -(aa + m) * (aa + bb + m) * xx / ((aa + 2 * m) * (aa + 2 * m + 1))
      d = 1.0 + num * d
      if (math.abs(d) < 1e-30) d = 1e-30
      d = 1.0 / d
      c = 1.0 + num / c
      if (math.abs(c) < 1e-30) c = 1e-30
      f *= c * d
      if (math.abs(1.0 - c * d) < 1e-12) {
        val fr = math.exp(aa * math.log(xx) + bb * math.log(1 - xx) -
          (logGamma(aa) + logGamma(bb) - logGamma(aa + bb)))
        val res = fr * (f - 1.0) / aa
        return if (symmetric) 1.0 - res else res
      }
      i += 1
    }
    val res = front * (f - 1.0) / aa
    if (symmetric) 1.0 - res else res
  }

  /** Lanczos log-gamma. */
  def logGamma(x: Double): Double = {
    val g = Array(676.5203681218851, -1259.1392167224028, 771.32342877765313,
      -176.61502916214059, 12.507343278686905, -0.13857109526572012,
      9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - logGamma(1 - x)
    else {
      val z = x - 1
      var a = 0.99999999999980993
      for (i <- g.indices) a += g(i) / (z + i + 1)
      val t = z + g.length - 0.5
      0.5 * math.log(2 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Two-sided p for a t statistic with df degrees of freedom. */
  def tTwoSided(t: Double, df: Double): Double =
    incompleteBeta(df / 2.0, 0.5, df / (df + t * t))

  /** Upper-tail p for chi-square via regularized incomplete gamma. */
  def chi2Upper(x: Double, k: Double): Double = 1.0 - gammaP(k / 2.0, x / 2.0)

  /** Regularized lower incomplete gamma P(a, x). */
  def gammaP(a: Double, x: Double): Double = {
    if (x <= 0) return 0.0
    if (x < a + 1) {
      var sum = 1.0 / a; var term = sum; var n = 1
      while (n < 300 && math.abs(term) > math.abs(sum) * 1e-14) {
        term *= x / (a + n); sum += term; n += 1
      }
      sum * math.exp(-x + a * math.log(x) - logGamma(a))
    } else {
      var b = x + 1 - a; var c = 1e300; var d = 1.0 / b; var h = d
      var i = 1
      while (i <= 300) {
        val an = -i * (i - a)
        b += 2
        d = an * d + b; if (math.abs(d) < 1e-30) d = 1e-30
        c = b + an / c; if (math.abs(c) < 1e-30) c = 1e-30
        d = 1.0 / d
        val del = d * c
        h *= del
        if (math.abs(del - 1.0) < 1e-12) i = 301 else i += 1
      }
      1.0 - math.exp(-x + a * math.log(x) - logGamma(a)) * h
    }
  }
}
