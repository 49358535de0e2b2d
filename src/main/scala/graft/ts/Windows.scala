package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Ordered-window operators (SURVEY §2.5).
  *
  * Every function REQUIRES partition columns — an unpartitioned ordered
  * window is a single-task global sort, the classic 100 TB OOM (SURVEY
  * §7.4). The reference operates on single in-memory series and never
  * faced this; here the partition key (entity id, series id) is part of
  * the operator contract.
  */
object Windows {

  private def ordered(partitionCols: Seq[String], orderCols: Seq[Column]): WindowSpec = {
    require(partitionCols.nonEmpty, "ordered windows need a partition key at scale")
    Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols: _*)
  }

  /** k lag columns `<value>_lag{1..k}`.
    * Reference: `create_lag_features` (gofast/utils/ts_utils.py:4088),
    * `LagFeatureGenerator` (gofast/transformers/ts.py:667). */
  def lagFeatures(df: DataFrame, valueCol: String, lags: Seq[Int],
                  partitionCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = ordered(partitionCols, orderCols)
    lags.foldLeft(df)((d, k) =>
      d.withColumn(s"${valueCol}_lag$k", lag(col(valueCol), k).over(w)))
  }

  /** Trailing moving average over the last `window` rows, computed as an
    * exact decimal sum / count so the result is identical under any
    * window-aggregation algorithm (Spark's running frame vs DuckDB's
    * segment tree would disagree in low double bits otherwise).
    * Reference: `moving_average` (gofast/utils/spatial_utils.py:4065),
    * `MovingAverageTransformer` (gofast/transformers/ts.py:453). */
  def movingAverage(df: DataFrame, valueCol: String, window: Int,
                    partitionCols: Seq[String], orderCols: Seq[Column],
                    outName: String): DataFrame = {
    val w = ordered(partitionCols, orderCols).rowsBetween(-(window - 1), 0)
    df.withColumn(outName,
      sum(col(valueCol).cast("decimal(18,6)")).over(w).cast("double") /
        count(col(valueCol)).over(w))
  }

  /** Running (cumulative) sum, exact decimal.
    * Reference: `CumulativeSumTransformer` (gofast/transformers/ts.py:265),
    * `cumulative_ops` (gofast/stats/utils.py:236). */
  def cumulativeSum(df: DataFrame, valueCol: String, partitionCols: Seq[String],
                    orderCols: Seq[Column], outName: String): DataFrame = {
    val w = ordered(partitionCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outName,
      sum(col(valueCol).cast("decimal(24,6)")).over(w).cast("double"))
  }

  /** Order-d differencing: x − lag(x, d).
    * Reference: `DifferencingTransformer` (gofast/transformers/ts.py:543),
    * `transform_stationarity` (ts_utils.py:3262). */
  def difference(df: DataFrame, valueCol: String, d: Int,
                 partitionCols: Seq[String], orderCols: Seq[Column],
                 outName: String): DataFrame = {
    val w = ordered(partitionCols, orderCols)
    df.withColumn(outName, col(valueCol) - lag(col(valueCol), d).over(w))
  }

  /** rank / dense_rank / percent_rank within a partition.
    * Reference: `rank_data` (gofast/utils/mathext.py:2967). */
  def rankData(df: DataFrame, partitionCols: Seq[String], orderCols: Seq[Column])
      : DataFrame = {
    val w = ordered(partitionCols, orderCols)
    df.withColumn("rank", rank().over(w))
      .withColumn("dense_rank", dense_rank().over(w))
      .withColumn("percent_rank", percent_rank().over(w))
  }

  /** Centered convolution Σ wᵢ·x_{t+i−c}: the Savitzky–Golay /
    * smoothing kernel as a fixed expression tree over lag/lead —
    * codegen'd, no shuffle beyond the window's.
    * Reference: `savgol_filter` (gofast/utils/spatial_utils.py:3937),
    * `smooth1d` (base_utils.py:5221). Rows whose window is incomplete
    * (series edges) yield null, like mode='interp' trimming. */
  def convolve(df: DataFrame, valueCol: String, weights: Seq[Double],
               partitionCols: Seq[String], orderCols: Seq[Column],
               outName: String): DataFrame = {
    require(weights.size % 2 == 1, "need an odd, centered kernel")
    val half = weights.size / 2
    val w = ordered(partitionCols, orderCols)
    val terms = weights.zipWithIndex.map { case (wt, i) =>
      val off = i - half
      val x = if (off < 0) lag(col(valueCol), -off).over(w)
              else if (off > 0) lead(col(valueCol), off).over(w)
              else col(valueCol)
      lit(wt) * x
    }
    df.withColumn(outName, terms.reduce(_ + _))
  }

  /** Trailing rolling sample std over `window` rows, from exact decimal
    * frame sums (deterministic under any window algorithm).
    * Reference: rolling std in `ts_engineering` (ts_utils.py:2482). */
  def rollingStd(df: DataFrame, valueCol: String, window: Int,
                 partitionCols: Seq[String], orderCols: Seq[Column],
                 outName: String): DataFrame = {
    val w = ordered(partitionCols, orderCols).rowsBetween(-(window - 1), 0)
    val c = col(valueCol)
    val n = count(c).over(w).cast("double")
    val s = sum(c.cast("decimal(12,3)")).over(w).cast("double")
    // 3-dp value quantization keeps the squared frame sums inside the
    // 2^53 cast-exact range: the statistic is then bit-exact across
    // engines with NO final rounding (semantics: std of 3-dp values).
    val q = sum((c.cast("decimal(12,3)") * c.cast("decimal(12,3)")).cast("decimal(26,6)"))
      .over(w).cast("double")
    df.withColumn(outName,
      when(n > 1, sqrt((q - s * s / n) / (n - 1))).otherwise(lit(null)))
  }

  /** Average rank (pandas `rank(method='average')`): rank + (ties−1)/2,
    * via the count-over-identical-keys trick — no extra shuffle beyond
    * the window's. */
  def averageRank(df: DataFrame, partitionCols: Seq[String], valueCol: String,
                  outName: String = "avg_rank"): DataFrame =
    distributedAvgRank(df, partitionCols, valueCol, outName)

  /** 2×average-rank per distinct value from a pre-aggregated count
    * table — the distributed order-statistics kernel.
    *
    * Input: one row per (partitionCols..., `_v`, `_cv`) where `_cv` is
    * the value's multiplicity. Output adds `_r2` = 2·averageRank =
    * 2·(rows before v) + cv + 1, an exact bigint (no .5 ranks, no
    * doubles until the caller divides).
    *
    * Plan shape: per-group min/max → `buckets` equal-width ranges
    * (`width_bucket` is monotone, so bucket order == value order and
    * ties share a bucket) → per-bucket count sums → running offsets
    * over ≤`buckets` rows per group (tiny window, broadcast back) →
    * cumulative counts WITHIN each (group, bucket) — parallel across
    * group×bucket partitions. A plain ordered window per group funnels
    * each group through ONE task — the 100 TB killer when groups are
    * few or skewed; here every sort is 1/`buckets` the size. */
  def rank2OfCounts(pv: DataFrame, partitionCols: Seq[String],
                    buckets: Int = 256): DataFrame = {
    val g = partitionCols.map(col)
    val v = col("_v")
    val bounds = pv.groupBy(g: _*)
      .agg(min(v.cast("double")).as("_lo"), max(v.cast("double")).as("_hi"))
    val withBounds =
      if (partitionCols.isEmpty) pv.crossJoin(broadcast(bounds))
      else pv.join(broadcast(bounds), partitionCols)
    val bucket = when(v.isNull, lit(0))
      .when(col("_hi") <= col("_lo"), lit(1))
      .otherwise(least(
        width_bucket(v.cast("double"), col("_lo"), col("_hi"), lit(buckets)),
        lit(buckets)))
    val bucketed = withBounds.withColumn("_bk", bucket).drop("_lo", "_hi")
    val keyCols = partitionCols :+ "_bk"
    val bucketCounts = bucketed.groupBy(keyCols.map(col): _*)
      .agg(sum("_cv").as("_c"))
    val wOff = Window.partitionBy(g: _*).orderBy(col("_bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketCounts
      .withColumn("_off", coalesce(sum("_c").over(wOff), lit(0L)))
      .drop("_c")
    val wLocal = Window.partitionBy(keyCols.map(col): _*).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), keyCols)
      .withColumn("_before", col("_off") + coalesce(sum("_cv").over(wLocal), lit(0L)))
      .withColumn("_r2", lit(2L) * col("_before") + col("_cv") + lit(1L))
      .drop("_bk", "_off")
  }

  /** Per-distinct-value 2×average-rank map for a raw column:
    * (partitionCols..., `_v`, `_cv`, `_r2`). One count shuffle +
    * the [[rank2OfCounts]] kernel. */
  def rank2ByValue(df: DataFrame, partitionCols: Seq[String],
                   valueCol: String, buckets: Int = 256): DataFrame = {
    val pv = df
      .groupBy((partitionCols.map(col) :+ col(valueCol).as("_v")): _*)
      .agg(count(lit(1)).as("_cv"))
    rank2OfCounts(pv, partitionCols, buckets)
  }

  /** Per-row 2×average-rank attached directly to the rows — the
    * two-phase bucket kernel of [[rank2OfCounts]] applied to the row
    * set itself, so near-unique value domains (where the distinct-value
    * count table is as big as the data) don't pay a groupBy + join-back
    * shuffle pair on (group, value).
    *
    * Plan shape: per-group min/max (tiny agg, broadcast) assigns each
    * row a `width_bucket` (monotone, so bucket order == value order and
    * ties share a bucket) → per-bucket row counts → running offsets
    * over ≤`buckets` rows per group (tiny window, broadcast back) →
    * ONE window over (group, bucket) yielding both `rank()` (min rank
    * among ties) and a RANGE-frame `count()` (rows with value ≤ v);
    * 2·avgRank = 2·offset + rank + cntLE, an exact bigint. Rows with a
    * null value keep a null rank (pandas `na_option='keep'`): they land
    * in a null bucket that no offset row matches.
    *
    * Scale constraint: `bounds` (#groups rows) and `offsets`
    * (#groups × ≤`buckets` rows) are BROADCAST — correct only while
    * #groups × buckets stays well under the broadcast limit (~10M rows
    * at default 8 GB/row budget; fine for the usual few-to-thousands of
    * groups). For high-cardinality partition keys drop the
    * [[org.apache.spark.sql.functions.broadcast]] hints (Catalyst/AQE
    * then picks a shuffled hash join on the same keys; the plan stays
    * two-phase and exact, just pays the join shuffle).
    *
    * The input is read three times in the one plan (bounds, bucket
    * counts, the ranked join). An input ending in a shuffle is shared
    * by exchange reuse, and a bare column-pruned scan is cheaper to
    * re-read than to copy (r19, spearman), so nothing is cut here; a
    * caller whose input is costly row-local work cuts it with
    * [[graft.core.Cut]]. */
  def rank2Rows(df: DataFrame, partitionCols: Seq[String], valueCol: String,
                outName: String, buckets: Int = 256,
                tieCountCol: Option[String] = None): DataFrame = {
    val g = partitionCols.map(col)
    val v = col(valueCol)
    val bounds = df.filter(v.isNotNull).groupBy(g: _*)
      .agg(min(v.cast("double")).as("_lo"), max(v.cast("double")).as("_hi"))
    val withBounds =
      if (partitionCols.isEmpty) df.crossJoin(broadcast(bounds))
      else df.join(broadcast(bounds), partitionCols, "left")
    val bucket = when(v.isNull, lit(null))
      .when(col("_hi") <= col("_lo"), lit(1))
      .otherwise(least(
        width_bucket(v.cast("double"), col("_lo"), col("_hi"), lit(buckets)),
        lit(buckets)))
    val bucketed = withBounds.withColumn("_bk", bucket).drop("_lo", "_hi")
    val keyCols = partitionCols :+ "_bk"
    val bucketCounts = bucketed.filter(col("_bk").isNotNull)
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_c"))
    val wOff = Window.partitionBy(g: _*).orderBy(col("_bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketCounts
      .withColumn("_off", coalesce(sum("_c").over(wOff), lit(0L)))
      .drop("_c")
    val wLocal = Window.partitionBy(keyCols.map(col): _*).orderBy(v)
    val cntLE = count(lit(1))
      .over(wLocal.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    val withRank = bucketed.join(broadcast(offsets), keyCols, "left")
      .withColumn(outName,
        when(v.isNull, lit(null))
          .otherwise(lit(2L) * col("_off") + rank().over(wLocal) + cntLE))
    // tie multiplicity of the row's value (cv = cntLE − rank + 1), from
    // the same window — lets callers fold tie corrections Σ(cv³−cv) as
    // Σ_rows(cv²−1) without a distinct-value aggregation
    tieCountCol.fold(withRank.drop("_bk", "_off")) { cvName =>
      withRank.withColumn(cvName,
          when(v.isNull, lit(null))
            .otherwise(cntLE - rank().over(wLocal) + lit(1L)))
        .drop("_bk", "_off")
    }
  }

  /** Exact average rank (pandas `rank(method='average')`): per-row
    * [[rank2Rows]] halved — no single-task per-group sort, no
    * distinct-value join-back. Rows with a null value get a null rank
    * (pandas `na_option='keep'`). */
  def distributedAvgRank(df: DataFrame, partitionCols: Seq[String],
                         valueCol: String, outName: String = "avg_rank",
                         buckets: Int = 256): DataFrame =
    rank2Rows(df, partitionCols, valueCol, "_r2x", buckets)
      .withColumn(outName, col("_r2x").cast("double") / 2.0)
      .drop("_r2x")

  /** CUSUM drift detection per series (Page 1954): the running sum of
    * deviations from the series mean, flagged where |CUSUM| exceeds
    * `threshold · σ` — the classic changepoint/drift monitor. All
    * sufficient statistics are DECIMAL-exact for 2-dp inputs (sum,
    * sum of squares, ordered prefix sum), so mean, σ and every CUSUM
    * value derive deterministically — no aggregation-order rounding
    * anywhere before the final round-6. Output adds (cusum, drift) to
    * the ordered input rows; single-row series have σ = 0 and never
    * flag. */
  def cusumFlags(df: DataFrame, partitionCols: Seq[String],
                 valueCol: String, orderCol: String,
                 tieCols: Seq[String] = Nil,
                 threshold: Double = 5.0): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val money = org.apache.spark.sql.types.DecimalType(18, 2)
    val money2 = org.apache.spark.sql.types.DecimalType(28, 4)
    val v = col(valueCol)
    val stats = df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("_n"),
        sum(v.cast(money)).as("_s"),
        sum(v.cast(money) * v.cast(money)).cast(money2).as("_q"))
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy((orderCol +: tieCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val prefixed = df
      .withColumn("_ps", sum(v.cast(money)).over(w))
      .withColumn("_k", count(lit(1)).over(w))
      .join(stats, partitionCols)
    val mean = col("_s").cast("double") / col("_n").cast("double")
    val sigma = sqrt(
      (col("_q").cast("double") -
        col("_s").cast("double") * col("_s").cast("double") /
          col("_n").cast("double")) /
      (col("_n").cast("double") - lit(1.0)))
    val cusum = col("_ps").cast("double") - col("_k").cast("double") * mean
    // cusum is the exact rational (P·n − k·S)/(100·n) with P, S the
    // prefix/total sums in CENTS — so its round-6 is computed in
    // INTEGER micro-units (the chrF convention): a double round
    // differs across engines when the ×10⁶ multiply lands on a .5.
    // Long headroom: |P·n|·2e6 needs < 2^63 — fine to ~10^12 cents
    // per series; beyond that lift these four columns to DECIMAL.
    prefixed
      .withColumn("_a",
        (col("_ps") * lit(100)).cast("long") * col("_n") -
          col("_k") * (col("_s") * lit(100)).cast("long"))
      .withColumn("_bd", lit(100L) * col("_n"))
      .withColumn("_micro", expr(
        """CASE WHEN _a >= 0 THEN (_a * 2000000 + _bd) DIV (2 * _bd)
          |ELSE -((-_a * 2000000 + _bd) DIV (2 * _bd)) END""".stripMargin))
      .withColumn("cusum", col("_micro").cast("double") / lit(1000000.0))
      .withColumn("drift",
        when(col("_n") > 1, abs(cusum) > lit(threshold) * sigma)
          .otherwise(lit(false)))
      .drop("_ps", "_k", "_n", "_s", "_q", "_a", "_bd", "_micro")
  }

  /** Maximum drawdown per series — the peak-to-trough loss fraction
    * of an ordered value series (the makeWalk price-path consumer,
    * and the standard risk statistic the reference's financial
    * simulators feed): per partition, running peak via a cumulative
    * max window, drawdown `(peak − v)/peak`, then one keyed
    * aggregation. Output: (partitionCols..., n_obs, peak,
    * max_drawdown). Peaks at or below zero contribute NULL drawdown
    * (the ratio is undefined for non-positive prices), and a series
    * whose every peak is non-positive reports NULL. Ordering ties
    * break on the extra `tieCols` for determinism. */
  def maxDrawdown(df: DataFrame, partitionCols: Seq[String],
                  valueCol: String, orderCol: String,
                  tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy((orderCol +: tieCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val v = col(valueCol).cast("double")
    df.withColumn("_peak", max(v).over(w))
      .withColumn("_dd",
        when(col("_peak") > 0, (col("_peak") - v) / col("_peak")))
      .groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        round(max(col("_peak")), 6).as("peak"),
        round(max(col("_dd")), 6).as("max_drawdown"))
  }
}
