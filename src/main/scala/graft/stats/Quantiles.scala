package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed EXACT quantiles by order statistics.
  *
  * Spark's exact `percentile` aggregate merges a value→count map into
  * ONE buffer — a single-task sort and an OOM at 100 TB. Here the
  * order statistic is located with the bucketed rank kernel
  * ([[graft.ts.Windows.rank2OfCounts]]): per-distinct-value counts →
  * bucketed cumulative positions (parallel across value buckets) → the
  * two values straddling position p·(n−1) are picked by a broadcast
  * join of the tiny (group × percentile) target table → linear
  * interpolation as DuckDB's `quantile_cont` evaluates it
  * (`lower·(1 − d) + upper·d`, d = pos − ⌊pos⌋), so results are
  * bit-identical to it. Spark's `percentile` evaluates
  * `lower + d·(upper − lower)`, which differs in the last ulp (0.1 and
  * 0.7 at p 0.3: 0.27999999999999997 vs 0.28).
  *
  * Reference: `quartiles`/`quantile` (gofast/stats/descriptive.py:1084,
  * :1232) and every fence-based operator built on them.
  */
object Quantiles {

  /** One row per (partitionCols…, p, value). Nulls are excluded, as in
    * the built-in aggregate. */
  def exactPercentilesByGroup(df: DataFrame, partitionCols: Seq[String],
                              valueCol: String, ps: Seq[Double],
                              buckets: Int = 256): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    val g = partitionCols.map(col)
    // no cut: the count table feeds the rank kernel's three
    // traversals AND `totals`, all in one plan, so they share its one
    // exchange. NOT Spread.scan (measured r19): repartitioning the raw
    // rows before the groupBy regressed quantiles_exact 1.2→2.0 s min
    // — the round-robin shuffle of every row costs more than the
    // 3-task map-side hash-agg it parallelizes.
    val pv = df.filter(col(valueCol).isNotNull)
      .groupBy(g :+ col(valueCol).cast("double").as("_v"): _*)
      .agg(count(lit(1)).as("_cv"))
    val ranked = graft.ts.Windows.rank2OfCounts(pv, partitionCols, buckets)
    val totals = pv.groupBy(g: _*).agg(sum("_cv").as("_n"))
    val targets = totals
      .select(g :+ explode(array(ps.map(lit): _*)).as("_p") :+ col("_n"): _*)
      .withColumn("_pos", col("_p") * (col("_n") - 1).cast("double"))
      .withColumn("_loidx", floor(col("_pos")).cast("long"))
      .withColumn("_hiidx", ceil(col("_pos")).cast("long"))
      .withColumnsRenamed(partitionCols.map(c => c -> s"_t_$c").toMap)
    val sameGroup = partitionCols
      .map(c => col(c) === col(s"_t_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    def contains(idx: String) =
      col("_before") <= col(idx) && col(idx) < col("_before") + col("_cv")
    // one broadcast join picks both straddling values; each target row
    // matches at most two count rows, and min(when(...)) collapses them
    ranked.join(broadcast(targets),
        sameGroup && (contains("_loidx") || contains("_hiidx")))
      .groupBy(g :+ col("_p"): _*)
      .agg(first("_pos").as("_pos"),
           min(when(contains("_loidx"), col("_v"))).as("_vlo"),
           min(when(contains("_hiidx"), col("_v"))).as("_vhi"))
      .withColumn("_d", col("_pos") - floor(col("_pos")))
      .withColumn("value", when(col("_d") === 0.0, col("_vlo")).otherwise(
        col("_vlo") * (lit(1.0) - col("_d")) + col("_vhi") * col("_d")))
      .select(g ++ Seq(col("_p").as("p"), col("value")): _*)
  }

  /** Whole-table percentiles collected to the driver — the
    * rounded-scalar pattern for fence/clip operators. Returned in the
    * order of `ps`. */
  def exactPercentiles(df: DataFrame, valueCol: String, ps: Seq[Double])
      : Seq[Double] = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = exactPercentilesByGroup(df, Seq.empty, valueCol, ps)
      .select("p", "value").as[(Double, Double)].collect().toMap
    ps.map(m)
  }
}
