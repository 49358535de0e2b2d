package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.clean.{Duplicates, Missing, Outliers, Extras}
import graft.core.{Exact, Tables => T}

/** Registry queries for cleaning operators (SURVEY §2.9 missing /
  * outliers, §2.4 duplicates). Nulls are derived deterministically
  * (`nullif`-style) since the testdata has none.
  */
object CleanEntries extends Entries {

  /** events with `value` nulled on error rows — the shared fixture for
    * null-handling entries; both engines derive identical nulls. */
  private def eventsNulled(s: SparkSession, dir: String): DataFrame =
    T.events(s, dir).withColumn("value_n",
      when(col("event_type") === "error", lit(null)).otherwise(col("value")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.9 check_missing_data (quality.py:1127): per-column null report.
    "missing_report" -> ((s, dir) => {
      Missing.missingReport(
          eventsNulled(s, dir).select(col("value_n"), col("props")),
          Seq("value_n", "props"))
        .orderBy("column")
    }),

    // §2.9 handle_missing_data(drop_rows): count survivors per type.
    "drop_nulls" -> ((s, dir) => {
      Missing.dropNulls(eventsNulled(s, dir), Seq("value_n"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // §2.9 handle_nans(fill_value): constant fill keeps 2-dp exactness.
    "fill_const" -> ((s, dir) => {
      val filled = Missing.fillConst(
        T.lineitem(s, dir).withColumn("qty_n",
          when(col("l_linenumber") === 3, lit(null)).otherwise(col("l_quantity"))),
        Map("qty_n" -> 25.0))
      filled.groupBy("l_returnflag")
        .agg(Exact.dsum(col("qty_n")).as("sum_qty_filled"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // §2.5/§2.9 fill_NaN ffill (base_utils.py:1513): partitioned window.
    "ffill" -> ((s, dir) => {
      Missing.ffill(eventsNulled(s, dir), "value_n",
          partitionCols = Seq("user_id"),
          orderCols = Seq(col("ts"), col("event_id")), outName = "value_f")
        .select("event_id", "value_f")
        .orderBy("event_id")
    }),

    // §2.5/§2.9 fill_NaN bfill — mirrored window.
    "bfill" -> ((s, dir) => {
      Missing.bfill(eventsNulled(s, dir), "value_n",
          partitionCols = Seq("user_id"),
          orderCols = Seq(col("ts"), col("event_id")), outName = "value_b")
        .select("event_id", "value_b")
        .orderBy("event_id")
    }),

    // §2.9 handle_outliers_in(clip) (quality.py:615): IQR-fence clip.
    // Fence bounds are exact quantiles; clipped output stays 2-dp.
    "outlier_clip" -> ((s, dir) => {
      val cust = T.customer(s, dir)
      val (lo, hi) = Outliers.iqrBounds(cust, "c_acctbal", k = 0.5)
      Outliers.clip(cust, "c_acctbal", lo, hi)
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // §2.9 handle_outliers_in(remove): IQR-fence removal, count survivors.
    "outlier_remove" -> ((s, dir) => {
      val cust = T.customer(s, dir)
      val (lo, hi) = Outliers.iqrBounds(cust, "c_acctbal", k = 0.5)
      Outliers.remove(cust, "c_acctbal", lo, hi)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_kept"))
        .orderBy("c_mktsegment")
    }),

    // §2.4 handle_duplicates(return_counts) (quality.py:4677).
    "dup_report" -> ((s, dir) => {
      Duplicates.report(T.lineitem(s, dir), Seq("l_orderkey"))
        .orderBy("l_orderkey")
    }),

    // §2.4 handle_unique_identifiers (management.py:41): exact
    // distinct-ratio per column (the prune rule's input).
    "cardinality_report" -> ((s, dir) => {
      val ord = T.orders(s, dir)
      val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority")
      val aggs = cols.map(c =>
        (count_distinct(col(c)).cast("double") / count(lit(1))).as(c))
      val r = ord.agg(aggs.head, aggs.tail: _*).head()
      import s.implicits._
      cols.zipWithIndex.map { case (c, i) => (c, r.getDouble(i)) }
        .toDF("column", "distinct_ratio")
        .orderBy("column")
    }),

    // §2.9 get_threshold_from (otsu) (gofast/utils/mathext.py:156) as a
    // fully distributed plan — argmax of between-class variance over a
    // 32-bin histogram of l_extendedprice.
    "otsu" -> ((s, dir) => {
      Extras.otsuThresholdDf(T.lineitem(s, dir), "l_extendedprice", bins = 32)
    }),

    // clean.Extras.fillMode: nulls take the column's deterministic
    // mode (most frequent, smallest value on ties).
    "fill_mode" -> ((s, dir) => {
      val withNulls = T.customer(s, dir)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 0, lit(null))
            .otherwise(col("c_mktsegment")).as("seg"))
      graft.clean.Extras.fillMode(withNulls, "seg")
        .orderBy("c_custkey")
    }),

    // Extras.numericToCategorical (was ScalaTest-only): low-cardinality
    // numeric columns become strings. On nation, n_regionkey (5
    // distinct) casts, n_nationkey (25 distinct) stays numeric — both
    // cardinalities sit far from the maxDistinct=10 line, so the HLL
    // estimate (deterministic for fixed data) cannot flip the decision.
    "num_to_cat" -> ((s, dir) => {
      graft.clean.Extras.numericToCategorical(T.nation(s, dir),
          maxDistinct = 10)
        .orderBy("n_nationkey")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "missing_report" ->
      """SELECT 'props' AS "column", CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS null_ratio
        |FROM events
        |UNION ALL
        |SELECT 'value_n', CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |FROM events
        |ORDER BY "column"""".stripMargin,

    "drop_nulls" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |WHERE event_type != 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "fill_const" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(CASE WHEN l_linenumber = 3 THEN 25.0 ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_filled,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "ffill" ->
      """SELECT event_id,
        |  last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_f
        |FROM events ORDER BY event_id""".stripMargin,

    "bfill" ->
      """SELECT event_id,
        |  first_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value_b
        |FROM events ORDER BY event_id""".stripMargin,

    "outlier_clip" ->
      """WITH b AS (
        |  SELECT quantile_cont(c_acctbal, 0.25) AS q1, quantile_cont(c_acctbal, 0.75) AS q3
        |  FROM customer)
        |SELECT c_custkey,
        |  LEAST(GREATEST(c_acctbal, q1 - 0.5 * (q3 - q1)), q3 + 0.5 * (q3 - q1)) AS c_acctbal
        |FROM customer, b ORDER BY c_custkey""".stripMargin,

    "outlier_remove" ->
      """WITH b AS (
        |  SELECT quantile_cont(c_acctbal, 0.25) AS q1, quantile_cont(c_acctbal, 0.75) AS q3
        |  FROM customer)
        |SELECT c_mktsegment, COUNT(*) AS n_kept
        |FROM customer, b
        |WHERE c_acctbal BETWEEN q1 - 0.5 * (q3 - q1) AND q3 + 0.5 * (q3 - q1)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "dup_report" ->
      """SELECT l_orderkey, COUNT(*) AS n_dup FROM lineitem
        |GROUP BY l_orderkey HAVING COUNT(*) > 1 ORDER BY l_orderkey""".stripMargin,

    "cardinality_report" ->
      """SELECT 'o_custkey' AS "column", CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) / COUNT(*) AS distinct_ratio FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) / COUNT(*) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) / COUNT(*) FROM orders
        |ORDER BY "column"""".stripMargin,

    "otsu" ->
      """WITH b AS (SELECT MIN(l_extendedprice) lo, MAX(l_extendedprice) hi FROM lineitem),
        |h AS (
        |  SELECT CASE WHEN hi <= lo THEN 0 ELSE
        |      LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 32.0)) AS BIGINT), 31) END AS bin,
        |    COUNT(*) AS n, MIN(lo) AS lo, MIN(hi) AS hi
        |  FROM lineitem, b GROUP BY 1),
        |c AS (
        |  SELECT bin, n, lo, hi,
        |    CAST(SUM(n) OVER (ORDER BY bin) AS DOUBLE) AS a0,
        |    CAST(SUM(n * bin) OVER (ORDER BY bin) AS DOUBLE) AS b0,
        |    CAST(SUM(n) OVER () AS DOUBLE) AS att,
        |    CAST(SUM(n * bin) OVER () AS DOUBLE) AS bt,
        |    (hi - lo) / 32.0 AS w
        |  FROM h),
        |e AS (
        |  SELECT bin, lo, hi, w, a0, att,
        |    lo * a0 + w * (b0 + a0 * 0.5) AS s0,
        |    lo * att + w * (bt + att * 0.5) AS st
        |  FROM c)
        |SELECT bin, lo + (bin + 1) * w AS threshold,
        |  a0 * (att - a0) * (s0 / a0 - (st - s0) / (att - a0))
        |               * (s0 / a0 - (st - s0) / (att - a0)) AS between_var
        |FROM e WHERE bin < 31 AND att - a0 > 0
        |ORDER BY between_var DESC, bin ASC LIMIT 1""".stripMargin,

    "fill_mode" ->
      """WITH withnulls AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
        |  FROM customer),
        |m AS (
        |  SELECT seg FROM withnulls WHERE seg IS NOT NULL
        |  GROUP BY seg ORDER BY COUNT(*) DESC, seg ASC LIMIT 1)
        |SELECT c_custkey, COALESCE(w.seg, (SELECT seg FROM m)) AS seg
        |FROM withnulls w
        |ORDER BY c_custkey""".stripMargin,

    "num_to_cat" ->
      """SELECT n_nationkey, n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin
  )

  override val nljAllowed: Set[String] = Set(
    // the fitted Otsu threshold is a 1-row scalar broadcast
    "otsu")

  override val globalWindowAllowed: Set[String] = Set(
    // capped domain: the threshold sweep runs over the 32 histogram
    // bins
    "otsu")
}
