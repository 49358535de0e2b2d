package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact, Tables => T}
import graft.clean.{Duplicates, Missing, Outliers}

/** Driver-contract entries for cleaning operators (SURVEY §2.9 missing/
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
        |ORDER BY "column"""".stripMargin
  )
}
