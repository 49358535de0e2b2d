package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact, Tables => T}
import graft.rel._

/** Driver-contract entries for the relational operators (SURVEY §2.2,
  * §2.3, §2.6, §2.7, §2.8). Every query has a total ORDER BY and
  * deterministic (decimal-derived) doubles so the DuckDB hash-compare
  * is exact.
  */
object RelEntries extends Entries {

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 filter_df / Data.filter(condition) — expr-predicate filter.
    "filter_expr" -> ((s, dir) => {
      Filters.filterExpr(T.lineitem(s, dir),
          "l_quantity > 45 AND l_discount <= 0.02")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.2 group_and_filter — isin + conditions + sort.
    "isin_filter" -> ((s, dir) => {
      Filters.groupAndFilter(T.orders(s, dir), "o_orderpriority",
          Seq("1-URGENT", "2-HIGH"),
          conditions = Seq(col("o_totalprice") > 200000.0),
          sortBy = Seq(col("o_orderkey")))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    }),

    // §2.2/§2.3 filter_by_isin — left-semi.
    "semi_join" -> ((s, dir) => {
      Joins.semiJoin(T.customer(s, dir), T.orders(s, dir), "c_custkey", "o_custkey")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // §2.2/§2.3 filter_by_isin(invert) — left-anti: customers with no
    // big-ticket order.
    "anti_join" -> ((s, dir) => {
      Joins.antiJoin(T.customer(s, dir),
          T.orders(s, dir).filter(col("o_totalprice") > 450000.0),
          "c_custkey", "o_custkey")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // §2.3 merge_datasets — n-ary equi-join + agg; dims broadcast.
    "merge_datasets" -> ((s, dir) => {
      val facts = Joins.mergeDatasets(
        Seq(T.lineitem(s, dir),
            T.orders(s, dir).withColumnRenamed("o_orderkey", "l_orderkey")),
        on = Seq("l_orderkey"))
      Joins.mergeDatasets(
          Seq(facts,
              T.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey")),
          on = Seq("o_custkey"), broadcastSmall = Set(1))
        .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("order_year"))
        .agg(Exact.dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
               .as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment", "order_year")
    }),

    // §2.3 as-of join (truncate_data/dual_merge nearest-before semantics):
    // each click matched to the user's latest view at or before it.
    "asof_join" -> ((s, dir) => {
      val ev = T.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value").as("view_value"))
      Joins.asofJoin(clicks, views, "user_id", "ts", Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"), col("view_value"))
        .orderBy("event_id")
    }),

    // §2.8 to_wide — pivot orders to year × priority revenue.
    // §2.8 melt_q_data (q_utils.py:229): quantile-encoded wide columns
    // (pred_q0.25…) to long (q, pred) rows.
    "melt_q" -> ((s, dir) => {
      val q = col("l_quantity").cast("double")
      val wide = T.lineitem(s, dir).groupBy("l_returnflag").agg(
        percentile(q, lit(0.25)).as("pred_q0.25"),
        percentile(q, lit(0.5)).as("pred_q0.5"),
        percentile(q, lit(0.75)).as("pred_q0.75"))
      Reshape.meltQ(wide, Seq("l_returnflag"), "pred")
        .orderBy("l_returnflag", "q")
    }),

    // §2.8 pivot_q_data (q_utils.py:532): meltQ ∘ pivotQ round-trip
    // back to the wide quantile-column convention.
    "pivot_q" -> ((s, dir) => {
      val q = col("l_quantity").cast("double")
      val wide = T.lineitem(s, dir).groupBy("l_returnflag").agg(
        percentile(q, lit(0.25)).as("pred_q0.25"),
        percentile(q, lit(0.5)).as("pred_q0.5"),
        percentile(q, lit(0.75)).as("pred_q0.75"))
      Reshape.pivotQ(Reshape.meltQ(wide, Seq("l_returnflag"), "pred"),
          Seq("l_returnflag"), "pred", Seq(0.25, 0.5, 0.75))
        .orderBy("l_returnflag")
    }),

    "pivot_wide" -> ((s, dir) => {
      Reshape.toWide(T.orders(s, dir).withColumn("order_year", year(col("o_orderdate"))),
          idCols = Seq("order_year"), pivotCol = "o_orderpriority",
          agg = Exact.dsum(col("o_totalprice")), pivotValues = priorities)
        .orderBy("order_year")
    }),

    // §2.8 to_long — pivot∘unpivot round-trip collapses to plain GROUP BY.
    "pivot_roundtrip" -> ((s, dir) => {
      val wide = Reshape.toWide(
        T.orders(s, dir).withColumn("order_year", year(col("o_orderdate"))),
        idCols = Seq("order_year"), pivotCol = "o_orderpriority",
        agg = Exact.dsum(col("o_totalprice")), pivotValues = priorities)
      Reshape.toLong(wide, idCols = Seq("order_year"), valueCols = priorities,
          varName = "o_orderpriority", valName = "total")
        .orderBy("order_year", "o_orderpriority")
    }),

    // §2.7 compute_set_operation(union) on nation-key value sets.
    "union_values" -> ((s, dir) => {
      SetOps.unionValues(T.customer(s, dir), "c_nationkey",
          T.supplier(s, dir), "s_nationkey", "nationkey")
        .orderBy("nationkey")
    }),

    // §2.7 find_intersection.
    "intersect_values" -> ((s, dir) => {
      SetOps.intersectValues(T.customer(s, dir), "c_nationkey",
          T.supplier(s, dir), "s_nationkey", "nationkey")
        .orderBy("nationkey")
    }),

    // §2.7 find_unique_elements (difference): order statuses never seen
    // as a lineitem linestatus ({F,O,P} \ {F,O} = {P}).
    // §2.7 generate_comparison (data_utils.py:647): row-level diff of
    // two datasets — removed keys, added keys, changed values.
    "frame_diff" -> ((s, dir) => {
      val base = T.customer(s, dir)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val b = base.filter(col("c_custkey") % 7 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 5 === 0, -col("c_acctbal"))
            .otherwise(col("c_acctbal")))
        .unionByName(base.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000))
      SetOps.compareFrames(base, b, Seq("c_custkey"),
          Seq("c_acctbal", "c_mktsegment"))
        .orderBy("c_custkey")
    }),

    "except_values" -> ((s, dir) => {
      SetOps.exceptValues(T.orders(s, dir), "o_orderstatus",
          T.lineitem(s, dir), "l_linestatus", "status")
        .orderBy("status")
    }),

    // §2.2 sanitize row-dedup — distinct projection.
    "dedup_rows" -> ((s, dir) => {
      T.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).as("ship_year"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "ship_year")
    }),

    // §2.6 top-k per group (geo nsmallest pattern).
    "topk_per_group" -> ((s, dir) => {
      Sampling.topKPerGroup(T.orders(s, dir), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rk")
    }),

    // §2.6 split_train_test_by_id — deterministic modulo split.
    "split_by_id" -> ((s, dir) => {
      Sampling.splitByIdMod(T.orders(s, dir), "o_orderkey", keep = 4, outOf = 5)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_train"))
        .orderBy("o_orderpriority")
    }),

    // §2.2 mask_by_reference — conditional overwrite.
    "mask_by_reference" -> ((s, dir) => {
      Filters.maskByReference(T.orders(s, dir), "o_orderpriority", "5-LOW",
          targets = Seq("o_totalprice"), fill = 0.0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // §2.8 repeat_feature_accross — explode over a sequence.
    "repeat_across" -> ((s, dir) => {
      Reshape.repeatAcross(T.region(s, dir), "n", 1, 3)
        .select("r_regionkey", "r_name", "n")
        .orderBy("r_regionkey", "n")
    }),

    // §2.8/§2.9 to_categories — equal-width binning to labels.
    "to_categories" -> ((s, dir) => {
      Reshape.toCategories(T.orders(s, dir), "o_totalprice",
          lo = 0.0, hi = 400000.0, nBins = 4,
          labels = Seq("low", "mid", "high", "top"), outCol = "price_band")
        .groupBy("price_band").agg(count(lit(1)).as("n"))
        .orderBy("price_band")
    }),

    // §2.2 filter_by_period — month-granularity membership.
    "filter_by_period" -> ((s, dir) => {
      Filters.filterByPeriod(T.events(s, dir), "ts", "month",
          Seq("2024-01-01 00:00:00", "2024-03-01 00:00:00"))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    })
  )

  private val pivotCases = priorities.map(p =>
    s"""CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "$p"""")
    .mkString(",\n  ")

  val oracleSql: Map[String, String] = Map(
    "filter_expr" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount <= 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "isin_filter" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_totalprice > 200000
        |ORDER BY o_orderkey""".stripMargin,

    "semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "merge_datasets" ->
      """SELECT c_mktsegment, CAST(YEAR(o_orderdate) AS INT) AS order_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type='click'),
        |views AS (SELECT user_id, ts, value AS view_value FROM events WHERE event_type='view')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS click_us, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,

    "melt_q" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) q25,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) q50,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) q75
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(0.25 AS DOUBLE) AS q, q25 AS pred FROM w
        |UNION ALL SELECT l_returnflag, CAST(0.5 AS DOUBLE), q50 FROM w
        |UNION ALL SELECT l_returnflag, CAST(0.75 AS DOUBLE), q75 FROM w
        |ORDER BY l_returnflag, q""".stripMargin,

    "pivot_q" ->
      """SELECT l_returnflag,
        |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS "pred_q0.25",
        |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS "pred_q0.5",
        |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS "pred_q0.75"
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "pivot_wide" ->
      s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
        |  $pivotCases
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "pivot_roundtrip" ->
      """SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "union_values" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,

    "intersect_values" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT DISTINCT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "frame_diff" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |b AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN -c_acctbal ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM base WHERE c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 7 = 0)
        |SELECT COALESCE(base.c_custkey, b.c_custkey) AS c_custkey,
        |  base.c_acctbal AS c_acctbal_a, base.c_mktsegment AS c_mktsegment_a,
        |  b.c_acctbal AS c_acctbal_b, b.c_mktsegment AS c_mktsegment_b,
        |  CASE WHEN base.c_custkey IS NULL THEN 'only_b'
        |       WHEN b.c_custkey IS NULL THEN 'only_a'
        |       WHEN base.c_acctbal IS NOT DISTINCT FROM b.c_acctbal
        |        AND base.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment THEN 'same'
        |       ELSE 'diff' END AS status
        |FROM base FULL OUTER JOIN b ON base.c_custkey = b.c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "except_values" ->
      """SELECT DISTINCT o_orderstatus AS status FROM orders
        |EXCEPT SELECT DISTINCT l_linestatus FROM lineitem
        |ORDER BY status""".stripMargin,

    "dedup_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus,
        |  CAST(YEAR(l_shipdate) AS INT) AS ship_year
        |FROM lineitem ORDER BY 1, 2, 3""".stripMargin,

    "topk_per_group" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin,

    "split_by_id" ->
      """SELECT o_orderpriority, COUNT(*) AS n_train FROM orders
        |WHERE o_orderkey % 5 < 4 GROUP BY 1 ORDER BY 1""".stripMargin,

    "mask_by_reference" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderpriority = '5-LOW' THEN 0.0 ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "repeat_across" ->
      """SELECT r_regionkey, r_name, CAST(g.n AS INT) AS n
        |FROM region, generate_series(1, 3) AS g(n)
        |ORDER BY r_regionkey, n""".stripMargin,

    "to_categories" ->
      """SELECT CASE LEAST(GREATEST(CAST(FLOOR(o_totalprice / 100000.0) AS INT), 0), 3)
        |    WHEN 0 THEN 'low' WHEN 1 THEN 'mid' WHEN 2 THEN 'high' ELSE 'top' END AS price_band,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "filter_by_period" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE strftime(date_trunc('month', ts), '%Y-%m-%d %H:%M:%S')
        |  IN ('2024-01-01 00:00:00', '2024-03-01 00:00:00')
        |ORDER BY event_id""".stripMargin
  )
}
