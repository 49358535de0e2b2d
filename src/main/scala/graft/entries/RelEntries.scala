package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Exact, Tables => T}
import graft.rel._

/** Registry queries for the relational operators (SURVEY §2.2, §2.3,
  * §2.6, §2.7, §2.8) and the other `graft.rel` kernels: joins, reshape,
  * set operations, sampling, spatial, sketches, graph and market
  * baskets. Every query has a total ORDER BY and deterministic
  * (decimal-derived) doubles so the DuckDB hash-compare is exact.
  */
object RelEntries extends Entries {

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val pivotCases = priorities.map(p =>
    s"""CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "$p"""")
    .mkString(",\n  ")

  private def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    T.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(T.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))

  private val edgesCte =
    """e AS (SELECT DISTINCT o.o_custkey AS src,
      |    l.l_suppkey + 1000000 AS dst
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)""".stripMargin

  /** One PageRank iteration k as three chained CTEs over pr{k-1}. */
  private def iterCtes(k: Int): String =
    s"""dm$k AS (SELECT COALESCE(round(SUM(p.pr), 9), 0.0) AS dm
       |  FROM pr${k - 1} p LEFT JOIN outdeg o ON p.id = o.src
       |  WHERE o.src IS NULL),
       |im$k AS (SELECT e.dst AS id, round(SUM(p.pr / o.deg), 9) AS m
       |  FROM e JOIN pr${k - 1} p ON e.src = p.id
       |  JOIN outdeg o ON e.src = o.src
       |  GROUP BY 1),
       |pr$k AS (SELECT nd.id,
       |    round((1.0 - 0.85) / (SELECT n FROM nn)
       |      + 0.85 * (COALESCE(im.m, 0.0)
       |        + (SELECT dm FROM dm$k) / (SELECT n FROM nn)), 9) AS pr
       |  FROM nodes nd LEFT JOIN im$k im ON nd.id = im.id)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 smart_group (transformation.py:663): groupBy + agg + HAVING + sort.
    // TPC-H-Q1 shape on lineitem.
    "smart_group" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      Aggregates.smartGroup(
        li,
        by = Seq("l_returnflag", "l_linestatus"),
        aggs = Seq(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          Exact.davg(col("l_quantity")).as("avg_qty"),
          Exact.davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order")),
        having = Some(count(lit(1)) > 10),
        sortBy = Seq(col("l_returnflag"), col("l_linestatus")))
    }),

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
    }),

    // §2.4 binning_statistic (base_utils.py:4659) with exact-decimal
    // per-bin means.
    "binning_stat" -> ((s, dir) => {
      Aggregates.binningStatistic(T.events(s, dir), "value", "value",
          lo = 0.0, width = 100.0,
          stats = Seq(
            c => sum(c.cast("decimal(18,6)")).cast("double") / count(c),
            c => count(c).cast("double")),
          statNames = Seq("mean_y", "count_y"))
        .orderBy("bin")
    }),

    // §2.4 category_count (base_utils.py:4731).
    "category_count" -> ((s, dir) => {
      Aggregates.categoryCount(T.events(s, dir), "event_type")
        .orderBy("event_type")
    }),

    // §2.4 check_unique_values (quality.py:1568) — exact distincts.
    "unique_stats" -> ((s, dir) => {
      Aggregates.uniqueStats(T.orders(s, dir),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    }),

    // §2.6 replace_data bootstrap replication (data_utils.py:4642).
    "replicate_rows" -> ((s, dir) => {
      Sampling.replicateRows(T.region(s, dir), 3)
        .groupBy("r_regionkey", "r_name").agg(count(lit(1)).as("n"))
        .orderBy("r_regionkey")
    }),

    // §2.3 merge_frames_on_index (quality.py:1060): multiway outer join
    // on a shared key.
    "outer_merge" -> ((s, dir) => {
      val custAgg = T.customer(s, dir).groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val suppAgg = T.supplier(s, dir).groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      val nations = T.nation(s, dir)
        .select(col("n_nationkey").as("nationkey"), col("n_name"))
      Joins.mergeDatasets(Seq(nations, custAgg, suppAgg),
          on = Seq("nationkey"), how = "outer")
        .orderBy("nationkey")
    }),

    // §2.3 pair_data (data_utils.py:3355): tolerance join via rounding.
    "rounded_join" -> ((s, dir) => {
      val cust = T.customer(s, dir).filter(col("c_custkey") < 200)
        .select(col("c_custkey"), col("c_acctbal"))
      val supp = T.supplier(s, dir).select(col("s_suppkey"), col("s_acctbal"))
      Joins.roundedJoin(cust, supp, "c_acctbal", "s_acctbal", decimals = 0)
        .select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")
        .orderBy("c_custkey", "s_suppkey")
    }),

    // §2.3 dual_merge nearest join (spatial_utils.py:2318): closest
    // customer acctbal per supplier within tolerance 1.0.
    "nearest_join" -> ((s, dir) => {
      val supp = T.supplier(s, dir).select(col("s_suppkey"), col("s_acctbal"))
      val cust = T.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
      Joins.nearestJoin(supp, cust, "s_acctbal", "c_acctbal",
          tolerance = 1.0, leftId = "s_suppkey")
        .select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")
        .orderBy("s_suppkey")
    }),

    // §2.2 filter_position/extract_zones (spatial_utils.py:1813) as a
    // 2-D range predicate.
    "box_filter" -> ((s, dir) => {
      Filters.boxFilter(T.events(s, dir), "value", "user_id",
          (100.0, 500.0), (10.0, 60.0))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // §2.4 bootstrap (inferential.py:1713): 200 deterministic
    // hash-resamples of mean(c_acctbal), exact-percentile CI.
    "bootstrap_ci" -> ((s, dir) => {
      Sampling.bootstrapMeanCi(T.customer(s, dir), "c_custkey", "c_acctbal",
        b = 200)
    }),

    // §2.4 uniform_sampling (probs.py:504): deterministic draws from
    // the engine's seeded-RNG-free uniform generator (the same
    // quadratic mixer bootstrapMeanCi samples with — unbiased over the
    // full range, unlike a bare multiplicative hash), binned into
    // deciles and checkable bit-for-bit.
    "uniform_hist" -> ((s, dir) => {
      s.range(10000)
        .select((Sampling.drawIndex(col("id"), 1000000L).cast("double")
          / lit(1000000.0)).as("u"))
        .select(floor(col("u") * 10).cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // §2.3 dual_merge / geo nearest-neighbor (spatial_utils.py:2318,
    // geo/system.py:499): nearest supplier by haversine for the first
    // 100 customers, coordinates synthesized deterministically from the
    // keys (the tables carry no lon/lat).
    "haversine_nn" -> ((s, dir) => {
      val c = T.customer(s, dir).filter(col("c_custkey") < 100)
        .select(col("c_custkey"),
          ((col("c_custkey") % 160).cast("double") - 80.0 + 0.25).as("clat"),
          (((col("c_custkey") * 7) % 340).cast("double") - 170.0 + 0.25).as("clon"))
      val su = T.supplier(s, dir)
        .select(col("s_suppkey"),
          (((col("s_suppkey") * 13) % 160).cast("double") - 80.0 + 0.25).as("slat"),
          (((col("s_suppkey") * 11) % 340).cast("double") - 170.0 + 0.25).as("slon"))
      Spatial.nearestByHaversine(c, su, "c_custkey", "s_suppkey",
          "clat", "clon", "slat", "slon")
        .select("c_custkey", "s_suppkey", "dist_km")
        .orderBy("c_custkey")
    }),

    // §2.2 index_based_selector (gofast/core/array_manager.py:4186):
    // align the orders frame to the key set of a reference customer
    // subset — semi-join on the distinct reference keys.
    "index_align" -> ((s, dir) => {
      val ref = T.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val orders = T.orders(s, dir).withColumnRenamed("o_custkey", "c_custkey")
      val Seq(aligned) =
        Joins.indexBasedSelector(Seq(orders), ref, "c_custkey")
      aligned.select("o_orderkey", "c_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "haversine_nn_full" -> ((s, dir) => {
      val c = T.customer(s, dir)
        .select(col("c_custkey"),
          ((col("c_custkey") % 160).cast("double") - 80.0 + 0.25).as("clat"),
          (((col("c_custkey") * 7) % 340).cast("double") - 170.0 + 0.25).as("clon"))
      val su = T.supplier(s, dir)
        .select(col("s_suppkey"),
          (((col("s_suppkey") * 13) % 160).cast("double") - 80.0 + 0.25).as("slat"),
          (((col("s_suppkey") * 11) % 340).cast("double") - 170.0 + 0.25).as("slon"))
      Spatial.nearestByHaversine(c, su, "c_custkey", "s_suppkey",
          "clat", "clon", "slat", "slon")
        .select("c_custkey", "s_suppkey", "dist_km")
        .orderBy("c_custkey")
    }),

    // salted_sum, bloom_semi and time_split (and fill_mode in
    // CleanEntries) are oracle anchors for operators whose PLANS differ from
    // plain SQL but whose RESULTS must not: each oracle is the
    // straightforward SQL the fancy plan must equal exactly.
    // rel.Skew.saltedDecimalSum: the skew-buster two-phase plan (salt ->
    // partial decimal sums -> final) must equal the plain GROUP BY sum
    // bit-for-bit — exact decimal carriers make the result independent
    // of salt placement and shuffle order.
    "salted_sum" -> ((s, dir) => {
      graft.rel.Skew.saltedDecimalSum(T.lineitem(s, dir),
          Seq("l_returnflag"), "l_extendedprice", salts = 16)
        .orderBy("l_returnflag")
    }),

    // rel.Sketches.bloomSemiJoin: bloom prefilter (no false negatives
    // over the xxhash64 key domain) + exact semi join == plain semi
    // join; the bloom only prunes, never decides.
    "bloom_semi" -> ((s, dir) => {
      val building = T.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      graft.rel.Sketches.bloomSemiJoin(T.orders(s, dir), building,
          "o_custkey", "c_custkey", expectedKeys = 1000L)
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    }),

    // rel.Sampling.timeSplit: the time-ordered train/test boundary is
    // a pure filter (partition-prunes on date layouts).
    "time_split" -> ((s, dir) => {
      graft.rel.Sampling.timeSplit(T.orders(s, dir), "o_orderdate",
          "1998-01-01")
        .select("o_orderkey", "o_orderdate")
        .orderBy("o_orderkey")
    }),

    // rel.SetOps.concatRows: unionByName with allowMissingColumns —
    // each side contributes a column the other lacks (null-filled).
    // Balances go through an exact double cast (cents scaled by 100
    // stay integral well under 2^53) so the union type is engine-stable.
    "concat_rows" -> ((s, dir) => {
      val a = T.customer(s, dir)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("bal"))
        .withColumn("src", lit("a"))
      val b = T.customer(s, dir).filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal").cast("double") * 2).as("bal"))
        .withColumn("src", lit("b"))
      graft.rel.SetOps.concatRows(Seq(a, b))
        .orderBy("c_custkey", "src")
    }),

    // rel.SetOps.elementWise: keyed element-wise op over value columns
    // (here x + x/2, pure IEEE double on both engines).
    "element_wise" -> ((s, dir) => {
      val a = T.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal").cast("double").as("bal"))
      val b = T.customer(s, dir)
        .select(col("c_custkey"), (col("c_acctbal").cast("double") / 2).as("bal"))
      graft.rel.SetOps.elementWise(a, b, Seq("c_custkey"), Seq("bal"),
          (x, y) => x + y)
        .orderBy("c_custkey")
    }),

    // rel.SetOps.compareFrames: full-outer row diff with a status
    // column — keys %11==0 exist only in b, %13==0 only in a, %7==0
    // differ in price, everything else is identical.
    "compare_frames" -> ((s, dir) => {
      val base = T.orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("o_orderstatus"))
      val a = base.filter(col("o_orderkey") % 11 =!= 0)
      val b = base.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
      graft.rel.SetOps.compareFrames(a, b, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // rel.SetOps.symmetricDiffCount: exceptAll-based multiset
    // symmetric difference; the oracle recomputes it independently as
    // sum over keys of |count_a - count_b| — the two formulations must
    // agree exactly.
    "symdiff_count" -> ((s, dir) => {
      import s.implicits._
      val a = T.lineitem(s, dir).filter(col("l_orderkey") % 2 === 0)
        .select("l_partkey")
      val b = T.lineitem(s, dir).filter(col("l_orderkey") % 3 === 0)
        .select("l_partkey")
      Seq(graft.rel.SetOps.symmetricDiffCount(a, b)).toDF("symdiff")
    }),

    // rel.Filters.filterOutliersZ: one sufficient-statistics pass for
    // (mu, sd), one streaming filter pass. Only surviving ROWS are
    // output, so a last-ulp difference in the engines' mu/sd cannot
    // flip the hash unless a cent-granular price sits within an ulp of
    // the bound — deterministically false for this data.
    "filter_z" -> ((s, dir) => {
      val li = T.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice").cast("double").as("price"))
      graft.rel.Filters.filterOutliersZ(li, "price", 1.0)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // rel.Sketches.heavyHittersExact: count-min prefilter (over-
    // estimates only → no false negatives) + exact count of the
    // survivors == plain GROUP BY HAVING, but at scale only candidate-
    // heavy rows enter the shuffle.
    "heavy_hitters_exact" -> ((s, dir) => {
      graft.rel.Sketches.heavyHittersExact(T.lineitem(s, dir), "l_suppkey",
          minCount = 620L)
        .orderBy("l_suppkey")
    }),

    // Filters.filterDf op-code dispatch (was ScalaTest-only): two
    // chained op-codes over lineitem, full predicate-pushdown shape.
    "filter_df_ops" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      graft.rel.Filters.filterDf(
          graft.rel.Filters.filterDf(li, "l_quantity", ">=", 49.0),
          "l_returnflag", "==", "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Filters.popLabels (was fluent-test-only): drop two market
    // segments, NULL-safe NOT IN semantics matter — Spark's
    // !isin drops NULLs like SQL NOT IN; customer.c_mktsegment is
    // non-null in the testdata so both engines agree.
    "pop_labels" -> ((s, dir) => {
      graft.rel.Filters.popLabels(T.customer(s, dir), "c_mktsegment",
          Seq("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Filters.selectFeatures names+regex union (was plan-level-only):
    // explicit name + regex-matched columns, de-duplicated, projection
    // order = names then regex hits.
    "select_features" -> ((s, dir) => {
      graft.rel.Filters.selectFeatures(T.part(s, dir),
          names = Seq("p_partkey"), regex = Some("p_(brand|size)"))
        .orderBy("p_partkey")
    }),

    // rel.Sampling.stratifiedSampleByHash: per-stratum fractions via
    // the portable md5 RNG — the draw is a pure function of row
    // identity, so the sample is stable under repartitioning AND
    // fully oracle-replayable (sampleBy's RNG stream is neither).
    "stratified_hash" -> ((s, dir) => {
      graft.rel.Sampling.stratifiedSampleByHash(T.customer(s, dir),
          "c_custkey", "c_mktsegment",
          Map("BUILDING" -> 0.5, "MACHINERY" -> 0.2, "FURNITURE" -> 0.05),
          seed = 7L)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .orderBy("c_custkey")
    }),

    // rel.Sampling.weightedSampleWithoutReplacement: one-pass A-ES
    // weighted sampling (Efraimidis-Spirakis 2006, key = u^(1/w),
    // top-n by key) — the distributed weighted-draw shape; md5
    // uniforms + round(pow, 9) make it fully oracle-replayable.
    // Weights rise with order size so big orders over-sample.
    "weighted_sample" -> ((s, dir) => {
      val ord = T.orders(s, dir)
        .withColumn("w", (col("o_totalprice") / lit(1000.0)))
      graft.rel.Sampling.weightedSampleWithoutReplacement(ord,
          "o_orderkey", "w", n = 200, seed = 11L)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // rel.Joins.intervalJoin: point-in-interval enrichment as a BANDED
    // equi-join (intervals explode into the 90-min bands they touch,
    // points join on their single band, interval predicate as
    // residual) — never the O(n·m) nested loop the naive non-equi
    // formulation degenerates to. 80 six-hourly 90-min "maintenance
    // windows" generated identically in both engines.
    "interval_join" -> ((s, dir) => {
      val w = s.range(0, 80).select(col("id").as("window_id"),
          expr("timestampadd(HOUR, CAST(id * 6 AS INT), " +
            "TIMESTAMP'2024-01-01 00:00:00')").as("w_start"))
        .withColumn("w_end", expr("timestampadd(MINUTE, 90, w_start)"))
      graft.rel.Joins.intervalJoin(T.events(s, dir), "ts", w,
          "w_start", "w_end", bandSeconds = 5400L)
        .select("event_id", "window_id", "event_type")
        .orderBy("event_id", "window_id")
    }),

    // ---- rows-only entry (sketch internals are engine-specific) ----
    // cardinality at scale: uniqueStats' HLL++ path
    // (approx_count_distinct) on the same columns as the
    // oracle-checked EXACT twin unique_stats. Exact count_distinct is
    // a full shuffle of the distinct values; the HLL sketch is one
    // mergeable pass — the plan that survives 100 TB. Batch32Spec
    // asserts the default-rsd (5%) error bound against the exact
    // counts, the quantiles_approx convention.
    "unique_stats_approx" -> ((s, dir) => {
      graft.rel.Aggregates.uniqueStats(T.orders(s, dir),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"),
        approx = true)
    }),

    // Graph analytics on the purchase graph: customer→supplier edges
    // derived from orders × lineitem, supplier ids offset by 1e6 so the two
    // id spaces cannot collide.
    // 3-iteration damped PageRank, dangling mass redistributed;
    // round-9 per iteration (the LM-ladder convention), round-6 out.
    "page_rank" -> ((s, dir) => {
      Graph.pageRank(purchaseEdges(s, dir), "src", "dst",
          iterations = 3, damping = 0.85)
        .orderBy("id")
    }),

    "graph_degrees" -> ((s, dir) => {
      Graph.degrees(purchaseEdges(s, dir), "src", "dst")
        .orderBy("id")
    }),

    // Supplier co-occurrence within orders: pair support and lift
    // (basket self-join keyed by order, baskets bounded by nature).
    "basket_lift" -> ((s, dir) => {
      graft.rel.Market.pairAssociations(T.lineitem(s, dir),
          "l_orderkey", "l_suppkey", minPairs = 3L)
        .orderBy("item_a", "item_b")
    }),

    // RFM segmentation of customers from their order history.
    "rfm_segments" -> ((s, dir) => {
      graft.rel.Market.rfm(T.orders(s, dir), "o_custkey",
          "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    }),

    // Count-min approximate heavy hitters — the third sketch of the
    // trio (HLL++ unique_stats_approx, GK quantiles_approx): per-
    // partition Misra-Gries candidates, one count-min estimate pass,
    // no exact-count shuffle at all. Rows-only by design (sketch
    // internals are engine-specific); heavy_hitters_exact is the
    // green full-oracle twin and RelSpec asserts the superset +
    // eps*N error bounds. capacity 1024 >= N/minCount at every sf
    // here (600k/620 at sf0.1), so the no-false-negative guarantee
    // holds on this data.
    "heavy_hitters_approx" -> ((s, dir) => {
      graft.rel.Sketches.heavyHittersApprox(T.lineitem(s, dir),
          "l_suppkey", minCount = 620L, capacity = 1024)
        .orderBy("l_suppkey")
    }),

    // Fit/merge/deploy count-min artifact (the daily-append story the
    // one-shot sketches lack): two half-corpus fits merged, the merge
    // law asserted BIT-IDENTICAL to the whole-corpus fit (counter
    // arrays add), then heavy hitters deployed from the merged
    // artifact over Misra-Gries candidates. Rows-only by the
    // shadowed-approximation convention (estimates are
    // engine-specific); heavy_hitters_exact is the green full-oracle
    // twin and SketchArtifactsSpec asserts the superset + eps*N
    // bounds on the artifact path too.
    "heavy_hitters_merge" -> ((s, dir) => {
      import graft.rel.{SketchArtifacts => SA, Sketches}
      val li = T.lineitem(s, dir)
      val halves = Seq(0, 1).map(p =>
        SA.cmsFit(li.filter(col("l_orderkey") % 2 === p), "l_suppkey"))
      val merged = SA.cmsMerge(halves.reduce(_ unionByName _))
      val whole = SA.cmsFit(li, "l_suppkey")
      val Seq(mr, wr) = Seq(merged, whole)
        .map(_.select("n_rows", "sketch").head())
      require(mr.getLong(0) == wr.getLong(0) &&
          java.util.Arrays.equals(mr.getAs[Array[Byte]](1),
            wr.getAs[Array[Byte]](1)),
        "merged half-corpus CMS != whole-corpus CMS (merge law broken)")
      val cands = Sketches.candidateKeys(li, "l_suppkey", 1024)
        .select(col("_k").cast("long").as("l_suppkey"))
      SA.cmsHeavyHitters(merged, cands, "l_suppkey", minCount = 620L)
        .orderBy("l_suppkey")
    }),

    // Fit/merge/deploy HLL artifact: two half-corpus DataSketches HLL
    // fits union-merged, estimate deployed from the artifact with
    // zero corpus touches. The asserted merge law is the standard HLL
    // error bound (3 * 1.04/sqrt(2^12) ~ 4.9%) between the merged and
    // whole-corpus estimates — NOT equality: the union gadget leaves
    // sparse mode earlier than a single-pass fit (measured 1507 vs
    // 1491 at ~1500 true distinct at sf0.01). Rows-only; unique_stats
    // is the green exact twin (Batch32Spec asserts the rsd bound on
    // the same HLL family).
    "unique_stats_merge" -> ((s, dir) => {
      import graft.rel.{SketchArtifacts => SA}
      val o = T.orders(s, dir)
      val halves = Seq(0, 1).map(p =>
        SA.hllFit(o.filter(col("o_orderkey") % 2 === p), "o_custkey"))
      val merged = SA.hllMerge(halves.reduce(_ unionByName _))
      val whole = SA.hllFit(o, "o_custkey")
      val Seq(me, we) = Seq(merged, whole).map(
        SA.hllEstimate(_).select("n_unique_est").head().getLong(0))
      val rse = 3.0 * 1.04 / math.sqrt(1 << 12)
      require(math.abs(me - we) <= rse * math.max(me, we).toDouble,
        s"merged half-corpus HLL estimate $me vs whole-corpus $we " +
          s"breaches the ${rse} relative-error bound")
      SA.hllEstimate(merged)
    }),

    // Fit/merge/deploy GK quantile artifact: per-half Greenwald-
    // Khanna summaries merged, deciles deployed from the artifact.
    // GK merge is NOT bit-identical to a single-pass fit (sample sets
    // are order-dependent) — the asserted law is the eps rank
    // guarantee: every deployed quantile's exact rank lands within
    // 2*eps*N of its target (fit eps + merge eps). Rows-only;
    // quantiles_exact is the green full-oracle twin.
    "quantiles_merge" -> ((s, dir) => {
      import graft.rel.{SketchArtifacts => SA}
      val li = T.lineitem(s, dir)
      val halves = Seq(0, 1).map(p =>
        SA.gkFit(li.filter(col("l_orderkey") % 2 === p), "l_extendedprice",
          relativeError = 1e-4))
      val merged = SA.gkMerge(halves.reduce(_ unionByName _))
      val qs = Seq(0.25, 0.5, 0.75, 0.99)
      val out = SA.gkQuantiles(merged, qs)
      val est = out.head()
      val n = li.count()
      val v = col("l_extendedprice").cast("double")
      val rankAggs = qs.indices.map(i =>
        sum(when(v <= lit(est.getDouble(i)), 1L).otherwise(0L)).as(s"r$i"))
      val ranks = li.agg(rankAggs.head, rankAggs.tail: _*).head()
      qs.indices.foreach { i =>
        val err = math.abs(ranks.getLong(i) - qs(i) * n)
        require(err <= 2 * 1e-4 * n + 1,
          s"q=${qs(i)}: rank error $err > 2*eps*N on the merged artifact")
      }
      out
    })
  )

  val oracleSql: Map[String, String] = Map(
    "smart_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |HAVING COUNT(*) > 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

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
        |ORDER BY event_id""".stripMargin,

    "binning_stat" ->
      """SELECT CAST(FLOOR(value / 100.0) AS BIGINT) AS bin,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS mean_y,
        |  CAST(COUNT(value) AS DOUBLE) AS count_y
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "category_count" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "unique_stats" ->
      """SELECT COUNT(DISTINCT o_custkey) AS o_custkey_distinct,
        |  COUNT(DISTINCT o_orderstatus) AS o_orderstatus_distinct,
        |  COUNT(DISTINCT o_orderpriority) AS o_orderpriority_distinct,
        |  COUNT(*) AS n_rows
        |FROM orders""".stripMargin,

    "replicate_rows" ->
      """SELECT r_regionkey, r_name, COUNT(*) AS n
        |FROM region, generate_series(1, 3)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "outer_merge" ->
      """WITH ca AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |  FROM customer GROUP BY 1),
        |sa AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |  FROM supplier GROUP BY 1),
        |na AS (SELECT n_nationkey AS nationkey, n_name FROM nation)
        |SELECT COALESCE(na.nationkey, ca.nationkey, sa.nationkey) AS nationkey,
        |  n_name, n_cust, n_supp
        |FROM na FULL OUTER JOIN ca ON na.nationkey = ca.nationkey
        |  FULL OUTER JOIN sa ON COALESCE(na.nationkey, ca.nationkey) = sa.nationkey
        |ORDER BY nationkey""".stripMargin,

    "rounded_join" ->
      """SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 200) c
        |JOIN supplier s ON ROUND(c_acctbal, 0) = ROUND(s_acctbal, 0)
        |ORDER BY c_custkey, s_suppkey""".stripMargin,

    "nearest_join" ->
      """WITH cand AS (
        |  SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY s_suppkey
        |      ORDER BY ABS(s_acctbal - c_acctbal), c_acctbal) AS rn
        |  FROM supplier, customer
        |  WHERE ABS(s_acctbal - c_acctbal) <= 1.0)
        |SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
        |FROM cand WHERE rn = 1 ORDER BY s_suppkey""".stripMargin,

    "box_filter" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value BETWEEN 100.0 AND 500.0 AND user_id BETWEEN 10 AND 60
        |ORDER BY event_id""".stripMargin,

    "bootstrap_ci" ->
      """WITH cnt AS (SELECT COUNT(*) AS n, MIN(c_custkey) AS lo FROM customer),
        |keys AS (
        |  SELECT t.range AS r, n,
        |    CAST(t.range * n + c_custkey - lo AS HUGEINT) AS k
        |  FROM customer, range(200) t, cnt),
        |draws AS (
        |  SELECT r,
        |    ((1803442081483830013 * ((k * k) % 2305843009213693951)
        |      + k * 656901407040548081 + 98764321261)
        |     % 2305843009213693951) % n AS idx
        |  FROM keys),
        |means AS (
        |  SELECT r,
        |    CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |      / CAST((SELECT n FROM cnt) AS DOUBLE) AS m
        |  FROM draws JOIN customer c2
        |    ON draws.idx = c2.c_custkey - (SELECT lo FROM cnt)
        |  GROUP BY r),
        |q AS (SELECT quantile_cont(m, [0.025, 0.5, 0.975]) AS l FROM means)
        |SELECT l[1] AS ci_lo, l[2] AS ci_med, l[3] AS ci_hi FROM q""".stripMargin,

    "uniform_hist" ->
      """WITH k AS (SELECT CAST(range AS HUGEINT) AS k FROM range(10000)),
        |u AS (
        |  SELECT CAST(((1803442081483830013 * ((k * k) % 2305843009213693951)
        |      + k * 656901407040548081 + 98764321261)
        |     % 2305843009213693951) % 1000000 AS DOUBLE) / 1000000.0 AS u
        |  FROM k)
        |SELECT CAST(FLOOR(u * 10) AS INT) AS bin, COUNT(*) AS n
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "haversine_nn" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 AS DOUBLE) - 80.0 + 0.25 AS clat,
        |    CAST((c_custkey * 7) % 340 AS DOUBLE) - 170.0 + 0.25 AS clon
        |  FROM customer WHERE c_custkey < 100),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey * 13) % 160 AS DOUBLE) - 80.0 + 0.25 AS slat,
        |    CAST((s_suppkey * 11) % 340 AS DOUBLE) - 170.0 + 0.25 AS slon
        |  FROM supplier),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |    ROUND(12742.0 * ASIN(SQRT(
        |      SIN(RADIANS((slat - clat) / 2)) * SIN(RADIANS((slat - clat) / 2))
        |      + COS(RADIANS(clat)) * COS(RADIANS(slat))
        |        * SIN(RADIANS((slon - clon) / 2)) * SIN(RADIANS((slon - clon) / 2)))), 3) AS dist_km
        |  FROM c, s),
        |r AS (
        |  SELECT c_custkey, s_suppkey, dist_km,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY dist_km, s_suppkey) AS rn
        |  FROM d)
        |SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin,

    "index_align" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "haversine_nn_full" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 AS DOUBLE) - 80.0 + 0.25 AS clat,
        |    CAST((c_custkey * 7) % 340 AS DOUBLE) - 170.0 + 0.25 AS clon
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey * 13) % 160 AS DOUBLE) - 80.0 + 0.25 AS slat,
        |    CAST((s_suppkey * 11) % 340 AS DOUBLE) - 170.0 + 0.25 AS slon
        |  FROM supplier),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |    ROUND(12742.0 * ASIN(SQRT(
        |      SIN(RADIANS((slat - clat) / 2)) * SIN(RADIANS((slat - clat) / 2))
        |      + COS(RADIANS(clat)) * COS(RADIANS(slat))
        |        * SIN(RADIANS((slon - clon) / 2)) * SIN(RADIANS((slon - clon) / 2)))), 3) AS dist_km
        |  FROM c, s),
        |r AS (
        |  SELECT c_custkey, s_suppkey, dist_km,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY dist_km, s_suppkey) AS rn
        |  FROM d)
        |SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin,

    "salted_sum" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "bloom_semi" ->
      """SELECT o_orderkey, o_custkey
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "time_split" ->
      """SELECT o_orderkey, o_orderdate
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "concat_rows" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal,
        |         'a' AS src, NULL AS c_mktsegment
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, NULL AS c_name, CAST(c_acctbal AS DOUBLE) * 2 AS bal,
        |         'b' AS src, c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0)
        |ORDER BY c_custkey, src""".stripMargin,

    "element_wise" ->
      """SELECT c_custkey,
        |  CAST(c_acctbal AS DOUBLE) + CAST(c_acctbal AS DOUBLE) / 2 AS bal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,

    "compare_frames" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |         o_orderstatus
        |  FROM orders),
        |a AS (SELECT * FROM base WHERE o_orderkey % 11 <> 0),
        |b AS (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
        |             ELSE o_totalprice END AS o_totalprice,
        |        o_orderstatus
        |      FROM base WHERE o_orderkey % 13 <> 0)
        |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  a.o_totalprice AS o_totalprice_a, a.o_orderstatus AS o_orderstatus_a,
        |  b.o_totalprice AS o_totalprice_b, b.o_orderstatus AS o_orderstatus_b,
        |  CASE WHEN a.o_orderkey IS NULL THEN 'only_b'
        |       WHEN b.o_orderkey IS NULL THEN 'only_a'
        |       WHEN a.o_totalprice = b.o_totalprice
        |            AND a.o_orderstatus = b.o_orderstatus THEN 'same'
        |       ELSE 'diff' END AS status
        |FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "symdiff_count" ->
      """WITH ca AS (
        |  SELECT l_partkey, COUNT(*) AS c FROM lineitem
        |  WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |cb AS (
        |  SELECT l_partkey, COUNT(*) AS c FROM lineitem
        |  WHERE l_orderkey % 3 = 0 GROUP BY 1)
        |SELECT CAST(SUM(ABS(COALESCE(ca.c, 0) - COALESCE(cb.c, 0))) AS BIGINT)
        |  AS symdiff
        |FROM ca FULL JOIN cb ON ca.l_partkey = cb.l_partkey""".stripMargin,

    "filter_z" ->
      """WITH s AS (
        |  SELECT AVG(CAST(l_extendedprice AS DOUBLE)) AS mu,
        |         STDDEV_SAMP(CAST(l_extendedprice AS DOUBLE)) AS sd
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(l_extendedprice AS DOUBLE) AS price
        |FROM lineitem, s
        |WHERE CAST(l_extendedprice AS DOUBLE)
        |      BETWEEN mu - 1.0 * sd AND mu + 1.0 * sd
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "heavy_hitters_exact" ->
      """SELECT l_suppkey, COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_suppkey
        |HAVING COUNT(*) >= 620
        |ORDER BY l_suppkey""".stripMargin,

    "filter_df_ops" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_quantity >= 49.0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "pop_labels" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
        |ORDER BY c_custkey""".stripMargin,

    "select_features" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |ORDER BY p_partkey""".stripMargin,

    "stratified_hash" ->
      """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        |WHERE CAST(CAST('0x' || substr(md5('7-' ||
        |    CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
        |    / 1152921504606846976.0
        |  < CASE c_mktsegment WHEN 'BUILDING' THEN 0.5
        |                      WHEN 'MACHINERY' THEN 0.2
        |                      WHEN 'FURNITURE' THEN 0.05
        |                      ELSE 0.0 END
        |ORDER BY c_custkey""".stripMargin,

    "weighted_sample" ->
      """WITH keyed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    ROUND(POW(
        |      CAST(CAST('0x' || substr(md5('11-' ||
        |          CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)
        |          AS DOUBLE) / 1152921504606846976.0,
        |      1.0 / (CAST(o_totalprice AS DOUBLE) / 1000.0)), 9) AS k
        |  FROM orders
        |  WHERE CAST(o_totalprice AS DOUBLE) / 1000.0 > 0.0),
        |sel AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM keyed
        |  ORDER BY k DESC, o_orderkey ASC LIMIT 200)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM sel
        |ORDER BY o_orderkey""".stripMargin,

    "interval_join" ->
      """WITH w AS (
        |  SELECT w AS window_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 6 HOUR
        |      AS w_start,
        |    TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 6 HOUR
        |      + INTERVAL 90 MINUTE AS w_end
        |  FROM (SELECT unnest(range(0, 80)) AS w))
        |SELECT e.event_id, w.window_id, e.event_type
        |FROM events e JOIN w ON e.ts >= w.w_start AND e.ts <= w.w_end
        |ORDER BY e.event_id, w.window_id""".stripMargin,

    "page_rank" ->
      s"""WITH $edgesCte,
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
         |${iterCtes(1)},
         |${iterCtes(2)},
         |${iterCtes(3)}
         |SELECT id, round(pr, 6) AS pr FROM pr3 ORDER BY id""".stripMargin,

    "graph_degrees" ->
      s"""WITH $edgesCte,
         |outd AS (SELECT src AS id, COUNT(*) AS out_deg FROM e GROUP BY 1),
         |ind AS (SELECT dst AS id, COUNT(*) AS in_deg FROM e GROUP BY 1)
         |SELECT COALESCE(outd.id, ind.id) AS id,
         |  COALESCE(out_deg, 0) AS out_deg,
         |  COALESCE(in_deg, 0) AS in_deg
         |FROM outd FULL JOIN ind ON outd.id = ind.id
         |ORDER BY id""".stripMargin,

    "basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_suppkey AS i
        |  FROM lineitem),
        |nb AS (SELECT COUNT(DISTINCT b) AS n FROM items),
        |ic AS (SELECT i, COUNT(*) AS c FROM items GROUP BY 1),
        |p AS (SELECT a.i AS item_a, b2.i AS item_b, COUNT(*) AS n_pair
        |  FROM items a JOIN items b2 USING (b)
        |  WHERE a.i < b2.i GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT p.item_a, p.item_b, p.n_pair,
        |  round(CAST(n_pair AS DOUBLE)
        |    / CAST((SELECT n FROM nb) AS DOUBLE), 6) AS support,
        |  round(CAST(n_pair AS DOUBLE) * CAST((SELECT n FROM nb) AS DOUBLE)
        |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
        |FROM p JOIN ic ca ON p.item_a = ca.i
        |JOIN ic cb ON p.item_b = cb.i
        |ORDER BY item_a, item_b""".stripMargin,

    "rfm_segments" ->
      """WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
        |per AS (SELECT o_custkey AS cust,
        |    CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
        |      (SELECT m FROM mx)) AS INT) AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1)
        |SELECT cust AS o_custkey, recency_days, frequency, monetary,
        |  CAST(NTILE(5) OVER (ORDER BY recency_days DESC, cust ASC)
        |    AS INT) AS r,
        |  CAST(NTILE(5) OVER (ORDER BY frequency ASC, cust ASC)
        |    AS INT) AS f,
        |  CAST(NTILE(5) OVER (ORDER BY monetary ASC, cust ASC)
        |    AS INT) AS m
        |FROM per ORDER BY o_custkey""".stripMargin
  )

  override val nljAllowed: Set[String] = Set(
    // capped pair kernels / documented range joins: haversine
    // brute-force gates its broadcast side at 8192 rows; nearest_join
    // documents the small-side non-equi range join
    "haversine_nn", "haversine_nn_full", "nearest_join",
    // page_rank: the per-iteration dangling-mass scalar rides onto
    // the rank vector as a 1-row broadcast (one NLJ per iteration)
    "page_rank")

  override val globalWindowAllowed: Set[String] = Set(
    // the <= 8192-row brute-force haversine side
    "haversine_nn", "haversine_nn_full",
    // row-scale, still to rewrite to a partitioned or two-phase form:
    // the window runs over the customers, a table that grows with the
    // data
    "rfm_segments")
}
