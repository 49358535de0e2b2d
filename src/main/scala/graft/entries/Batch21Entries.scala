package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-10 batch 2: oracle anchors for operators whose PLANS differ
  * from plain SQL but whose RESULTS must not — the salted two-phase
  * aggregation, the bloom-prefiltered semi-join, deterministic mode
  * imputation and the time split. Each oracle is the straightforward
  * SQL the fancy plan must equal exactly.
  */
object Batch21Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // rel.Sampling.timeSplit: the time-ordered train/test boundary is
    // a pure filter (partition-prunes on date layouts).
    "time_split" -> ((s, dir) => {
      graft.rel.Sampling.timeSplit(T.orders(s, dir), "o_orderdate",
          "1998-01-01")
        .select("o_orderkey", "o_orderdate")
        .orderBy("o_orderkey")
    })
  )

  val oracleSql: Map[String, String] = Map(

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

    "time_split" ->
      """SELECT o_orderkey, o_orderdate
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_orderkey""".stripMargin
  )
}
