package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.rel.Joins

/** Round-8 batch: reference-index row alignment and the Torres-Verdín
  * adaptive filter. */
object Batch16Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.5 torres_verdin_filter (gofast/utils/spatial_utils.py:4685):
    // volatility-adaptive moving average per series; last filtered
    // value per user (the recursion replayed by the DuckDB oracle via
    // an indexed list_reduce with the identical IEEE tree).
    "torres_verdin" -> ((s, dir) => {
      graft.ts.PerGroup.torresVerdin(
          T.events(s, dir).withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "ts_us", "event_id", "value",
          weightFactor = 0.1, beta = 1.0)
        .groupBy("user_id")
        .agg(max_by(col("ama"), col("ts_us")).as("ama_last"))
        .orderBy("user_id")
    }),

    // §2.9 linkage_matrix distance kernel: distributed pairwise
    // euclidean over the embedding column (first 20 vectors -> 190
    // pairs), left-fold sum mirrored by the oracle's list_reduce.
    "pairwise_dist" -> ((s, dir) => {
      graft.ml.Hierarchy.pairwiseDistances(
          T.embeddings(s, dir).filter(col("vec_id") < 20), "vec_id", "embedding")
        .orderBy("id_a", "id_b")
    }),

    // §2.9 linkage_matrix (gofast/utils/mathext.py:5222): agglomerative
    // complete-linkage merge matrix over 25 supplier feature rows
    // (driver merge loop by design — see ml.Hierarchy scaladoc; scipy
    // row convention verified in HierarchySpec, so rows-only here).
    "linkage" -> ((s, dir) => {
      graft.ml.Hierarchy.linkageMatrix(
        T.supplier(s, dir).filter(col("s_suppkey") <= 25),
        "s_suppkey", Seq("s_acctbal", "s_nationkey"), method = "complete")
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
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Mirrors Hierarchy.pairwiseDistances: per-component double diffs
    // squared, summed by a left fold seeded with 0.0 (list_prepend +
    // list_reduce = Spark's aggregate(0.0, acc + v)), then one exact
    // IEEE sqrt — bit-equal, unrounded.
    "pairwise_dist" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  SQRT(list_reduce(
        |    list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(list_zip(a.embedding, b.embedding),
        |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
        |    (acc, x) -> acc + x)) AS dist
        |FROM e a, e b WHERE a.vec_id < b.vec_id
        |ORDER BY id_a, id_b""".stripMargin,

    // Replays the adaptive recursion ama = w*x + (1-w)*ama with
    // w = min(0.1*(1 + 1.0*|x - prev|), 1): list_reduce's 3-arg lambda
    // exposes the invocation index i with x = vs[i+1], so the previous
    // ordered value is vs[i]; acc seeds with vs[1] = the Spark fold's
    // first step. Identical IEEE expression tree -> bit-equal, unrounded.
    "torres_verdin" ->
      """WITH o AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id,
        |    list(value ORDER BY ts, event_id) AS vs
        |  FROM events GROUP BY 1)
        |SELECT user_id,
        |  list_reduce(vs, (acc, x, i) ->
        |    LEAST(0.1 * (1 + 1.0 * ABS(x - vs[i])), 1.0) * x
        |    + (1 - LEAST(0.1 * (1 + 1.0 * ABS(x - vs[i])), 1.0)) * acc) AS ama_last
        |FROM o ORDER BY user_id""".stripMargin,

    "index_align" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin
  )
}
