package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-10 batch 3: full-oracle anchors for the set-operation and
  * sketch helpers that were ScalaTest-only — ragged union-by-name,
  * element-wise keyed arithmetic, the full-outer frame diff, the
  * exceptAll symmetric-difference count (oracled via an independent
  * per-key count formulation), the z-score noise filter, and the
  * count-min-prefiltered EXACT heavy hitters (the sketch only prunes,
  * never decides — the result must equal the plain GROUP BY/HAVING).
  */
object Batch22Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
    })
  )

  val oracleSql: Map[String, String] = Map(

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
        |ORDER BY l_suppkey""".stripMargin
  )
}
