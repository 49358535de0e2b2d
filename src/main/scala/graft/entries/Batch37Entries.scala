package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.rel.Graph

/** Round-12 batch: graph analytics on the purchase graph — PageRank
  * (the host/URL-centrality prior data-curation pipelines feed into
  * page quality) and the degree table, on customer→supplier edges
  * derived from orders × lineitem. Supplier ids offset by 1e6 so the
  * two id spaces cannot collide.
  */
object Batch37Entries extends Entries {

  private def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    T.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(T.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
    })
  )

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

  val oracleSql: Map[String, String] = Map(

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
         |ORDER BY id""".stripMargin
  )
}
