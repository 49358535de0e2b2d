package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Tables => T}
import graft.sql.SqlGuards

/** Registry queries for the SQL pass-through surface (SURVEY §3.1
  * DBAnalysis; §2.4 grouping-sets note). The engine's SQL dialect is
  * Spark SQL; the same text (mod dialect) runs in DuckDB as the oracle.
  * Every query goes through [[SqlGuards]] plan-shape guards — the
  * strictly-stronger replacement for the reference's regex checks.
  */
object SqlEntries extends Entries {

  private def guards(s: SparkSession, dir: String): SqlGuards =
    new SqlGuards(s)
      .fit(T.lineitem(s, dir), "lineitem")
      .fit(T.orders(s, dir), "orders")
      .fit(T.customer(s, dir), "customer")

  // windowFunctions intent (query.py:639): running order count/customer.
  private val windowSql =
    """SELECT o_orderkey,
    |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
    |    ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
    |FROM orders ORDER BY o_orderkey""".stripMargin

  // ROLLUP — reachable in the reference only via raw SQL (SURVEY §2.4).
  private val rollupSql =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
    |  COALESCE(o_orderstatus, 'ALL') AS status,
    |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT) AS gid,
    |  COUNT(*) AS n,
    |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    |FROM orders
    |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    |ORDER BY gid, pri, status""".stripMargin

  // CUBE.
  private val cubeSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
    |  COALESCE(l_linestatus, 'ALL') AS ls,
    |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
    |  COUNT(*) AS n
    |FROM lineitem
    |GROUP BY CUBE(l_returnflag, l_linestatus)
    |ORDER BY gid, rf, ls""".stripMargin

  // GROUPING SETS.
  private val groupingSetsSql =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
    |  COALESCE(o_orderstatus, 'ALL') AS status,
    |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT) AS gid,
    |  COUNT(*) AS n
    |FROM orders
    |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    |ORDER BY gid, pri, status""".stripMargin

  // CTE + join + aggregate intents (query.py:429 subquery surface).
  private val cteSql =
    """WITH big AS (
    |  SELECT o_custkey, COUNT(*) AS n_big FROM orders
    |  WHERE o_totalprice > 300000 GROUP BY o_custkey)
    |SELECT c.c_mktsegment, COUNT(*) AS n_cust,
    |  CAST(SUM(b.n_big) AS BIGINT) AS n_big_orders
    |FROM customer c JOIN big b ON c.c_custkey = b.o_custkey
    |GROUP BY c.c_mktsegment
    |ORDER BY c.c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_window" -> ((s, dir) => guards(s, dir).windowFunctions(windowSql)),
    "sql_rollup" -> ((s, dir) => guards(s, dir).aggregate(rollupSql)),
    "sql_cube" -> ((s, dir) => guards(s, dir).aggregate(cubeSql)),
    "sql_grouping_sets" -> ((s, dir) => guards(s, dir).aggregate(groupingSetsSql)),
    "sql_cte" -> ((s, dir) => guards(s, dir).joinTables(cteSql))
  )

  val oracleSql: Map[String, String] = Map(
    "sql_window" -> windowSql,
    "sql_rollup" -> rollupSql,
    "sql_cube" -> cubeSql,
    "sql_grouping_sets" -> groupingSetsSql,
    "sql_cte" -> cteSql
  )
}
