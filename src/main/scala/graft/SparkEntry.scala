package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact, Tables => T}
import graft.rel.Aggregates

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets a `queries` entry
  * (Spark plan) and, when SQL-expressible, a matching `oracleSql` entry
  * (DuckDB dialect) with IDENTICAL output column names. Results are made
  * deterministic: exact decimal sums for money columns (see
  * [[graft.core.Exact]]), rounding for real-valued statistics, and total
  * ORDER BY (with tiebreakers) everywhere.
  *
  * Entries live in per-domain objects under [[graft.entries]]; this
  * object is the aggregation point the driver reads.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("smart_group")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(files.map(_.queries))

  lazy val oracleSql: Map[String, String] = merged(files.map(_.oracleSql))

  import entries._

  /** Every registry file, in the order the registry is built. */
  private[graft] def files: Seq[Entries] = Seq(
    Base, RelEntries, StatsEntries, CleanEntries, TsEntries, TextEntries,
    EncodeEntries, InferEntries, SqlEntries, MoreEntries, Batch10Entries,
    Batch11Entries, Batch12Entries, Batch13Entries, Batch14Entries,
    Batch15Entries, Batch16Entries, Batch17Entries, Batch18Entries,
    Batch19Entries, Batch20Entries, Batch21Entries, Batch22Entries,
    Batch23Entries, Batch24Entries, Batch25Entries, Batch26Entries,
    Batch27Entries, Batch28Entries, Batch29Entries, Batch30Entries,
    Batch31Entries, Batch32Entries, Batch33Entries, Batch34Entries,
    Batch35Entries, Batch36Entries, Batch37Entries, Batch38Entries,
    Batch39Entries, Batch40Entries, Batch41Entries, Batch42Entries,
    Batch43Entries, Batch44Entries, Batch45Entries, Batch46Entries)

  /** The files' maps merged into one; a name defined in two files is
    * an error, not a silent override by the later file. */
  private[graft] def merged[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val twice = acc.keySet.intersect(m.keySet)
      require(twice.isEmpty,
        s"registry names defined twice: ${twice.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }

  private object Base extends Entries {
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
          |ORDER BY l_returnflag, l_linestatus""".stripMargin
    )
  }
}
