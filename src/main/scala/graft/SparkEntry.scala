package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Every registry domain, in the order the registry is built. */
  private[graft] def files: Seq[Entries] = Seq(
    RelEntries, StatsEntries, TsEntries, StreamEntries, TextEntries,
    TextLmEntries, TextEvalEntries, MlEntries, MediaEntries, IoEntries,
    DatasetsEntries, CleanEntries, EncodeEntries, SqlEntries)

  /** The domains' maps merged into one; a name defined in two domains
    * is an error, not a silent override by the later domain. */
  private[graft] def merged[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val twice = acc.keySet.intersect(m.keySet)
      require(twice.isEmpty,
        s"registry names defined twice: ${twice.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }
}
