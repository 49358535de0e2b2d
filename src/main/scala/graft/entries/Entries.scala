package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry file: its named query plans and, for the names with an
  * oracle, the DuckDB SQL producing the same rows. [[graft.SparkEntry]]
  * folds every file into the registry. */
trait Entries {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
