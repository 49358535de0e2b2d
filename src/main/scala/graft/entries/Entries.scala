package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry domain: its named query plans, for the names with an
  * oracle the DuckDB SQL producing the same rows, and the plan shapes
  * [[graft.tools.PlanAudit]] lets its queries keep.
  * [[graft.SparkEntry]] folds every domain into the registry. */
trait Entries {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]

  /** Queries where a BroadcastNestedLoopJoin is the INTENDED bounded
    * plan, each adjudicated next to its name: either a 1-row scalar
    * broadcast — fitted constants joined onto every row — or a capped
    * pair kernel. Anywhere else a BNLJ is an accident and flags — an
    * unnoticed one is O(n·m) at scale. */
  def nljAllowed: Set[String] = Set.empty

  /** Queries that plan a `WindowExec` with no partition spec, which
    * moves every input row of the window to one task. README design
    * rule 3 allows it only over a bounded domain; anywhere else it
    * flags `GLOBALWINDOW`. Each name is either a bounded domain or a
    * row-scale window still to rewrite to a partitioned or two-phase
    * form, and says which. */
  def globalWindowAllowed: Set[String] = Set.empty
}
