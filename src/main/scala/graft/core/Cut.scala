package graft.core

import org.apache.spark.sql.DataFrame

/** The one place the library materializes an intermediate frame (a
  * "cut"); a source scan in `SessionSourceSpec` keeps every
  * `localCheckpoint` and `checkpoint` call in this file.
  *
  * Policy. A cut is made only where Spark will not share the work by
  * itself, and the caller names the reason as a [[Cut.Why]]:
  *  - [[Cut.Lineage]]: one round of an iterative loop, so the plan
  *    depth stays constant across rounds;
  *  - [[Cut.Reread]]: a subplan read more than once where exchange
  *    reuse does not share it — by separate actions (a guard, a fitted
  *    scalar, each round of a loop, a fixture served to every run), or
  *    by readers of one plan whose exchanges differ or whose costly
  *    work sits above the exchange.
  *
  * Adaptive execution plans a repeated, identical exchange once and
  * reads it again as a `ReusedExchange`, so a cut whose readers all sit
  * in one plan and share its exchange only adds an execution; those
  * cuts are deleted. Reuse is narrower than it looks, though. It needs
  * the identical subtree, and Catalyst prunes columns and infers
  * not-null join filters per reader, so readers of one aggregate that
  * use different columns or join keys plan different exchanges. It
  * shares only the exchange, so every reader redoes a window, a final
  * aggregate or a tokenizing projection above it. Each kept cut says
  * why next to it, with the measurement where one was taken.
  *
  * Semantics. `localCheckpoint(eager = false)` is not lazy under
  * adaptive execution: `Dataset.checkpoint` executes the adaptive plan
  * at the call, so every shuffle stage below the cut runs there, as its
  * own SQL execution, while the caller is still building its plan. Only
  * the last stage, after the last shuffle, waits: the first job that
  * reads the returned frame runs it and stores its rows. A caller that
  * needs that stage run before something it reads goes away (a cache
  * it unpersists) runs an action on the cut itself. The rows are
  * executor-local blocks, not a columnar cache (token-array frames are
  * slow to encode there), and the ContextCleaner frees them once the
  * returned frame is dropped, so no caller unpersists. The price is
  * lineage: an executor lost while the frame is alive fails its
  * readers instead of recomputing. Where that matters, [[reliable]]
  * writes to the context's checkpoint directory instead. */
object Cut {
  sealed trait Why
  /** One round of an iterative loop. */
  case object Lineage extends Why
  /** A subplan read again where exchange reuse does not share it. */
  case object Reread extends Why

  /** `df` cut into executor-local blocks: shuffle stages run now, the
    * last stage with the first reader. */
  def of(df: DataFrame, why: Why): DataFrame = df.localCheckpoint(eager = false)

  /** `df` materialized at the call into the SparkContext's checkpoint
    * directory, which the caller has set: it survives executor loss. */
  def reliable(df: DataFrame): DataFrame = df.checkpoint(eager = true)
}
