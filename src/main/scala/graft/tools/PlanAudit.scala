package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

/** Scans every SparkEntry query's physical plan for scale red flags:
  * cartesian products, BroadcastNestedLoopJoins outside the adjudicated
  * allowlist, unpartitioned windows outside theirs (both lists live in
  * the registry domain that defines each query), and degenerated
  * dedup/LSH band joins; the exchange count
  * is surfaced per query (PlanAuditSpec asserts a ceiling on it). The
  * oracle gate can NOT catch these — a degenerated self-join still
  * returns correct rows while scanning n² — so [[audit]] is asserted by
  * PlanAuditSpec inside `sbt test`.
  *
  * Run standalone: sbt 'runMain graft.tools.PlanAudit <sfDir>'
  */
object PlanAudit {

  /** One query's plan-shape findings. `flags` non-empty = red flag. */
  final case class Audit(name: String, exchanges: Int, flags: Seq[String],
                         error: Option[String])

  /** The plan shapes the registry domains allow, each name adjudicated
    * next to its query ([[graft.entries.Entries.nljAllowed]],
    * [[graft.entries.Entries.globalWindowAllowed]]). */
  private lazy val nljAllowed: Set[String] =
    graft.SparkEntry.files.flatMap(_.nljAllowed).toSet
  private lazy val globalWindowAllowed: Set[String] =
    graft.SparkEntry.files.flatMap(_.globalWindowAllowed).toSet

  /** Count the exchanges a plan EXECUTES, not the ones its printout
    * mentions: a `persist()`ed shared subtree
    * prints once per consumer but runs once, so the r17 text count
    * (`lines.count(_.contains("Exchange"))`, which also miscounted
    * every `ReusedExchange` as a new shuffle) over-reported plans that
    * share work — the exact plans the optimization round moves
    * toward. Tree walk instead: each `Exchange` node counts once,
    * `ReusedExchange` never (it is not an `Exchange`), an
    * `InMemoryTableScan`'s cached plan counts ONCE per distinct
    * relation no matter how many consumers scan it, and subquery
    * plans are included — a subquery reused N times
    * (`ReusedSubqueryExec`) counts once, identity-deduped on the
    * shared target exactly like cached relations. An
    * `AdaptiveSparkPlanExec` anywhere in the tree (a caller auditing
    * an AQE plan outside [[audit]], which disables AQE) is unwrapped
    * to its current physical plan rather than silently contributing
    * zero (the adaptive wrapper hides its children from `children`). */
  def distinctExchanges(root: SparkPlan): Int =
    executedNodes(root).count(_.isInstanceOf[Exchange])

  /** Every node a plan executes, each shared subtree once: the walk
    * [[distinctExchanges]] documents (adaptive wrappers unwrapped,
    * cached relations and reused subqueries visited once). */
  private def executedNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val seenSub = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val out = Seq.newBuilder[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ =>
        out += p
        p match {
          case im: InMemoryTableScanExec =>
            if (seenCached.add(im.relation.cachedPlan)) walk(im.relation.cachedPlan)
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach { sq =>
          val target = sq match {
            case r: ReusedSubqueryExec => r.child
            case other => other
          }
          if (seenSub.add(target)) walk(target)
        }
    }
    walk(root)
    out.result()
  }

  /** Audit one query's executed plan (tree for the exchange count and
    * the windows, text for the other shape flags). */
  def auditPlan(name: String, planTree: SparkPlan): Audit = {
    val plan = planTree.toString
    val lines = plan.split('\n')
    val cartesian = lines.count(_.contains("CartesianProduct"))
    val nlj = lines.count(_.contains("BroadcastNestedLoopJoin"))
    val nodes = executedNodes(planTree)
    val exchanges = nodes.count(_.isInstanceOf[Exchange])
    val globalWindows = nodes.count {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    }
    val nljUnexpected = nlj > 0 && !nljAllowed.contains(name)
    // dedup/LSH pair queries MUST join keyed on their band/bucket
    // column — a degenerated self-join would still return correct
    // rows while scanning n², so only a plan check can catch it
    val bandJoinMissing =
      (name.contains("minhash_pairs") || name.contains("simhash_pairs") ||
        name.contains("lsh_cosine_join") ||
        name.contains("snapshot_neardup")) &&
      !lines.exists(l =>
        l.matches(".*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)" +
          // _key# = the shared Multimodal.bandedNearDups kernel's band
          // key (simhash_pairs_md5_256 joins through it)
          ".*(_band_a|_bucket_a|_band_new|_key#).*"))
    val flags = Seq(
      if (cartesian > 0) Some(s"CARTESIAN=$cartesian") else None,
      if (nljUnexpected) Some(s"NLJ=$nlj") else None,
      if (bandJoinMissing) Some("NOBANDJOIN") else None,
      if (globalWindows > 0 && !globalWindowAllowed.contains(name))
        Some(s"GLOBALWINDOW=$globalWindows") else None).flatten
    Audit(name, exchanges, flags, None)
  }

  /** Audit every (or a subset of) SparkEntry queries at `sfDir`.
    * AQE is disabled while plans are CONSTRUCTED so the audited tree
    * is the plain physical plan (the adaptive wrapper hides its
    * children from a tree walk; the pre-runtime operators are the
    * same ones the old text audit saw). */
  def audit(spark: SparkSession, sfDir: String,
            only: Option[Set[String]] = None): Seq[Audit] = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqeBefore = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        try auditPlan(name, fn(spark, sfDir).queryExecution.executedPlan)
        catch { case e: Throwable =>
          // Option(getMessage): a null-message exception must not turn
          // into Some(null) and NPE the spec's failure formatting
          Audit(name, 0, Nil,
            Some(Option(e.getMessage).getOrElse(e.toString)))
        }
      }
    finally spark.conf.set(aqeKey, aqeBefore)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.core.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    audit(spark, sfDir).foreach { a =>
      a.error match {
        case Some(e) => println(f"${a.name}%-22s ERROR ${e.take(60)}")
        case None =>
          println(f"${a.name}%-22s exch=${a.exchanges}%2d ${a.flags.mkString(" ")}")
      }
    }
    spark.stop()
  }
}
