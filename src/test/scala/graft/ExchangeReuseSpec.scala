package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Cuts deleted because adaptive execution shares their exchange must
  * stay shared at scale. With automatic broadcasts off — every lookup
  * a shuffle join, as when a web-scale vocabulary stops being
  * broadcastable — each count shuffle runs once in the executed
  * adaptive plan and every other read of it is a `ReusedExchange`. */
class ExchangeReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The executed adaptive plan of registry query `q` on the sf0.001
    * testdata, with automatic broadcast joins off. */
  private def executed(q: String): SparkPlan = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val df: DataFrame = SparkEntry.queries(q)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** (shuffles run, reused reads) of the exchanges whose output
    * columns are exactly `cols`. */
  private def runsAndReuses(plan: SparkPlan, cols: String*): (Int, Int) = {
    def is(p: SparkPlan) = p.output.map(_.name) == cols
    (collect(plan) { case e: ShuffleExchangeExec if is(e) => e }.size,
      collect(plan) { case r: ReusedExchangeExec if is(r) => r }.size)
  }

  test("sb_ppl runs its unigram and bigram count shuffles once each") {
    val plan = executed("sb_ppl")
    // uni: two join slots + the token totals; bi: two join slots
    assert(runsAndReuses(plan, "w", "count") == ((1, 2)), plan.toString)
    assert(runsAndReuses(plan, "w1", "w2", "count") == ((1, 1)), plan.toString)
  }

  test("quantiles_exact runs its value-count shuffle once") {
    // the rank kernel's bounds, bucket counts and ranked join plus the
    // group totals all read the one (group, value) count table; the
    // value key is a cast, which Spark names `_groupingexpression`
    val plan = executed("quantiles_exact")
    val (runs, reuses) =
      runsAndReuses(plan, "l_returnflag", "_groupingexpression", "count")
    assert(runs == 1 && reuses >= 1, s"runs=$runs reuses=$reuses\n$plan")
  }
}
