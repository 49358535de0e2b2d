package graft

import graft.tools.PlanAudit

/** The oracle gate can NEVER catch a plan degeneration — a band join
  * that loses its equi-key still returns correct rows while scanning
  * n² — so the plan-shape audit runs as a failing test, not an
  * optional tool: zero CartesianProducts, zero NOBANDJOIN dedup/LSH
  * degenerations, no BroadcastNestedLoopJoin outside the adjudicated
  * allowlist (1-row scalar broadcasts + capped pair kernels) and no
  * unpartitioned window outside its pinned set, across EVERY declared
  * query at sf0.001.
  *
  * stream_dedup is excluded: its entry runs a MemoryStream to
  * completion as a throughput probe (~10 s) and contains no batch
  * join to audit — StreamSpec covers its semantics.
  */
class PlanAuditSpec extends SparkSpec {

  test("no query plan degenerates: cartesian/band-join/NLJ audit over all entries") {
    val skip = Set("stream_dedup")
    val names = SparkEntry.queries.keySet.diff(skip)
    val audits = PlanAudit.audit(spark, sf, Some(names))
    val errors = audits.filter(_.error.isDefined)
    assert(errors.isEmpty,
      s"plan construction failed: ${errors.map(a => s"${a.name}: ${a.error.get.take(80)}").mkString("; ")}")
    val flagged = audits.filter(_.flags.nonEmpty)
    assert(flagged.isEmpty,
      s"plan red flags: ${flagged.map(a => s"${a.name} ${a.flags.mkString(",")}").mkString("; ")}")
    // exchange-count ceiling over PlanAudit.distinctExchanges — since
    // the r18 optimization round this counts the exchanges a plan
    // EXECUTES (tree walk: ReusedExchange never counts, a persisted /
    // checkpointed shared subtree counts once however many consumers
    // print it), where the old text count over-reported exactly the
    // work-sharing plans the optimization moves toward. Heaviest
    // adjudicated plans under the new count at r18: llm_pipeline 26,
    // media_pipeline 25, dsir_select 20, rank_eval/kn3_ppl 19,
    // rrf_fuse 16, wilcoxon 15. Ceilings sit at those adjudicated
    // maxima plus small headroom (r18 ADVICE: the old 24/40/32 were
    // calibrated against the inflated text count and had gone 20-50%
    // loose — a plan silently gaining several real shuffles slipped
    // under them). The two composed multi-stage entries keep their
    // sum-of-stages ceilings.
    val ceiling = Map("llm_pipeline" -> 29, "media_pipeline" -> 28)
      .withDefaultValue(22)
    val heavy = audits.filter(a => a.exchanges > ceiling(a.name))
    assert(heavy.isEmpty,
      s"exchange explosion: ${heavy.map(a => s"${a.name}=${a.exchanges}").mkString("; ")}")
  }

  test("an unpartitioned window outside the pinned set flags GLOBALWINDOW") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val df = spark.range(10)
      .withColumn("rn", row_number().over(Window.orderBy("id")))
    val plan = df.queryExecution.executedPlan
    assert(PlanAudit.auditPlan("new_global_rank", plan).flags ===
      Seq("GLOBALWINDOW=1"))
    assert(PlanAudit.auditPlan("ks_test", plan).flags.isEmpty)
    val perKey = spark.range(10).withColumn("rn",
      row_number().over(Window.partitionBy("id").orderBy("id")))
    assert(PlanAudit.auditPlan("new_keyed_rank",
      perKey.queryExecution.executedPlan).flags.isEmpty)
  }

  test("each domain's plan-shape exemptions name its own queries") {
    for (domain <- SparkEntry.files) {
      val foreign = (domain.nljAllowed ++ domain.globalWindowAllowed)
        .diff(domain.queries.keySet)
      assert(foreign.isEmpty,
        s"${domain.getClass.getSimpleName} exempts queries it does not " +
          s"define: ${foreign.toSeq.sorted.mkString(", ")}")
    }
  }
}
