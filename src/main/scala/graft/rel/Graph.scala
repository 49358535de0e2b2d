package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Iterative graph analytics on edge DataFrames. The data-curation
  * use is host/URL ranking: Common-Crawl-style pipelines feed a
  * centrality score of the host graph into page quality priors, the
  * same slot the quality classifier's score occupies. Connected
  * components (the dedup-cluster primitive) live in
  * [[graft.text.Dedup]]; this adds PageRank (Brin & Page 1998).
  *
  * Scale shape per iteration: one equi-join of edges against the
  * current rank vector (keyed by src), one map-side-combined groupBy
  * on dst, and the dangling mass as a 1-row scalar broadcast (the
  * fitted-scalar pattern). Nothing driver-sized; iteration count is
  * fixed, so the plan is a finite chain of keyed shuffles that AQE
  * re-plans per stage.
  *
  * Determinism: in-mass sums round to 9 dp each iteration (the LM
  * ladder's convention — aggregation-order ulps are absorbed before
  * they can compound), the final rank rounds to 6; every other step
  * is exact or a fixed IEEE expression, so any engine replays the
  * identical trajectory.
  */
object Graph {

  /** PageRank over directed edges (srcCol, dstCol), duplicate edges
    * collapsed. Dangling nodes (no out-edges) redistribute their mass
    * uniformly. Output: (id, pr) with Σ pr ≈ 1.
    *
    * `iterations` is fixed (default 3) rather than
    * convergence-tested: a deterministic, replayable trajectory beats
    * a data-dependent stopping rule for pipeline use — rank ORDER
    * stabilizes long before the values do. Set `tol > 0` to ALSO stop
    * early once the L1 delta Σ|pr−pr_prev| drops below it (real host
    * graphs converge well before a conservative iteration budget; the
    * delta rides the iteration's own frame — no extra join). Pick tol
    * ABOVE the round-9 quantization floor — each rank rounds to 9 dp
    * per iteration, so the L1 delta bottoms out near n·5e-10 and a
    * tighter tol can never fire.
    *
    * Cluster safety: a [[graft.core.Cut]] stores blocks on executors
    * only — at real cluster scale an executor loss mid-loop kills the
    * query (unrecoverable lineage). Pass `reliableCheckpointDir` to
    * checkpoint the hoisted invariants once and the rank vector every
    * `checkpointEveryK` iterations to reliable storage (HDFS/object
    * store) instead; local[*] callers keep the zero-IO default. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 3, damping: Double = 0.85,
               tol: Double = 0.0,
               reliableCheckpointDir: Option[String] = None,
               checkpointEveryK: Int = 10): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1,
      s"damping must be in (0, 1), got $damping")
    require(tol >= 0, s"tol must be >= 0, got $tol")
    require(checkpointEveryK >= 1,
      s"checkpointEveryK must be >= 1, got $checkpointEveryK")
    val sc = edges.sparkSession.sparkContext
    reliableCheckpointDir.foreach(sc.setCheckpointDir)
    // pin the loop invariants, which every round re-reads: reliable
    // when a dir is given (survives executor loss), executor-local
    // otherwise (zero IO)
    def pin(df: DataFrame): DataFrame =
      if (reliableCheckpointDir.isDefined) Cut.reliable(df)
      else Cut.of(df, Cut.Reread)
    // e and nodes are setup-only, read by the node count and the two
    // pins, each its own action
    val e = Cut.of(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct(), Cut.Reread)
    val nodes = Cut.of(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct(), Cut.Reread)
    val n = nodes.count()
    require(n > 0, "empty graph: PageRank undefined")
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("_deg"))
    val base = lit((1.0 - damping) / n)
    // iteration-INVARIANT joins hoisted out of the loop: the node
    // list carries its dangling flag (so the per-iteration dangling
    // mass is a filter + 1-row agg, not a join), and every edge
    // carries its src out-degree (so contributions are ONE join per
    // iteration, not two)
    val nodesF = pin(nodes.join(outdeg, nodes("id") === outdeg("src"), "left")
      .select(nodes("id"), col("_deg").isNull.as("_dang")))
    val eDeg = pin(e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("_deg")))
    var pr = nodesF.withColumn("pr", lit(1.0 / n))
    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      // dangling mass: total rank sitting on nodes with no out-edges,
      // rounded like every other per-iteration aggregate
      val dangling = pr.filter(col("_dang"))
        .agg(coalesce(round(sum("pr"), 9), lit(0.0)).as("_dm"))
      val contribs = eDeg.join(pr, eDeg("src") === pr("id"))
        .select(eDeg("dst").as("id"), (col("pr") / col("_deg")).as("_c"))
      val inMass = contribs.groupBy("id").agg(round(sum("_c"), 9).as("_m"))
      // tol > 0 carries the previous rank on the SAME frame so the L1
      // delta is a 1-row agg, not an extra join; tol == 0 keeps the
      // nodesF source (the deterministic fixed-budget plan, unchanged)
      val src =
        if (tol > 0) pr.select(col("id"), col("_dang"),
          col("pr").as("_prev"))
        else nodesF
      var next = src.join(inMass, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .withColumn("pr", round(base + lit(damping) *
          (coalesce(col("_m"), lit(0.0)) + col("_dm") / n), 9))
        .drop("_m", "_dm")
      next =
        if (reliableCheckpointDir.isDefined && ((it + 1) % checkpointEveryK
            == 0 || it + 1 == iterations))
          Cut.reliable(next)
        else Cut.of(next, Cut.Lineage)
      if (tol > 0) {
        val delta = next
          .agg(coalesce(sum(abs(col("pr") - col("_prev"))), lit(0.0)))
          .head().getDouble(0)
        converged = delta < tol
        next = next.drop("_prev")
      }
      pr = next
      it += 1
    }
    pr.select(col("id"), round(col("pr"), 6).as("pr"))
  }

  /** Degree table: (id, out_deg, in_deg) over distinct edges. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val outd = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_deg"))
    val ind = e.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_deg"))
    outd.join(ind, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
