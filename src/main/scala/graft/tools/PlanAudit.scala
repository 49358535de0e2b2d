package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

/** Scans every SparkEntry query's physical plan for scale red flags:
  * cartesian products, BroadcastNestedLoopJoins outside the adjudicated
  * allowlist, unpartitioned windows outside theirs, and degenerated
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

  /** Queries where a BroadcastNestedLoopJoin is the INTENDED bounded
    * plan, each adjudicated (round 9 verdict): either a 1-row scalar
    * broadcast — fitted constants (quantile cuts, rank sums, Otsu
    * threshold, regression coefficients) joined onto every row — or a
    * capped pair kernel (haversine brute-force gates its broadcast
    * side at 8192 rows; levenshtein/pairwise/embed pair kernels bound
    * their inputs by construction; nearest_join documents the
    * small-side non-equi range join). Anywhere else a BNLJ is an
    * accident and flags — an unnoticed one is O(n·m) at scale. */
  private val nljAllowed: Set[String] = Set(
    // capped pair kernels / documented range joins
    "haversine_nn", "haversine_nn_full", "nearest_join",
    "levenshtein_pairs", "pairwise_dist", "embed_dedup",
    // 1-row fitted-scalar broadcasts
    "decision_curve", "friedman", "histogram", "kruskal_wallis",
    "laplace_smooth", "otsu", "reg_metrics", "wilcoxon",
    // drift_psi / drift_psi_cat: the (total_ref, total_cur) 1-row
    // broadcast that normalizes the bin/category count table into
    // shares (the benford / pareto_curve convention)
    // (drift_psi_stream deploys the same psiOfCounts arithmetic over
    // the engine-maintained sink counts)
    "drift_psi", "drift_psi_cat", "drift_psi_stream",
    "drift_psi_cat_stream",
    // line_dedup / unigram_ppl / bigram_ppl / kn_ppl / sb_ppl /
    // kn3_ppl: corpus-total scalars (doc count; token count N + vocab
    // size V; bigram/trigram type totals + successor vocab) as 1-row
    // broadcasts — the whole LM ladder shares the pattern
    "line_dedup", "unigram_ppl", "bigram_ppl", "kn_ppl", "sb_ppl",
    "kn3_ppl",
    // llm_pipeline: composes the unigram scorer, so it inherits its
    // (N, V) 1-row scalar broadcasts (the vocab totals re-derivation
    // appears once per referencing subtree in the executed plan)
    "llm_pipeline",
    // bm25_topk / rrf_fuse: the (N, avgdl) corpus scalars ride onto
    // candidates as a 1-row broadcast (rrf fuses two BM25 plans, so
    // it carries two such joins)
    "bm25_topk", "rrf_fuse",
    // quality_clf (+xxhash twin): the model intercept is a 1-row
    // scalar broadcast (the bm25 (N, avgdl) pattern)
    "quality_clf", "quality_clf_xx",
    // semantic_dedup: the EXACT pairwise screen — the oracle-baseline
    // twin of semantic_dedup_ivf, bounded like embed_dedup; the ivf
    // variant joins keyed on the bucket and is NOT allowlisted.
    // feather_embed_dedup runs the same screen over the Arrow-ingested
    // corpus (broadcast-hinted: the RDD-backed typed read has no size
    // stats)
    "semantic_dedup", "feather_embed_dedup",
    // cluster_assign / cluster_balance: the K-centroid codebook (K=8)
    // broadcasts onto the corpus — the intended n×K expansion that
    // collapses in a partial-aggregable argmax
    "cluster_assign", "cluster_balance",
    // dsir_select: scores the corpus under TWO unigram LMs (target +
    // raw), so it carries two sets of the unigram_ppl (N, V)
    // corpus-total 1-row scalar broadcasts
    "dsir_select",
    // bleu_corpus: the metric's sufficient statistics — four clipped
    // (matched, total) count pairs plus the length pair — are five
    // 1-row aggregates crossJoined into the single output row (the
    // (N, avgdl) pattern, once per order)
    "bleu_corpus",
    // corpus_js: the (N_a, N_b, |V|) corpus totals ride onto the
    // vocab join as a 1-row broadcast (the bm25 (N, avgdl) pattern)
    "corpus_js",
    // pr_curve: the positive-class total rides onto the (distinct-
    // score-sized) threshold table as a 1-row broadcast
    "pr_curve",
    // rank_eval: evaluates the bm25_topk plan, so it inherits its
    // (N, avgdl) 1-row scalar broadcast
    "rank_eval",
    // page_rank: the per-iteration dangling-mass scalar rides onto
    // the rank vector as a 1-row broadcast (one NLJ per iteration)
    "page_rank",
    // benford / key_skew / pareto_curve: the corpus total rides onto
    // a bounded group/entity table as a 1-row broadcast
    "benford", "key_skew", "pareto_curve")
    // semantic_decontam is NOT allowlisted: its entry runs the
    // max_cosine_f32 kernel (pure projection, no join at all) — if a
    // BNLJ ever reappears there it is a regression to the join path
    // and must flag

  /** Queries that plan a `WindowExec` with no partition spec, which
    * moves every input row of the window to one task. README design
    * rule 3 allows it only over a bounded domain; anywhere else it
    * flags `GLOBALWINDOW`. Pinned to the 24 queries that plan one at
    * sf0.001, in two groups. */
  private val globalWindowAllowed: Set[String] = Set(
    // distinct-value, per-group or capped domains: distinct scores,
    // values, event times or tokens; contingency cells; IV categories;
    // the 256 rank buckets of `rank2OfCounts`; the 1e6-id prefix
    // buckets of vocabGrowth; the <= 8192-row brute-force haversine
    // side; the 24 merge heights of a 25-point linkage
    "avg_precision", "binary_iv", "chi2", "haversine_nn",
    "haversine_nn_full", "heaps_fit", "kaplan_meier", "kruskal_wallis",
    "ks_test", "linkage_single_heights", "otsu", "pr_curve", "roc_auc",
    "vocab_growth", "wilcoxon", "zipf_fit",
    // row-scale, still to rewrite to a partitioned or two-phase form:
    // the window runs over a table that grows with the data (keys,
    // customers, an encoded column's values, 100-document shard
    // buckets, weeks)
    "key_skew", "label_encode", "llm_pipeline", "media_pipeline",
    "pack_shards", "pareto_curve", "rfm_segments", "wow_growth")

  /** Count the exchanges a plan EXECUTES, not the ones its printout
    * mentions: a `persist()`ed / lazily checkpointed shared subtree
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
