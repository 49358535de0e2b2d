package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Corpus-scale text-generation evaluation metrics — BLEU (Papineni
  * et al. 2002) and ROUGE-N recall (Lin 2004) re-expressed as clipped
  * n-gram COUNTS, the eval-side operator a model-output pipeline
  * needs: scoring 10⁹ generated documents against references is
  * embarrassingly parallel when the metric is "clipped n-gram matches
  * over totals", and both metrics are exactly that.
  *
  * Plan shape: clipping is doc-local, so each metric is a doc-keyed
  * join of the two sides followed by a native row-local overlap
  * expression ([[graft.functions.NgramOverlapAll]],
  * [[graft.functions.CharGramOverlapAll]]) — the join is the only
  * exchange, nothing is pairwise across documents. Corpus BLEU then
  * aggregates the per-order integer count pairs and a length pair
  * into one row; integer counts → correctly-rounded IEEE double ops,
  * so both metrics replay exactly in an external SQL engine.
  */
object EvalMetrics {

  /** Full-joined per-doc overlap frame via the NATIVE row-local
    * expression ([[graft.functions.NgramOverlapAll]]): one doc-keyed
    * join is the ONLY exchange; the clipped counting runs inside the
    * row. Columns: (doc, _ov = [m_1, ct_1, rt_1, …], _cl/_rl = token
    * length, NULL when that side has no row for the doc). Contract:
    * one row per id per side — duplicate ids score per row. */
  private def docOverlap(cands: DataFrame, refs: DataFrame,
                         idCol: String, candCol: String, refCol: String,
                         maxN: Int): DataFrame = {
    graft.functions.NativeFunctions.register(cands.sparkSession)
    val empty = array().cast("array<string>")
    val c = cands.select(col(idCol).as("doc"),
      coalesce(TextFns.tokens(lower(col(candCol))), empty).as("_t"))
    val r = refs.select(col(idCol).as("doc"),
      coalesce(TextFns.tokens(lower(col(refCol))), empty).as("_rt"))
    c.join(r, Seq("doc"), "full")
      .select(col("doc"),
        call_function("ngram_overlap_all",
          coalesce(col("_t"), empty), coalesce(col("_rt"), empty),
          lit(maxN)).as("_ov"),
        size(col("_t")).as("_cl"),
        size(col("_rt")).as("_rl"))
  }

  /** ROUGE-N face of a [[docOverlap]] frame: one row per candidate
    * doc, `rouge_n` = clipped matches over reference gram total,
    * round-6 (0.0 when the reference has no order-n grams). */
  private def rougeOf(ov: DataFrame, maxN: Int): DataFrame =
    ov.filter(col("_cl").isNotNull)
      .select(col("doc") +: (1 to maxN).map { n =>
        val m = element_at(col("_ov"), 3 * n - 2)
        val rt = element_at(col("_ov"), 3 * n)
        when(rt > 0, round(m.cast("double") / rt.cast("double"), 6))
          .otherwise(lit(0.0)).as(s"rouge_$n")
      }: _*)

  /** BLEU face of a [[docOverlap]] frame: ONE aggregation carrying
    * the length pair AND all per-order count pairs into a 1-row
    * (cand_len, ref_len, m_1..t_maxN) frame, finished to the
    * (bleu, bp, p_1…p_maxN, cand_len, ref_len) row. */
  private def bleuOf(ov: DataFrame, maxN: Int): DataFrame = {
    val aggCols = Seq(
      sum(col("_cl")).cast("long").as("cand_len"),
      sum(col("_rl")).cast("long").as("ref_len")) ++
      (1 to maxN).flatMap(n => Seq(
        sum(element_at(col("_ov"), 3 * n - 2)).as(s"m_$n"),
        sum(element_at(col("_ov"), 3 * n - 1)).as(s"t_$n")))
    val ps = (1 to maxN).map { n =>
      when(coalesce(col(s"t_$n"), lit(0L)) > 0,
        round(coalesce(col(s"m_$n"), lit(0L)).cast("double") /
          col(s"t_$n").cast("double"), 6))
        .otherwise(lit(0.0)).as(s"p_$n")
    }
    val bp = when(col("cand_len") >= col("ref_len") && col("cand_len") > 0,
        lit(1.0))
      .otherwise(when(col("cand_len") > 0,
        round(exp(lit(1.0) - col("ref_len").cast("double") /
          col("cand_len").cast("double")), 6))
        .otherwise(lit(0.0)))
    val withP = ov.agg(aggCols.head, aggCols.tail: _*).select(
      (Seq(bp.as("bp"), col("cand_len"), col("ref_len")) ++ ps): _*)
    val anyZero = (1 to maxN).map(n => col(s"p_$n") === 0.0)
      .reduce(_ || _)
    val logMean = (1 to maxN).map(n => log(col(s"p_$n")))
      .reduce(_ + _) / lit(maxN.toDouble)
    withP.select(
      (when(anyZero, lit(0.0))
        .otherwise(round(col("bp") * exp(logMean), 6)).as("bleu") +:
        col("bp") +:
        (1 to maxN).map(n => col(s"p_$n")) :+
        col("cand_len") :+ col("ref_len")): _*)
  }

  /** Per-document ROUGE-N recall for n = 1..maxN: clipped matches
    * over reference n-gram total, round-6 (0.0 when the reference has
    * no order-n grams — the no-reference convention that keeps the
    * metric total). Output: (doc, rouge_1, …, rouge_maxN) for every
    * candidate doc, ordered columns. Plan: doc-keyed join + the
    * native overlap expression — the join is the only shuffle. */
  def rougeN(cands: DataFrame, refs: DataFrame, idCol: String,
             candCol: String, refCol: String, maxN: Int = 2): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    rougeOf(docOverlap(cands, refs, idCol, candCol, refCol, maxN), maxN)
  }

  /** Per-document ROUGE-L recall: `LCS(cand, ref) / ref_len` via the
    * native [[graft.functions.LcsLength]] codegen expression — the DP
    * is sequential PER ROW but row-local, so the operator distributes
    * perfectly (one keyed join, one projection; no shuffle beyond the
    * doc join). Candidates without a reference row score 0. Output:
    * (doc, lcs, rouge_l). */
  def rougeL(cands: DataFrame, refs: DataFrame, idCol: String,
             candCol: String, refCol: String): DataFrame = {
    graft.functions.NativeFunctions.register(cands.sparkSession)
    val c = cands.select(col(idCol).as("doc"),
      TextFns.tokens(lower(col(candCol))).as("_ct"))
    val r = refs.select(col(idCol).as("doc"),
      TextFns.tokens(lower(col(refCol))).as("_rt"))
    c.join(r, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(call_function("lcs_len", col("_ct"),
          coalesce(col("_rt"), array().cast("array<string>"))), lit(0))
          .as("lcs"),
        coalesce(size(col("_rt")), lit(0)).as("_rl"))
      .select(col("doc"), col("lcs"),
        when(col("_rl") > 0,
          round(col("lcs").cast("double") / col("_rl").cast("double"), 6))
          .otherwise(lit(0.0)).as("rouge_l"))
  }

  /** BLEU + ROUGE-N from ONE shared overlap pass — the bm25Rankings
    * shared-candidate rule applied to evaluation: outputs are
    * bit-identical to [[rougeN]] / [[corpusBleu]] run separately
    * (asserted in Batch33Spec), but the corpus is gram-counted once:
    * ONE doc-keyed full join + the native overlap expression, then
    * the tiny per-doc triple table (3·bleuMaxN longs per doc) is cut
    * and serves both faces, which the caller reads as separate
    * actions. Requires rougeMaxN <= bleuMaxN. */
  def evalSuite(cands: DataFrame, refs: DataFrame, idCol: String,
                candCol: String, refCol: String, bleuMaxN: Int = 4,
                rougeMaxN: Int = 2): (DataFrame, DataFrame) = {
    require(rougeMaxN >= 1 && rougeMaxN <= bleuMaxN,
      s"need 1 <= rougeMaxN <= bleuMaxN, got $rougeMaxN > $bleuMaxN")
    val ov = Cut.of(
      docOverlap(cands, refs, idCol, candCol, refCol, bleuMaxN),
      Cut.Reread)
    (rougeOf(ov, rougeMaxN), bleuOf(ov, bleuMaxN))
  }

  /** SQuAD-style QA evaluation (Rajpurkar et al. 2016): per-document
    * exact match and token F1 under the standard answer
    * normalization — here [[TextFns.cleanText]] (lower, strip
    * non-alphanumerics, squeeze whitespace; the reference pipeline's
    * own normalizer stands in for SQuAD's article-stripping variant).
    *
    *   em = normalized candidate == normalized reference (0/1),
    *   f1 = 2PR/(P+R) over clipped unigram overlap of the normalized
    *        token bags (0 when both sides are empty or either P+R=0).
    *
    * One doc-keyed join + the native [[graft.functions.NgramOverlapAll]]
    * expression at maxN = 1 — row-local like the rest of the eval
    * family; stateless, so it streams as-is. Candidates without a
    * reference row score (0, 0.0). Output: (doc, em, f1). */
  def qaEval(cands: DataFrame, refs: DataFrame, idCol: String,
             candCol: String, refCol: String): DataFrame = {
    graft.functions.NativeFunctions.register(cands.sparkSession)
    val empty = array().cast("array<string>")
    val c = cands.select(col(idCol).as("doc"),
      TextFns.cleanText(col(candCol)).as("_cn"))
    val r = refs.select(col(idCol).as("doc"),
      TextFns.cleanText(col(refCol)).as("_rn"))
    c.join(r, Seq("doc"), "left")
      .select(col("doc"),
        when(col("_rn").isNotNull && col("_cn") === col("_rn"), lit(1))
          .otherwise(lit(0)).as("em"),
        call_function("ngram_overlap_all",
          coalesce(TextFns.tokens(col("_cn")), empty),
          coalesce(TextFns.tokens(coalesce(col("_rn"), lit(""))), empty),
          lit(1)).as("_ov"))
      .select(col("doc"), col("em"),
        when(element_at(col("_ov"), 2) > 0,
          round(element_at(col("_ov"), 1).cast("double") /
            element_at(col("_ov"), 2).cast("double"), 6))
          .otherwise(lit(0.0)).as("_p"),
        when(element_at(col("_ov"), 3) > 0,
          round(element_at(col("_ov"), 1).cast("double") /
            element_at(col("_ov"), 3).cast("double"), 6))
          .otherwise(lit(0.0)).as("_r"))
      .select(col("doc"), col("em"),
        when(col("_p") + col("_r") > 0.0,
          round(lit(2.0) * col("_p") * col("_r") /
            (col("_p") + col("_r")), 6))
          .otherwise(lit(0.0)).as("f1"))
  }

  /** Integral `div` on longs (the SQL `a div b` operator — exact,
    * engine-portable integer division; Column has no operator for it). */
  private def divL(a: Column, b: Column): Column = call_function("div", a, b)

  /** Per-document chrF (Popović 2015): character n-gram F-β score,
    * the tokenization-free eval metric (no tokenizer to disagree
    * about — the property that made it the WMT standard alongside
    * BLEU). Whitespace is stripped before n-gramming (the sacreBLEU
    * default), orders run 1..maxN (default 6, the published setting),
    * β defaults to 2 (recall-weighted, chrF2).
    *
    * chrP = mean over n of clipped matched_n / cand_n,
    * chrR = mean over n of clipped matched_n / ref_n,
    * chrF = (1+β²)·chrP·chrR / (β²·chrP + chrR)  (0 when the
    * denominator is 0). Orders where a side has no grams contribute
    * 0 to that side's mean — a fixed total convention (sacreBLEU's
    * sentence-level "effective order" would make the score depend on
    * doc length in a way no relational oracle can replay cheaply;
    * at corpus scale the two agree for any doc ≥ maxN chars).
    *
    * Plan shape: doc-keyed join + the native
    * [[graft.functions.CharGramOverlapAll]] expression; the join is
    * the only exchange, the whole metric is then a per-row projection
    * (no groupBy at all, nothing pairwise across documents).
    *
    * Determinism — INTEGER MICRO-UNITS, not round-6 doubles: each
    * per-order ratio becomes `(2·m·10⁶ + d) div (2·d)` (HALF_UP of
    * the exact rational at 6 dp — pure integer arithmetic any engine
    * reproduces bit-for-bit), the per-doc order sum is an integer
    * (commutative — partition order cannot drift an ulp, unlike a
    * double sum), and the mean re-applies the same integer HALF_UP.
    * A round-6 DOUBLE mean of 6-dp values sits exactly on a
    * 7th-decimal tie whenever the sum's last digit isn't divisible
    * by maxN, and Spark/DuckDB break such ties differently — caught
    * live on testdata. Only the final F crossing divides doubles
    * (a generic ratio, not a structured tie), round-6.
    * Output: (doc, chrf_p, chrf_r, chrf). */
  def chrF(cands: DataFrame, refs: DataFrame, idCol: String,
           candCol: String, refCol: String, maxN: Int = 6,
           beta: Double = 2.0): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    require(beta > 0, s"beta must be > 0, got $beta")
    // HALF_UP 6-dp micro-units of m/d in exact long arithmetic
    def micro(m: Column, d: Column): Column =
      when(d > 0, divL(lit(2L) * m * lit(1000000L) + d, lit(2L) * d))
        .otherwise(lit(0L))
    // the mean over orders divides by the FULL maxN (fixed-total
    // convention), with the same integer HALF_UP
    def meanOf(s: Column): Column =
      divL(lit(2L) * s + lit(maxN.toLong), lit(2L * maxN))
        .cast("double") / lit(1000000.0)
    val b2 = beta * beta
    graft.functions.NativeFunctions.register(cands.sparkSession)
    val c = cands.select(col(idCol).as("doc"),
      coalesce(regexp_replace(lower(col(candCol)), "\\s+", ""), lit(""))
        .as("_s"))
    val r = refs.select(col(idCol).as("doc"),
      coalesce(regexp_replace(lower(col(refCol)), "\\s+", ""), lit(""))
        .as("_rs"))
    val ov = c.join(r, Seq("doc"), "left")
      .select(col("doc"), call_function("chargram_overlap_all",
        col("_s"), coalesce(col("_rs"), lit("")), lit(maxN)).as("_ov"))
    val sp = (1 to maxN).map(n => micro(element_at(col("_ov"), 3 * n - 2),
      element_at(col("_ov"), 3 * n - 1))).reduce(_ + _)
    val sr = (1 to maxN).map(n => micro(element_at(col("_ov"), 3 * n - 2),
      element_at(col("_ov"), 3 * n))).reduce(_ + _)
    ov.select(col("doc"), meanOf(sp).as("chrf_p"), meanOf(sr).as("chrf_r"))
      .select(col("doc"), col("chrf_p"), col("chrf_r"),
        when(lit(b2) * col("chrf_p") + col("chrf_r") > 0.0,
          round(lit(1.0 + b2) * col("chrf_p") * col("chrf_r") /
            (lit(b2) * col("chrf_p") + col("chrf_r")), 6))
          .otherwise(lit(0.0)).as("chrf"))
  }

  /** Corpus BLEU-maxN: ONE row with the geometric mean of corpus-level
    * clipped precisions p₁..p_maxN under the brevity penalty
    * `BP = exp(min(0, 1 − ref_len/cand_len))`. Any zero pₙ (or an
    * empty candidate corpus) gives bleu = 0 by the standard
    * convention — logs never go −∞. All inputs are exact BIGINT
    * count sums; p_n and bp round at 6 BEFORE entering the final
    * product so both engines land on the identical bleu.
    * Output: (bleu, bp, p_1…p_maxN, cand_len, ref_len). */
  def corpusBleu(cands: DataFrame, refs: DataFrame, idCol: String,
                 candCol: String, refCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    bleuOf(docOverlap(cands, refs, idCol, candCol, refCol, maxN), maxN)
  }
}
