package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Corpus-scale text-generation evaluation metrics — BLEU (Papineni
  * et al. 2002) and ROUGE-N recall (Lin 2004) re-expressed as pure
  * n-gram COUNT aggregations, the eval-side operator a model-output
  * pipeline needs: scoring 10⁹ generated documents against references
  * is embarrassingly parallel when the metric is "clipped n-gram
  * matches over totals", and both metrics are exactly that.
  *
  * Plan shape: each order's n-grams materialize in-row via
  * `transform(sequence)+slice` (window-free, codegen — the
  * Quality.ngramOccurrences pattern), ONE explode feeds the
  * per-(doc, gram) counts on each side, and the clipped-match kernel
  * is a doc+gram-keyed FULL join — every shuffle keyed, nothing
  * pairwise across documents. Corpus BLEU then aggregates four
  * integer count pairs and a length pair into one row; integer
  * counts → correctly-rounded IEEE double ops, so both metrics replay
  * exactly in an external SQL engine.
  */
object EvalMetrics {

  /** Word n-grams of a token-ARRAY column as space-joined strings.
    * Empty below n tokens — guarded explicitly, because
    * `sequence(1, 0)` DESCENDS in Spark rather than being empty and
    * would feed `slice` a zero start. */
  private[text] def ngramsOf(toks: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val cnt = size(toks) - lit(n - 1)
    when(cnt <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), cnt),
        i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** (doc, _t token-array) projection of one side, cut because every
    * order re-reads the arrays through its own exchange — at maxN = 4
    * the tokenize regex would otherwise run four times per side (the
    * scoreByStupidBackoff rule). */
  private def tokSide(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    Cut.of(df.select(col(idCol).as("doc"),
        TextFns.tokens(lower(col(textCol))).as("_t")), Cut.Reread)

  /** Per-(doc, gram) counts of order-n grams over a [[tokSide]]. */
  private def gramCounts(toks: DataFrame, n: Int): DataFrame =
    toks.select(col("doc"), explode(ngramsOf(col("_t"), n)).as("gram"))
      .groupBy("doc", "gram").agg(count(lit(1)).as("_c"))

  /** Clipped n-gram overlap per document over two [[tokSide]]s:
    * (doc, matched_n, cand_n, ref_n) where
    * `matched_n = Σ_gram min(c_cand, c_ref)` — the shared sufficient
    * statistic of BLEU precision and ROUGE-N recall. Documents with
    * no order-n grams on either side surface with zeros (FULL join
    * over the per-gram counts). */
  private def overlapFromToks(cToks: DataFrame, rToks: DataFrame,
                              n: Int): DataFrame = {
    val c = gramCounts(cToks, n).withColumnRenamed("_c", "_cc")
    val r = gramCounts(rToks, n).withColumnRenamed("_c", "_rc")
    c.join(r, Seq("doc", "gram"), "full")
      .groupBy("doc")
      .agg(sum(least(coalesce(col("_cc"), lit(0L)),
          coalesce(col("_rc"), lit(0L)))).as(s"matched_$n"),
        sum(coalesce(col("_cc"), lit(0L))).as(s"cand_$n"),
        sum(coalesce(col("_rc"), lit(0L))).as(s"ref_$n"))
  }

  /** Public single-order overlap (tokenizes both sides). */
  def ngramOverlap(cands: DataFrame, refs: DataFrame, idCol: String,
                   candCol: String, refCol: String, n: Int): DataFrame =
    overlapFromToks(tokSide(cands, idCol, candCol),
      tokSide(refs, idCol, refCol), n)

  /** Per-(doc, n, gram) counts for ALL orders 1..maxN in ONE tagged
    * explode over a [[tokSide]] — the chrF plan rule applied to word
    * grams: one corpus pass and one keyed groupBy instead of maxN of
    * each.
    *
    * `hashGrams` (the measured-default): the count/join key is
    * `xxhash64(gram)` instead of the gram STRING — an order-4 gram
    * averages ~25-45 bytes where the hash is 8, and the metric never
    * OUTPUTS a gram, only counts of them, so the whole shuffle
    * shrinks ~4× while the RESULT is bit-identical unless two
    * distinct grams of the SAME (doc, n) collide in 64 bits
    * (~(85 choose 2)·2⁻⁶⁴ ≈ 2·10⁻¹⁶ per doc — at 10⁹ docs the
    * expected number of affected DOCUMENTS is ~10⁻⁷). Unlike the
    * minhash xxhash64/md5 twins, the hash does not parameterize the
    * output values, so full-oracle entries stay full-oracle. */
  private def gramRowsAll(toks: DataFrame, maxN: Int, cName: String,
                          hashGrams: Boolean): DataFrame = {
    val keyed = toks.select(col("doc"), explode(concat(
        (1 to maxN).map(n => transform(ngramsOf(col("_t"), n),
          g => struct(lit(n).as("n"), g.as("gram")))): _*)).as("_g"))
      .select(col("doc"), col("_g.n").as("n"),
        (if (hashGrams) xxhash64(col("_g.gram")) else col("_g.gram"))
          .as("gram"))
    keyed.groupBy("doc", "n", "gram").agg(count(lit(1)).as(cName))
  }

  /** Clipped overlap for ALL orders at once: (doc, n, matched,
    * cand_t, ref_t) — same sufficient statistics as
    * [[overlapFromToks]], produced by one FULL join keyed
    * (doc, n, gram) instead of one join per order. Orders with no
    * grams on either side are ABSENT rows (callers coalesce). */
  private def overlapAllOrders(cToks: DataFrame, rToks: DataFrame,
                               maxN: Int,
                               hashGrams: Boolean = true): DataFrame =
    gramRowsAll(cToks, maxN, "_cc", hashGrams)
      .join(gramRowsAll(rToks, maxN, "_rc", hashGrams),
        Seq("doc", "n", "gram"), "full")
      .groupBy("doc", "n")
      .agg(sum(least(coalesce(col("_cc"), lit(0L)),
          coalesce(col("_rc"), lit(0L)))).as("matched"),
        sum(coalesce(col("_cc"), lit(0L))).as("cand_t"),
        sum(coalesce(col("_rc"), lit(0L))).as("ref_t"))

  /** Full-joined per-doc overlap frame via the NATIVE row-local
    * expression ([[graft.functions.NgramOverlapAll]]): one doc-keyed
    * join is the ONLY exchange; the clipped counting runs inside the
    * row. Columns: (doc, _ov = [m_1, ct_1, rt_1, …], _cl/_rl = token
    * length, NULL when that side has no row for the doc). Contract:
    * one row per id per side — duplicate ids score per-row here where
    * the shuffle kernel would merge their gram bags. */
  private def localOverlap(cands: DataFrame, refs: DataFrame,
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

  private def requireKernel(kernel: String): Unit =
    require(kernel == "local" || kernel == "shuffle",
      s"kernel must be 'local' or 'shuffle', got $kernel")

  /** Per-document ROUGE-N recall for n = 1..maxN: clipped matches
    * over reference n-gram total, round-6 (0.0 when the reference has
    * no order-n grams — the no-reference convention that keeps the
    * metric total). Output: (doc, rouge_1, …, rouge_maxN) for every
    * candidate doc, ordered columns.
    *
    * `kernel = "local"` (default): doc-keyed join + the native
    * overlap expression — the only shuffle is the join, measured ~5×
    * the shuffle kernel at 40× corpus. `kernel = "shuffle"`: the
    * tagged one-pass (doc, n, gram)-keyed relational kernel — the
    * escape hatch when single documents are large enough to straggle
    * a row-local loop (per-order values pivot with max-of-one-row
    * conditionals; no double-sum ordering to drift). Both produce
    * identical values (asserted in Batch33Spec). */
  def rougeN(cands: DataFrame, refs: DataFrame, idCol: String,
             candCol: String, refCol: String, maxN: Int = 2,
             kernel: String = "local",
             hashGrams: Boolean = true): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    requireKernel(kernel)
    if (kernel == "local") {
      localOverlap(cands, refs, idCol, candCol, refCol, maxN)
        .filter(col("_cl").isNotNull)
        .select(col("doc") +: (1 to maxN).map { n =>
          val m = element_at(col("_ov"), 3 * n - 2)
          val rt = element_at(col("_ov"), 3 * n)
          when(rt > 0, round(m.cast("double") / rt.cast("double"), 6))
            .otherwise(lit(0.0)).as(s"rouge_$n")
        }: _*)
    } else {
      val cToks = tokSide(cands, idCol, candCol)
      val rToks = tokSide(refs, idCol, refCol)
      val spine = cToks.select(col("doc")).distinct()
      val perOrder = overlapAllOrders(cToks, rToks, maxN, hashGrams)
        .select(col("doc"), col("n"),
          when(col("ref_t") > 0,
            round(col("matched").cast("double") /
              col("ref_t").cast("double"), 6))
            .otherwise(lit(0.0)).as("_v"))
      val aggs = (1 to maxN).map(n =>
        coalesce(max(when(col("n") === n, col("_v"))), lit(0.0))
          .as(s"rouge_$n"))
      val pivoted = perOrder.groupBy("doc").agg(aggs.head, aggs.tail: _*)
      spine.join(pivoted, Seq("doc"), "left")
        .select(col("doc") +: (1 to maxN).map(n =>
          coalesce(col(s"rouge_$n"), lit(0.0)).as(s"rouge_$n")): _*)
    }
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
    * (asserted in Batch33Spec), but the corpus is gram-counted once.
    *
    * `kernel = "local"` (default): ONE doc-keyed full join + the
    * native overlap expression, then the tiny per-doc triple table
    * (3·bleuMaxN longs per doc) is cut and serves both faces, which
    * the caller reads as separate actions. `kernel = "shuffle"`: the tagged relational kernel with
    * the (doc, n) sufficient-statistics table shared instead.
    * Requires rougeMaxN <= bleuMaxN. */
  def evalSuite(cands: DataFrame, refs: DataFrame, idCol: String,
                candCol: String, refCol: String, bleuMaxN: Int = 4,
                rougeMaxN: Int = 2, kernel: String = "local",
                hashGrams: Boolean = true): (DataFrame, DataFrame) = {
    require(rougeMaxN >= 1 && rougeMaxN <= bleuMaxN,
      s"need 1 <= rougeMaxN <= bleuMaxN, got $rougeMaxN > $bleuMaxN")
    requireKernel(kernel)
    if (kernel == "local") {
      val ov = Cut.of(
        localOverlap(cands, refs, idCol, candCol, refCol, bleuMaxN),
        Cut.Reread)
      val rouge = ov.filter(col("_cl").isNotNull)
        .select(col("doc") +: (1 to rougeMaxN).map { n =>
          val m = element_at(col("_ov"), 3 * n - 2)
          val rt = element_at(col("_ov"), 3 * n)
          when(rt > 0, round(m.cast("double") / rt.cast("double"), 6))
            .otherwise(lit(0.0)).as(s"rouge_$n")
        }: _*)
      val aggCols = Seq(
        sum(col("_cl")).cast("long").as("cand_len"),
        sum(col("_rl")).cast("long").as("ref_len")) ++
        (1 to bleuMaxN).flatMap(n => Seq(
          sum(element_at(col("_ov"), 3 * n - 2)).as(s"m_$n"),
          sum(element_at(col("_ov"), 3 * n - 1)).as(s"t_$n")))
      val bleu = finishBleu(ov.agg(aggCols.head, aggCols.tail: _*),
        bleuMaxN)
      (rouge, bleu)
    } else {
      val cToks = tokSide(cands, idCol, candCol)
      val rToks = tokSide(refs, idCol, refCol)
      val ov = Cut.of(overlapAllOrders(cToks, rToks, bleuMaxN, hashGrams),
        Cut.Reread)
      // ROUGE face: the n <= rougeMaxN slice of the shared table
      val spine = cToks.select(col("doc")).distinct()
      val perOrder = ov.filter(col("n") <= rougeMaxN)
        .select(col("doc"), col("n"),
          when(col("ref_t") > 0,
            round(col("matched").cast("double") /
              col("ref_t").cast("double"), 6))
            .otherwise(lit(0.0)).as("_v"))
      val aggs = (1 to rougeMaxN).map(n =>
        coalesce(max(when(col("n") === n, col("_v"))), lit(0.0))
          .as(s"rouge_$n"))
      val rouge = spine
        .join(perOrder.groupBy("doc").agg(aggs.head, aggs.tail: _*),
          Seq("doc"), "left")
        .select(col("doc") +: (1 to rougeMaxN).map(n =>
          coalesce(col(s"rouge_$n"), lit(0.0)).as(s"rouge_$n")): _*)
      // BLEU face: corpus totals over the same table + the length pair
      val lens = cToks
        .select(size(col("_t")).cast("long").as("_cl"))
        .agg(sum("_cl").as("cand_len"))
        .crossJoin(rToks
          .select(size(col("_t")).cast("long").as("_rl"))
          .agg(sum("_rl").as("ref_len")))
      val aggCols = (1 to bleuMaxN).flatMap(n => Seq(
        sum(when(col("n") === n, col("matched"))).as(s"m_$n"),
        sum(when(col("n") === n, col("cand_t"))).as(s"t_$n")))
      val bleu = finishBleu(lens.crossJoin(
        ov.agg(aggCols.head, aggCols.tail: _*)), bleuMaxN)
      (rouge, bleu)
    }
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

  /** Char n-grams of a string column as an in-row array — the chrF
    * alphabet. Same `sequence`-descent guard as [[ngramsOf]]. */
  private[text] def charGramsOf(s: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val cnt = length(s) - lit(n - 1)
    when(cnt.isNull || cnt <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), cnt), i => s.substr(i, lit(n))))
  }

  /** (doc, _s whitespace-stripped lowered string) projection of one
    * side, cut once for all orders (the [[tokSide]] rule — at
    * maxN = 6 the regex strip would otherwise run six times). */
  private def charSide(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    Cut.of(df.select(col(idCol).as("doc"),
        regexp_replace(lower(col(textCol)), "\\s+", "").as("_s")), Cut.Reread)

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
    * Plan shape — `kernel = "local"` (default): doc-keyed join + the
    * native [[graft.functions.CharGramOverlapAll]] expression; the
    * join is the only exchange, the whole metric is then a per-row
    * projection (no groupBy at all). `kernel = "shuffle"`: ONE
    * tagged explode for all orders feeding (doc, n, gram)-keyed
    * groupBys + a FULL join — the escape hatch for pathological
    * single-document skew. Nothing pairwise across documents either
    * way; both produce identical values (asserted in Batch33Spec).
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
           beta: Double = 2.0, kernel: String = "local"): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    require(beta > 0, s"beta must be > 0, got $beta")
    requireKernel(kernel)
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
    def finish(withPR: DataFrame): DataFrame =
      withPR.select(col("doc"), col("chrf_p"), col("chrf_r"),
        when(lit(b2) * col("chrf_p") + col("chrf_r") > 0.0,
          round(lit(1.0 + b2) * col("chrf_p") * col("chrf_r") /
            (lit(b2) * col("chrf_p") + col("chrf_r")), 6))
          .otherwise(lit(0.0)).as("chrf"))
    if (kernel == "local") {
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
      finish(ov.select(col("doc"),
        meanOf(sp).as("chrf_p"), meanOf(sr).as("chrf_r")))
    } else {
      val cS = charSide(cands, idCol, candCol)
      val rS = charSide(refs, idCol, refCol)
      val spine = cS.select(col("doc")).distinct()
      // (doc, n, gram) -> count, all orders in one explode
      def gramRows(side: DataFrame, cName: String): DataFrame =
        side.select(col("doc"), explode(concat(
            (1 to maxN).map(n => transform(charGramsOf(col("_s"), n),
              g => struct(lit(n).as("n"), g.as("gram")))): _*)).as("_g"))
          .select(col("doc"), col("_g.n").as("n"), col("_g.gram").as("gram"))
          .groupBy("doc", "n", "gram").agg(count(lit(1)).as(cName))
      val perOrder = gramRows(cS, "_cc")
        .join(gramRows(rS, "_rc"), Seq("doc", "n", "gram"), "full")
        .groupBy("doc", "n")
        .agg(sum(least(coalesce(col("_cc"), lit(0L)),
            coalesce(col("_rc"), lit(0L)))).as("_m"),
          sum(coalesce(col("_cc"), lit(0L))).as("_ct"),
          sum(coalesce(col("_rc"), lit(0L))).as("_rt"))
        .select(col("doc"),
          micro(col("_m"), col("_ct")).as("_pm"),
          micro(col("_m"), col("_rt")).as("_rm"))
      val sums = perOrder.groupBy("doc")
        .agg(sum("_pm").as("_sp"), sum("_rm").as("_sr"))
      finish(spine.join(sums, Seq("doc"), "left")
        .select(col("doc"),
          meanOf(coalesce(col("_sp"), lit(0L))).as("chrf_p"),
          meanOf(coalesce(col("_sr"), lit(0L))).as("chrf_r")))
    }
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
                 candCol: String, refCol: String, maxN: Int = 4,
                 kernel: String = "local",
                 hashGrams: Boolean = true): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    requireKernel(kernel)
    if (kernel == "local") {
      // doc-keyed join + native per-row overlap, then ONE aggregation
      // carrying lengths AND all per-order count pairs — no crossJoins
      // of 1-row frames at all
      val ov = localOverlap(cands, refs, idCol, candCol, refCol, maxN)
      val aggCols = Seq(
        sum(col("_cl")).cast("long").as("cand_len"),
        sum(col("_rl")).cast("long").as("ref_len")) ++
        (1 to maxN).flatMap(n => Seq(
          sum(element_at(col("_ov"), 3 * n - 2)).as(s"m_$n"),
          sum(element_at(col("_ov"), 3 * n - 1)).as(s"t_$n")))
      finishBleu(ov.agg(aggCols.head, aggCols.tail: _*), maxN)
    } else {
      val cToks = tokSide(cands, idCol, candCol)
      val rToks = tokSide(refs, idCol, refCol)
      val lens = cToks
        .select(size(col("_t")).cast("long").as("_cl"))
        .agg(sum("_cl").as("cand_len"))
        .crossJoin(rToks
          .select(size(col("_t")).cast("long").as("_rl"))
          .agg(sum("_rl").as("ref_len")))
      // ONE tagged pass for all orders; the per-order corpus totals are
      // conditional INTEGER sums over the (doc, n) rows — one aggregate
      // row replaces maxN crossJoined 1-row aggregates
      val aggCols = (1 to maxN).flatMap(n => Seq(
        sum(when(col("n") === n, col("matched"))).as(s"m_$n"),
        sum(when(col("n") === n, col("cand_t"))).as(s"t_$n")))
      val totals = overlapAllOrders(cToks, rToks, maxN, hashGrams)
        .agg(aggCols.head, aggCols.tail: _*)
      finishBleu(lens.crossJoin(totals), maxN)
    }
  }

  /** BLEU tail shared by [[corpusBleu]] and [[evalSuite]]: from the
    * 1-row (cand_len, ref_len, m_1..t_maxN) frame to the final
    * (bleu, bp, p_1…p_maxN, cand_len, ref_len) row. */
  private def finishBleu(joined: DataFrame, maxN: Int): DataFrame = {
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
    val withP = joined.select(
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
}
