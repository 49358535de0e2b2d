package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Unigram language-model scoring for corpus quality filtering — the
  * CCNet/KenLM-style "perplexity filter" of LLM data pipelines
  * (north-star addition; quality-signal family of
  * gofast/utils/text.py:838), re-expressed as pure Spark aggregates.
  *
  * A reference corpus trains an add-α smoothed unigram model; each
  * document then scores as its mean token log-probability and the
  * corresponding perplexity. Low-perplexity ≈ looks like the reference
  * corpus; the classic pipeline keeps the low/middle band.
  *
  * Scale shape (the whole point of the design):
  *  - the model "trains" inside the plan — one explode over the
  *    reference, ONE map-side-combined groupBy(token); no driver-side
  *    vocabulary, no collect;
  *  - corpus totals (token count N, vocab size V) ride along as a
  *    1-row broadcast scalar, never a second pass;
  *  - scoring pre-aggregates each document to (doc, token, tf) BEFORE
  *    the vocab join, so the join carries one row per distinct
  *    doc-token, not one per token occurrence;
  *  - the vocab join is a plain token-keyed equi-join — AQE broadcasts
  *    it when the vocabulary is small and shuffles both sides when it
  *    is not (a 100 TB web corpus's vocabulary is NOT broadcastable).
  *
  * Determinism: log-probs are pure IEEE expressions evaluated
  * identically by external engines; only the per-document SUM order
  * differs, so the mean rounds to 6 decimals and the perplexity is
  * EXP of that already-rounded mean (then rounded again) — the same
  * parity contract as [[Quality.tokenEntropy]].
  */
object LangModel {

  /** Add-α smoothed unigram vocabulary of `corpus`:
    * (token, tf, logp) with
    * `logp = ln((tf + α) / (N + α·(V + 1)))` — the `V + 1` reserves
    * one smoothing slot for the OOV bucket, whose log-prob
    * `ln(α / (N + α·(V+1)))` scoring re-derives from the same totals.
    * Tokens are the library's canonical lowercased whitespace tokens
    * ([[TextFns.tokens]]). */
  def unigramVocab(corpus: DataFrame, textCol: String,
                   alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    // NOT Spread.scan: measured r19 — spreading the tokenize made the
    // whole LM ladder SLOWER (sb_ppl 2.2→2.7 s min): the tokenize is
    // ~0.5 s serial here, and the repartition costs more than the
    // parallelism buys. quality_clf's featureRows (md5-bound, single
    // consumer) is the shape where Spread wins.
    val tokens = corpus
      .select(explode(TextFns.tokens(lower(col(textCol)))).as("token"))
    // an empty model must fail HERE, loudly: with zero rows the
    // totals are NULL, every log-prob is NULL, and downstream
    // coalescing would silently score every document as the neutral
    // ppl = 1 — a quality filter that filters nothing. The guard reads
    // the token stream (a limit-1 scan), not the count shuffle.
    require(!tokens.isEmpty,
      "reference corpus has no tokens: refusing to train an empty " +
        "unigram model (every document would score ppl = 1)")
    // no cut: the totals and the projection read one count exchange,
    // which adaptive execution reuses
    val counts = countsOf(tokens, "tf", "token")
    val totals = counts.agg(sum("tf").as("_N"),
      count(lit(1)).as("_V"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("tf"),
        log((col("tf").cast("double") + lit(alpha)) /
          smoothedDenom(alpha)).as("logp"))
  }

  /** `N + α·(V+1)` from broadcast `_N`/`_V` columns — shared by the
    * seen-token and OOV branches so both engines evaluate the exact
    * same IEEE expression tree. */
  private def smoothedDenom(alpha: Double) =
    col("_N").cast("double") +
      lit(alpha) * (col("_V").cast("double") + lit(1.0))

  /** Score each document of `docs` under the add-α unigram model of
    * `refCorpus`: output (idCol, n_tokens, n_oov, mean_logprob, ppl)
    * where `mean_logprob` is the tf-weighted mean token
    * log-probability (OOV tokens take the reserved smoothing slot)
    * and `ppl = exp(−mean_logprob)`. Zero-token documents score
    * mean_logprob = 0, ppl = 1 (the empty product), n_oov = 0.
    *
    * The classic CCNet filter is then a plain `.filter($"ppl" <= t)`
    * — kept separate so callers can band (head/middle/tail) instead
    * of threshold. */
  def scoreByUnigram(docs: DataFrame, refCorpus: DataFrame,
                     idCol: String, textCol: String,
                     alpha: Double = 0.5): DataFrame = {
    // the single training pipeline (one corpus explode, one groupBy,
    // non-empty guard) lives in unigramVocab; the totals re-derive
    // from the vocab — a vocab-sized aggregate over the reused count
    // exchange, not a second corpus pass
    val vocab = unigramVocab(refCorpus, textCol, alpha)
      .select(col("token"), col("tf").as("_ctf"), col("logp").as("_lp"))
    val totals = vocab.agg(sum("_ctf").as("_N"), count(lit(1)).as("_V"))
    // one row per DISTINCT (doc, token): the map-side combine that
    // keeps the vocab join linear in distinct tokens, not occurrences
    val docTf = docs.select(col(idCol).as("doc"),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val oovLogp = log(lit(alpha) / smoothedDenom(alpha))
    val scored = docTf
      .join(vocab, Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc"), col("tf"),
        when(col("_ctf").isNull, lit(1L)).otherwise(lit(0L)).as("_oov"),
        when(col("_ctf").isNull, oovLogp).otherwise(col("_lp")).as("_logp"))
    finishScores(docs, idCol, scored, "n_tokens")
  }

  /** Score each document under an add-α smoothed BIGRAM conditional
    * model of `refCorpus` — the next step toward CCNet's n-gram LM:
    * `logp(w₂|w₁) = ln((c(w₁w₂) + α) / (c(w₁·) + α·(V+1)))` with
    * context counts `c(w₁·)` derived from the bigram table itself and
    * `V` the distinct-successor vocabulary. One smoothed expression
    * covers all three cases (pair seen; context seen, pair unseen;
    * context unseen → uniform 1/(V+1)) by coalescing absent counts to
    * zero — a single IEEE tree both engines evaluate identically.
    *
    * Plan shape: bigrams are a pure array expression (no window — a
    * `transform(sequence)` over adjacent token pairs), counted in ONE
    * groupBy; context counts re-aggregate the bigram
    * table, never the corpus; scoring pre-aggregates to
    * (doc, w₁, w₂, tf) then takes two keyed equi-joins.
    *
    * Documents with fewer than 2 tokens score the neutral empty
    * product (mean 0, ppl 1). Output:
    * (idCol→doc, n_bigrams, n_oov, mean_logprob, ppl). */
  def scoreByBigram(docs: DataFrame, refCorpus: DataFrame,
                    idCol: String, textCol: String,
                    alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val refBg = refBigramCounts(refCorpus, textCol)
    val ctx = refBg.groupBy("w1").agg(sum("_c12").as("_c1"))
    val vTot = refBg.agg(
      countDistinct("w2").cast("double").as("_Vb"))
    val docBg = docBigramCounts(docs, idCol, textCol)
    val scored = docBg
      .join(refBg, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vTot))
      .select(col("doc"), col("tf"),
        when(col("_c12").isNull, lit(1L)).otherwise(lit(0L)).as("_oov"),
        log((coalesce(col("_c12"), lit(0L)).cast("double") + lit(alpha)) /
          (coalesce(col("_c1"), lit(0L)).cast("double") +
            lit(alpha) * (col("_Vb") + lit(1.0)))).as("_logp"))
    finishScores(docs, idCol, scored, "n_bigrams")
  }

  /** Distinct-bigram counts of the reference corpus, cut once (a cut,
    * not persist(): persist() measured 1.6× slower on kn3_ppl —
    * token-array frames are pathological for the columnar cache)
    * because every derived table — context totals, continuation
    * counts, type totals — re-aggregates it, each through its own
    * exchange (measured: without the cut kn_ppl at ×4 ran 1.02 →
    * 1.21–1.45 s). Loud non-empty guard: see unigramVocab. */
  private def refBigramCounts(refCorpus: DataFrame,
                              textCol: String): DataFrame = {
    val refBg = Cut.of(refCorpus
      .select(TextFns.tokens(lower(col(textCol))).as("_toks"))
      .select(explode(bigramsOf(col("_toks"))).as("_bg"))
      .select(col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("_c12")), Cut.Reread)
    require(!refBg.isEmpty,
      "reference corpus has no bigrams: refusing to train an empty " +
        "bigram model (every document would score ppl = 1)")
    refBg
  }

  /** One row per DISTINCT (doc, w₁, w₂) with its in-document count —
    * the map-side combine that keeps the model joins linear in
    * distinct doc-bigrams, not occurrences. */
  private def docBigramCounts(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        TextFns.tokens(lower(col(textCol))).as("_toks"))
      .select(col("doc"), explode(bigramsOf(col("_toks"))).as("_bg"))
      .select(col("doc"), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
      .groupBy("doc", "w1", "w2").agg(count(lit(1)).as("tf"))

  /** Score each document under an interpolated KNESER–NEY bigram model
    * of `refCorpus` (Kneser & Ney 1995; the smoothing of KenLM, whose
    * 5-gram variant is the CCNet perplexity filter's actual model —
    * this is its bigram instance on the same scaffolding as
    * [[scoreByBigram]]):
    *
    * `P(w₂|w₁) = max(c(w₁w₂) − d, 0)/c(w₁·) + λ(w₁)·P_cont(w₂)` with
    * `λ(w₁) = d·N₁₊(w₁·)/c(w₁·)` — the absolute-discount mass d,
    * collected once per distinct successor type, redistributed over
    * the CONTINUATION distribution `P_cont(w₂) ∝ N₁₊(·w₂)` ("in how
    * many contexts does w₂ complete a bigram", not "how often") —
    * the insight that keeps "francisco" improbable outside "san".
    * An unseen context (c(w₁·) = 0) backs off to P_cont alone (λ = 1),
    * and P_cont itself carries an add-α OOV slot
    * `(N₁₊(·w₂) + α)/(N₁₊(··) + α·(V₂+1))` so every log stays finite —
    * pure KN gives an unseen w₂ zero mass, which no scoring filter can
    * ship; same convention as the add-α models above.
    *
    * Every input is an integer count, every step a correctly-rounded
    * IEEE double op written identically in the SQL oracle — so the
    * model is exactly replayable despite being "real" KN.
    *
    * Plan shape is scoreByBigram's: one corpus explode into ONE
    * bigram groupBy; context totals `(c(w₁·), N₁₊(w₁·))` and
    * continuation counts `N₁₊(·w₂)` re-aggregate the
    * bigram table; type totals ride as a 1-row broadcast; scoring
    * pre-aggregates to (doc, w₁, w₂, tf) then takes three keyed
    * equi-joins — AQE broadcasts the model tables when small, shuffles
    * when a web-scale vocabulary is not broadcastable.
    *
    * Output: (doc, n_bigrams, n_oov, mean_logprob, ppl); n_oov counts
    * unseen PAIRS (either branch below the first). Documents with
    * fewer than 2 tokens score the neutral empty product. */
  def scoreByKneserNey(docs: DataFrame, refCorpus: DataFrame,
                       idCol: String, textCol: String,
                       discount: Double = 0.75,
                       alpha: Double = 0.5): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1), got $discount")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val refBg = refBigramCounts(refCorpus, textCol)
    // each refBg row is one distinct (w1, w2) type, so count(*) per
    // context IS N₁₊(w₁·) and count(*) per successor IS N₁₊(·w₂)
    val ctx = refBg.groupBy("w1")
      .agg(sum("_c12").as("_c1"), count(lit(1)).as("_n1f"))
    val pred = refBg.groupBy("w2").agg(count(lit(1)).as("_n1b"))
    val tot = refBg.agg(count(lit(1)).cast("double").as("_nbg"),
      countDistinct("w2").cast("double").as("_V2"))
    val docBg = docBigramCounts(docs, idCol, textCol)
    val pCont = (coalesce(col("_n1b"), lit(0L)).cast("double") +
        lit(alpha)) /
      (col("_nbg") + lit(alpha) * (col("_V2") + lit(1.0)))
    val c1 = col("_c1").cast("double")
    val p = when(col("_c1").isNotNull,
        greatest(coalesce(col("_c12"), lit(0L)).cast("double") -
          lit(discount), lit(0.0)) / c1 +
          lit(discount) * col("_n1f").cast("double") / c1 * pCont)
      .otherwise(pCont)
    val scored = docBg
      .join(refBg, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(pred, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc"), col("tf"),
        when(col("_c12").isNull, lit(1L)).otherwise(lit(0L)).as("_oov"),
        log(p).as("_logp"))
    finishScores(docs, idCol, scored, "n_bigrams")
  }

  /** Fit-time Kneser–Ney artifact for the stream deploy: the three
    * model tables (each a re-aggregation of the one cut
    * bigram-count pass) plus the two type totals collected once at fit
    * time — the [[graft.stream.Streaming]] deploy joins the tables
    * stream-static and carries the totals as literals, the
    * `scoredDocs` fitted-scalar convention. */
  final case class KnModel(bigrams: DataFrame, ctx: DataFrame,
                           pred: DataFrame, nBigramTypes: Double,
                           vSucc: Double, discount: Double, alpha: Double)

  /** Train the interpolated KN bigram model of [[scoreByKneserNey]]
    * once, as a deployable artifact (one corpus pass + one 2-scalar
    * collect). */
  def fitKneserNey(refCorpus: DataFrame, textCol: String,
                   discount: Double = 0.75,
                   alpha: Double = 0.5): KnModel = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1), got $discount")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val refBg = refBigramCounts(refCorpus, textCol)
    val ctx = refBg.groupBy("w1")
      .agg(sum("_c12").as("_c1"), count(lit(1)).as("_n1f"))
    val pred = refBg.groupBy("w2").agg(count(lit(1)).as("_n1b"))
    val r = refBg.agg(count(lit(1)).cast("double"),
      countDistinct("w2").cast("double")).head()
    KnModel(refBg, ctx, pred, r.getDouble(0), r.getDouble(1),
      discount, alpha)
  }

  /** Score each document under an interpolated TRIGRAM Kneser–Ney
    * model of `refCorpus` — the order-3 instance of the recursion
    * KenLM's 5-gram CCNet filter actually runs (Kneser & Ney 1995;
    * Chen & Goodman 1999 eq. 18 interpolated form):
    *
    * `P₃(w₃|w₁w₂) = max(c₁₂₃−d,0)/c₁₂· + λ₃(w₁w₂)·P₂(w₃|w₂)` with
    * `c₁₂· = Σ_w c₁₂w` and `λ₃ = d·N₁₊(w₁w₂·)/c₁₂·`; the BIGRAM level
    * uses CONTINUATION counts (the KN insight — "in how many contexts
    * does w₂w₃ complete a trigram", not "how often"):
    * `P₂(w₃|w₂) = max(N₁₊(·w₂w₃)−d,0)/N₁₊(·w₂·) + λ₂(w₂)·P₁(w₃)` with
    * `λ₂ = d·N₁₊(w₂··types)/N₁₊(·w₂·)`, and the unigram floor is the
    * continuation distribution with the library's add-α OOV slot
    * `P₁(w₃) = (N₁₊(·w₃)+α)/(N₁₊(··)+α·(V+1))`. An unseen (w₁,w₂)
    * context backs off to P₂ alone (λ₃ = 1); an unseen w₂ backs off
    * to P₁ (λ₂ = 1) — every log stays finite.
    *
    * Every model table is a RE-AGGREGATION of the one
    * trigram count table (the count-of-count statistics KN needs are
    * exactly one groupBy each), and scoring is six keyed equi-joins
    * on the pre-aggregated (doc, w₁, w₂, w₃, tf) table — the
    * scoreByKneserNey plan shape one order up. Integer counts,
    * correctly-rounded IEEE ops, identical SQL tree: exactly
    * replayable. Output: (doc, n_trigrams, n_oov, mean_logprob, ppl);
    * n_oov counts unseen trigrams. Documents with fewer than 3 tokens
    * score the neutral empty product. */
  def scoreByKneserNey3(docs: DataFrame, refCorpus: DataFrame,
                        idCol: String, textCol: String,
                        discount: Double = 0.75,
                        alpha: Double = 0.5): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1), got $discount")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val tri = refTrigramCounts(refCorpus, textCol)
    // each tri row is one distinct (w1,w2,w3) TYPE, so per-key
    // count(*) aggregates ARE the N₁₊ statistics
    val ctx12 = tri.groupBy("w1", "w2")
      .agg(sum("_c123").as("_c12d"), count(lit(1)).as("_n1f12"))
    // bgCont is NOT cut, deliberately (measured r19): its three
    // re-computations (ctx2, uniCont, totals — the executed plan shows
    // the (w2,w3) agg subtree 3×) run as CONCURRENT broadcast-build
    // futures over the tri checkpoint's blocks on otherwise-idle
    // cores, while a lazy cut serialized every consumer behind one
    // block-copy materialization (taskRunSum 2–3 s → 4.6–6.5 s,
    // wall +0.4 s). Dedup-vs-recompute flips in favor of a cut only
    // when the duplicated subtree carries its own wide shuffle of
    // corpus-scale rows — here it re-reads already-materialized
    // checkpoint blocks.
    val bgCont = tri.groupBy("w2", "w3").agg(count(lit(1)).as("_n1b23"))
    val ctx2 = bgCont.groupBy("w2")
      .agg(sum("_n1b23").as("_nmid"), count(lit(1)).as("_n1f2"))
    val uniCont = bgCont.groupBy("w3").agg(count(lit(1)).as("_n1b3"))
    val tot = bgCont.agg(count(lit(1)).cast("double").as("_nbt"),
      countDistinct("w3").cast("double").as("_V3"))
    val docTg = docs.select(col(idCol).as("doc"),
        TextFns.tokens(lower(col(textCol))).as("_toks"))
      .select(col("doc"), explode(trigramsOf(col("_toks"))).as("_tg"))
      .select(col("doc"), col("_tg.w1").as("w1"), col("_tg.w2").as("w2"),
        col("_tg.w3").as("w3"))
      .groupBy("doc", "w1", "w2", "w3").agg(count(lit(1)).as("tf"))
    val d = discount
    val p1 = (coalesce(col("_n1b3"), lit(0L)).cast("double") + lit(alpha)) /
      (col("_nbt") + lit(alpha) * (col("_V3") + lit(1.0)))
    val nmid = col("_nmid").cast("double")
    val p2 = when(col("_nmid").isNotNull,
        greatest(coalesce(col("_n1b23"), lit(0L)).cast("double") -
          lit(d), lit(0.0)) / nmid +
          lit(d) * col("_n1f2").cast("double") / nmid * p1)
      .otherwise(p1)
    val c12d = col("_c12d").cast("double")
    val p3 = when(col("_c12d").isNotNull,
        greatest(coalesce(col("_c123"), lit(0L)).cast("double") -
          lit(d), lit(0.0)) / c12d +
          lit(d) * col("_n1f12").cast("double") / c12d * p2)
      .otherwise(p2)
    val scored = docTg
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx12, Seq("w1", "w2"), "left")
      .join(bgCont, Seq("w2", "w3"), "left")
      .join(ctx2, Seq("w2"), "left")
      .join(uniCont, Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc"), col("tf"),
        when(col("_c123").isNull, lit(1L)).otherwise(lit(0L)).as("_oov"),
        log(p3).as("_logp"))
    finishScores(docs, idCol, scored, "n_trigrams")
  }

  /** Fit-time order-3 KN artifact for the stream deploy: the five
    * model tables (each a re-aggregation of the one cut
    * trigram type table) plus the two totals collected once — the
    * KnModel/SbModel convention. */
  final case class Kn3Model(tri: DataFrame, ctx12: DataFrame,
                            bgCont: DataFrame, ctx2: DataFrame,
                            uniCont: DataFrame, nBigramContTypes: Double,
                            vSucc: Double, discount: Double, alpha: Double)

  /** Train the order-3 interpolated KN model of [[scoreByKneserNey3]]
    * once, as a deployable artifact (one tokenize pass + one 2-scalar
    * collect). */
  def fitKneserNey3(refCorpus: DataFrame, textCol: String,
                    discount: Double = 0.75,
                    alpha: Double = 0.5): Kn3Model = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0, 1), got $discount")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val tri = refTrigramCounts(refCorpus, textCol)
    val ctx12 = tri.groupBy("w1", "w2")
      .agg(sum("_c123").as("_c12d"), count(lit(1)).as("_n1f12"))
    val bgCont = tri.groupBy("w2", "w3").agg(count(lit(1)).as("_n1b23"))
    val ctx2 = bgCont.groupBy("w2")
      .agg(sum("_n1b23").as("_nmid"), count(lit(1)).as("_n1f2"))
    val uniCont = bgCont.groupBy("w3").agg(count(lit(1)).as("_n1b3"))
    val r = bgCont.agg(count(lit(1)).cast("double"),
      countDistinct("w3").cast("double")).head()
    Kn3Model(tri, ctx12, bgCont, ctx2, uniCont,
      r.getDouble(0), r.getDouble(1), discount, alpha)
  }

  /** Score each document under a trigram STUPID BACKOFF model of
    * `refCorpus` (Brants et al., "Large Language Models in Machine
    * Translation", EMNLP 2007 §4 — the smoothing invented FOR
    * distributed trillion-token corpora: no discounting pass, no
    * normalization, every model table a plain count, which is exactly
    * why it is the right n-gram model at 100 TB where KN's
    * count-of-count statistics become another full shuffle each):
    *
    * `S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)` if the trigram was seen, else
    * `λ·S(w₃|w₂)`; `S(w₃|w₂) = c(w₂w₃)/c(w₂)` if the bigram was seen,
    * else `λ·S(w₃)`; the unigram floor carries the library's add-α
    * OOV slot `S(w₃) = (c(w₃)+α)/(N+α(V+1))` so every log stays
    * finite (Brants' S(wᵢ) = c(wᵢ)/N gives an unseen token zero
    * mass, which no scoring filter can ship — same convention as the
    * models above). λ = 0.4 is the paper's backoff factor. S is a
    * SCORE, not a normalized probability (the paper's point: skipping
    * normalization is what makes the model embarrassingly parallel);
    * `mean_logprob`/`ppl` keep their ladder names so banding code is
    * model-agnostic, but read them as mean log-score and its exp.
    *
    * Plan shape: the reference tokenizes ONCE into a cut
    * token-array table (at cluster scale this is the "write the
    * tokenized corpus to a temp table" step every n-gram pipeline
    * has); the three count tables are then three explode→groupBy
    * aggregates over the materialized arrays — each map-side combined,
    * none re-reading raw text. Scoring pre-aggregates to
    * (doc, w₁, w₂, w₃, tf) and takes five keyed equi-joins (trigram,
    * both backoff bigram slots, both unigram slots) — AQE broadcasts
    * the model tables when small, shuffles when a web-scale
    * vocabulary is not. Token totals ride as a 1-row broadcast.
    *
    * Every count is an integer and every arithmetic step a
    * correctly-rounded IEEE double op written identically in the SQL
    * oracle, so the model replays exactly. Output:
    * (doc, n_trigrams, n_oov, mean_logprob, ppl); n_oov counts unseen
    * TRIGRAMS (either backoff branch). Documents with fewer than 3
    * tokens score the neutral empty product (mean 0, ppl 1). */
  def scoreByStupidBackoff(docs: DataFrame, refCorpus: DataFrame,
                           idCol: String, textCol: String,
                           lambda: Double = 0.4,
                           alpha: Double = 0.5): DataFrame = {
    require(lambda > 0 && lambda < 1,
      s"lambda must be in (0, 1), got $lambda")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val (uni, bi, tri) = refNgramCounts(refCorpus, textCol)
    val tot = uni.agg(sum("_cu").cast("double").as("_N"),
      count(lit(1)).cast("double").as("_V"))
    val docTg = docs.select(col(idCol).as("doc"),
        TextFns.tokens(lower(col(textCol))).as("_toks"))
      .select(col("doc"), explode(trigramsOf(col("_toks"))).as("_tg"))
      .select(col("doc"), col("_tg.w1").as("w1"), col("_tg.w2").as("w2"),
        col("_tg.w3").as("w3"))
      .groupBy("doc", "w1", "w2", "w3").agg(count(lit(1)).as("tf"))
    // the five model lookups; a seen trigram implies a seen (w1,w2)
    // prefix and a seen (w2,w3) bigram implies a seen w2, so the
    // denominators of the taken branches are never null
    val scored = docTg
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("_cb").as("_c12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("_cb").as("_c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("_cu").as("_c2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("_cu").as("_c3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc"), col("tf"),
        when(col("_c123").isNull, lit(1L)).otherwise(lit(0L)).as("_oov"), {
          val sUni = (coalesce(col("_c3"), lit(0L)).cast("double") +
              lit(alpha)) /
            (col("_N") + lit(alpha) * (col("_V") + lit(1.0)))
          val sBi = when(col("_c23").isNotNull,
              col("_c23").cast("double") / col("_c2").cast("double"))
            .otherwise(lit(lambda) * sUni)
          val sTri = when(col("_c123").isNotNull,
              col("_c123").cast("double") / col("_c12").cast("double"))
            .otherwise(lit(lambda) * sBi)
          log(sTri).as("_logp")
        })
    finishScores(docs, idCol, scored, "n_trigrams")
  }

  /** Row counts per distinct `keys` of an n-gram stream, named `out`.
    * The keys are declared not null: [[TextFns.tokens]] never yields a
    * null token, so the filter drops nothing, but it makes redundant
    * the not-null filters Catalyst infers from each consumer's join
    * keys and pushes below the count exchange. Every consumer then
    * plans the identical exchange, and adaptive execution reuses it
    * instead of running one count shuffle per key set. */
  private def countsOf(grams: DataFrame, out: String,
                       keys: String*): DataFrame =
    grams.filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as(out))

  /** The reference corpus's non-empty token arrays, one `_toks` row
    * per document. */
  private def refTokens(refCorpus: DataFrame, textCol: String): DataFrame =
    refCorpus.select(TextFns.tokens(lower(col(textCol))).as("_toks"))
      .filter(size(col("_toks")) > 0)

  /** Distinct-trigram counts (w1, w2, w3, _c123) of the reference
    * corpus, cut: the KN3 model re-aggregates them through several
    * different exchanges (measured: without the cut kn3_ppl ran every
    * trigram shuffle twice, shuffleMB 4.2 → 5.9 at ×4, and was no
    * faster). The guard reads the token arrays (a limit-1 scan), not
    * the count shuffle. */
  private def refTrigramCounts(refCorpus: DataFrame,
                               textCol: String): DataFrame = {
    val toks = refTokens(refCorpus, textCol)
    require(!toks.filter(size(col("_toks")) >= 3).isEmpty,
      "reference corpus has no trigrams: refusing to train an empty " +
        "KN3 model (every document would score ppl = 1)")
    Cut.of(trigramCounts(toks), Cut.Reread)
  }

  /** Distinct-trigram counts (w1, w2, w3, _c123) of a [[refTokens]]
    * table. */
  private def trigramCounts(toks: DataFrame): DataFrame =
    countsOf(toks.select(explode(trigramsOf(col("_toks"))).as("_tg"))
      .select(col("_tg.w1").as("w1"), col("_tg.w2").as("w2"),
        col("_tg.w3").as("w3")), "_c123", "w1", "w2", "w3")

  /** The three n-gram count tables of the stupid-backoff model: one
    * tokenize pass cut once (a cut, not persist(): persist() measured
    * 1.6× slower on kn3_ppl — token-array frames are pathological for
    * the columnar cache), then uni/bi/tri re-aggregate the ARRAYS —
    * never re-reading raw text. The three explodes feed three
    * different exchanges, so without the cut each would re-tokenize
    * the scan. uni and bi are not cut: the scoring joins read uni
    * three times and bi twice inside one plan, and adaptive execution
    * plans each repeat as a `ReusedExchange` of the one count shuffle
    * (see [[countsOf]]; `ExchangeReuseSpec` asserts it). Loud non-empty
    * guard: see unigramVocab. */
  private def refNgramCounts(refCorpus: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val refToks = Cut.of(refTokens(refCorpus, textCol), Cut.Reread)
    require(!refToks.isEmpty,
      "reference corpus has no tokens: refusing to train an empty " +
        "n-gram model (every document would score ppl = 1)")
    val uni = countsOf(refToks.select(explode(col("_toks")).as("w")), "_cu", "w")
    val bi = countsOf(refToks.select(explode(bigramsOf(col("_toks"))).as("_bg"))
      .select(col("_bg.w1").as("w1"), col("_bg.w2").as("w2")), "_cb", "w1", "w2")
    (uni, bi, trigramCounts(refToks))
  }

  /** Fit-time Stupid Backoff artifact for the stream deploy: the three
    * count tables plus the two token totals collected once — the
    * [[graft.stream.Streaming]] deploy joins the tables stream-static
    * and carries the totals as literals (the KnModel convention). */
  final case class SbModel(uni: DataFrame, bi: DataFrame, tri: DataFrame,
                           nTokens: Double, vocab: Double,
                           lambda: Double, alpha: Double)

  /** Train the trigram Stupid Backoff model of [[scoreByStupidBackoff]]
    * once, as a deployable artifact (one tokenize pass + one 2-scalar
    * collect). */
  def fitStupidBackoff(refCorpus: DataFrame, textCol: String,
                       lambda: Double = 0.4,
                       alpha: Double = 0.5): SbModel = {
    require(lambda > 0 && lambda < 1,
      s"lambda must be in (0, 1), got $lambda")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val (uni, bi, tri) = refNgramCounts(refCorpus, textCol)
    val r = uni.agg(sum("_cu").cast("double"),
      count(lit(1)).cast("double")).head()
    SbModel(uni, bi, tri, r.getDouble(0), r.getDouble(1), lambda, alpha)
  }

  /** Adjacent token TRIPLES from a token-ARRAY column, the order-3
    * sibling of [[bigramsOf]]: a zip of the three shifted slices
    * (empty below 3 tokens — slice length clamps to 0). */
  private[graft] def trigramsOf(toks: Column): Column = {
    val len = greatest(size(toks) - 2, lit(0))
    zip_with(
      zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
        (a, b) => struct(a.as("w1"), b.as("w2"))),
      slice(toks, lit(3), len),
      (p, c) => struct(p.getField("w1").as("w1"),
        p.getField("w2").as("w2"), c.as("w3")))
  }

  /** Adjacent token pairs from a token-ARRAY column as a pure O(n)
    * array expression: `[(t₁,t₂), …, (tₙ₋₁,tₙ)]` via a zip of the two
    * shifted slices (empty below 2 tokens — slice length is clamped
    * to 0, never negative).
    *
    * Takes the ALREADY-PROJECTED token array, not the text: the r10
    * version inlined `TextFns.tokens(lower(text))` inside a
    * `transform(sequence…element_at)` lambda, so the regex
    * tokenization re-ran per array ELEMENT — O(n²·regex) per document
    * and 17 s on 5k docs (the exact hazard Chunk.scala documents).
    * The zip form touches the array a constant number of times per
    * row even if Catalyst collapses the projection. */
  private[graft] def bigramsOf(toks: Column): Column = {
    val len = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Shared scoring tail: tf-weighted mean of `_logp` (round-6 parity
    * contract), perplexity from the ROUNDED mean, and the left join
    * back to the document spine so unscorable documents surface with
    * the neutral empty product instead of disappearing. */
  /** DSIR-style importance selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every candidate under a TARGET-domain unigram LM and a RAW-corpus
    * unigram LM, weight by the likelihood ratio
    * `w = exp(loglik_target − loglik_raw)` (log-ratio clamped to ±30
    * so exp stays finite), then draw `n` docs WITHOUT replacement by
    * [[graft.rel.Sampling.weightedSampleWithoutReplacement]]'s A-ES
    * rule. Plan: one corpus pass per model, vocab-bounded joins, one
    * top-n — nothing sequential, nothing corpus-sized on the driver.
    * Deterministic given `seed` (md5-uniform keys), and every step is
    * SQL-replayable: the doc log-likelihood is the round-6
    * `mean_logprob · n_tokens` both engines already agree on, the
    * clamp is exact, and the exp/pow libm crossings sit behind the
    * sampler's round-9 key. Returns the selected docs with
    * `imp_logratio` attached. */
  def selectByImportance(docs: DataFrame, targetCorpus: DataFrame,
                         rawCorpus: DataFrame, idCol: String,
                         textCol: String, n: Int, alpha: Double = 0.5,
                         seed: Long = 42L): DataFrame = {
    // zero-token documents are EXCLUDED from the draw: finishScores
    // gives them the neutral mean 0, which here would become the
    // corpus-average importance weight exp(0) = 1 — an unscorable page
    // sampling at mean importance is wrong for a selection operator,
    // and the oracle's inner joins on the scored CTEs never see it
    val t = scoreByUnigram(docs, targetCorpus, idCol, textCol, alpha)
      .filter(col("n_tokens") > 0)
      .select(col("doc").as("_dt"),
        (col("mean_logprob") * col("n_tokens").cast("double")).as("_llt"))
    val r = scoreByUnigram(docs, rawCorpus, idCol, textCol, alpha)
      .select(col("doc").as("_dr"),
        (col("mean_logprob") * col("n_tokens").cast("double")).as("_llr"))
    val weighted = docs
      .join(t, col(idCol) === col("_dt"))
      .join(r, col(idCol) === col("_dr"))
      .withColumn("imp_logratio",
        least(greatest(col("_llt") - col("_llr"), lit(-30.0)), lit(30.0)))
      .withColumn("_imp_w", exp(col("imp_logratio")))
      .drop("_dt", "_dr", "_llt", "_llr")
    graft.rel.Sampling.weightedSampleWithoutReplacement(
        weighted, idCol, "_imp_w", n, seed)
      .drop("_imp_w")
  }

  private def finishScores(docs: DataFrame, idCol: String,
                           scored: DataFrame, nName: String): DataFrame = {
    val agg = scored.groupBy("doc")
      .agg(sum("tf").as(nName),
        sum(col("_oov") * col("tf")).as("n_oov"),
        round(sum(col("_logp") * col("tf").cast("double")) /
          sum(col("tf")).cast("double"), 6).as("mean_logprob"))
      .withColumn("ppl", round(exp(-col("mean_logprob")), 6))
    docs.select(col(idCol).as("doc")).distinct()
      .join(agg, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col(nName), lit(0L)).as(nName),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("mean_logprob"), lit(0.0)).as("mean_logprob"),
        coalesce(col("ppl"), lit(1.0)).as("ppl"))
  }
}
