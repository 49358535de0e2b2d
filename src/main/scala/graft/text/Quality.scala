package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document quality scoring and language identification — the
  * training-data-pipeline operators (north-star additions; quality
  * heuristics follow `text_analysis` gofast/utils/text.py:838).
  * Pure column expressions: one streaming pass, no shuffle.
  */
object Quality {

  /** Flesch–Kincaid readability (Kincaid et al. 1975) — the classic
    * surface-statistic quality feature web-corpus filters carry
    * alongside the Gopher rules: per document, word / sentence /
    * syllable counts and the two FK scores. Sentence count = terminal-
    * punctuation runs on the RAW text with a floor of 1 (a lookbehind
    * split would not replay in RE2 engines); syllables are
    * vowel-group counts with the standard ≥ 1-per-word floor. Pure
    * codegen projection — no shuffle, no UDF. Zero-word documents
    * keep NULL scores (undefined, not zero). */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val out = transform(array(struct(
      TextFns.tokens(TextFns.cleanText(col(textCol))).as("t"),
      greatest(size(regexp_extract_all(col(textCol), lit("[.!?]+"),
        lit(0))), lit(1)).as("ns"))), s0 => {
      val toks = s0.getField("t")
      val w = size(toks).cast("double")
      val sn = s0.getField("ns").cast("double")
      val syl = aggregate(transform(toks, t =>
          greatest(size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))),
            lit(1))),
        lit(0), (acc, x) => acc + x).cast("double")
      struct(w.cast("long").as("w"), sn.cast("long").as("s"),
        syl.cast("long").as("syl"),
        when(w > 0, round(lit(206.835) - lit(1.015) * (w / sn) -
          lit(84.6) * (syl / w), 6)).as("ease"),
        when(w > 0, round(lit(0.39) * (w / sn) +
          lit(11.8) * (syl / w) - lit(15.59), 6)).as("grade"))
    }).getItem(0)
    df.select(col(idCol), out.as("_r"))
      .select(col(idCol), col("_r.w").as("n_words"),
        col("_r.s").as("n_sentences"), col("_r.syl").as("n_syllables"),
        col("_r.ease").as("fk_ease"), col("_r.grade").as("fk_grade"))
  }

  private val defaultStopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Length, punctuation ratio, stopword ratio, mean token length,
    * digit ratio — the standard cheap quality signals. All ratios are
    * exact integer-count divisions. */
  def qualityScores(df: DataFrame, textCol: String,
                    stopwords: Seq[String] = defaultStopwords): DataFrame = {
    val c = col(textCol)
    val len = length(c).cast("double")
    val toks = TextFns.tokens(c)
    val nTok = size(toks).cast("double")
    // stopword match is on LOWERCASED tokens: sentence-initial "The"
    // must count — a case-sensitive match systematically undercounted
    // the ratio on ordinary prose
    val nStop = size(array_intersect_keep(
      transform(toks, t => lower(t)), stopwords)).cast("double")
    df.withColumn("n_chars_q", length(c))
      .withColumn("n_tokens", size(toks))
      .withColumn("punct_ratio",
        when(len === 0, 0.0)
          .otherwise(size(regexp_extract_all(c, lit("[^\\w\\s]"), lit(0))).cast("double") / len))
      .withColumn("digit_ratio",
        when(len === 0, 0.0)
          .otherwise(size(regexp_extract_all(c, lit("[0-9]"), lit(0))).cast("double") / len))
      .withColumn("stopword_ratio",
        when(nTok === 0, 0.0).otherwise(nStop / nTok))
      .withColumn("mean_token_len",
        // Σ token-length == whitespace-stripped length: the SAME
        // integer the interpreted aggregate() HOF summed, but as a
        // codegen'd regexp_replace — the HOF broke whole-stage codegen
        // on the hottest per-row quality pass
        when(nTok === 0, 0.0)
          .otherwise(length(regexp_replace(trim(c), "\\s+", ""))
            .cast("double") / nTok))
  }

  /** Shannon entropy of a document's token distribution (nats):
    * −Σ p·ln p over token frequencies — the repetitiveness signal a
    * training-data filter uses alongside length/stopword ratios.
    * Plan: explode → per-(doc,token) counts → per-doc entropy (exact
    * count ratios; rounded 6 for the ln). */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("doc"),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val n = org.apache.spark.sql.expressions.Window.partitionBy("doc")
    tf.withColumn("_p", col("tf").cast("double") / sum("tf").over(n).cast("double"))
      .groupBy("doc")
      .agg(round(-sum(col("_p") * log(col("_p"))), 6).as("token_entropy"))
  }

  /** Gopher-style repetition signals per document: the fraction of
    * token occurrences belonging to tokens that repeat within the doc,
    * and the most frequent word-bigram with the fraction of the doc's
    * characters it accounts for (count × bigram length / doc chars).
    * High values flag boilerplate/spam for a training-data filter.
    *
    * Both signals are doc-local: one native expression each
    * (`dup_token_counts`, `top_ngram_stats`) inside one projection, no
    * shuffle. Ties break by (count desc, bigram binary asc); docs with
    * <2 tokens surface with an empty bigram and 0. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    val toks = coalesce(TextFns.tokens(col(textCol)),
      array().cast("array<string>"))
    df.select(col(idCol), length(col(textCol)).as("_nc"),
        call_function("dup_token_counts", toks).as("_d"),
        call_function("top_ngram_stats", toks, lit(2)).as("_t"))
      .select(col(idCol),
        coalesce(round(element_at(col("_d"), 2).cast("double") /
          when(element_at(col("_d"), 1) > 0, element_at(col("_d"), 1)),
          9), lit(0.0)).as("dup_token_ratio"),
        col("_t.gram").as("top_bigram"),
        col("_t.cnt").as("top_bigram_n"),
        round(coalesce(
          when(col("_t.cnt") > 0, col("_t.cnt") *
            length(col("_t.gram")).cast("double") / col("_nc")),
          lit(0.0)), 9).as("top_bigram_char_frac"))
  }

  /** Tokens that are stopwords, duplicates preserved (ratio needs
    * multiplicity — `array_intersect` would dedup). */
  private def array_intersect_keep(toks: Column, stop: Seq[String]): Column =
    filter(toks, t => t.isin(stop: _*))

  /** The Gopher quality rule table (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * appendix A1.1) — the standard rule-based page filter a pre-training
    * pipeline runs before any model-based scoring:
    *
    *  - word count within [minWords, maxWords]
    *  - mean word length within [minMeanWordLen, maxMeanWordLen]
    *  - symbol-to-word ratio (`#` or `...` hits per word) ≤ maxSymbolRatio
    *  - fraction of lines starting with a bullet ≤ maxBulletFrac
    *  - fraction of lines ending with an ellipsis ≤ maxEllipsisFrac
    *  - fraction of words containing ≥ 1 alphabetic char ≥ minAlphaFrac
    *  - ≥ minStopHits DISTINCT stop words present
    *
    * Like [[graft.text.C4.c4Clean]], failing pages are FLAGGED
    * (`kept = false`) with every signal exposed, not dropped — the
    * audit stream a 100 TB pipeline needs to tune thresholds. Pure
    * column expressions over one row: no shuffle, no explode — the
    * whole table runs inside one whole-stage-codegen projection.
    * Ratios are exact integer-count divisions rounded 9 BEFORE the
    * threshold comparisons, so an external SQL engine replaying the
    * same rounded values lands on identical flags. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
                  stopwords: Seq[String] = Seq(
                    "the", "be", "to", "of", "and", "that", "have", "with"))
      : DataFrame = {
    val c = col(textCol)
    val toks = TextFns.tokens(c)
    val nW = size(toks).cast("double")
    val lines = split(c, "\n")
    val nL = size(lines).cast("double")
    val meanLen = when(nW === 0, 0.0).otherwise(round(
      length(regexp_replace(trim(c), "\\s+", "")).cast("double") / nW, 9))
    val symRatio = when(nW === 0, 0.0).otherwise(round(
      size(regexp_extract_all(c, lit("#|\\.\\.\\."), lit(0))).cast("double") / nW, 9))
    val bulletFrac = when(nL === 0, 0.0).otherwise(round(
      size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).cast("double") / nL, 9))
    val ellipsisFrac = when(nL === 0, 0.0).otherwise(round(
      size(filter(lines, l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / nL, 9))
    val alphaFrac = when(nW === 0, 0.0).otherwise(round(
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / nW, 9))
    val nStop = size(array_intersect(transform(toks, t => lower(t)),
      typedlit(stopwords)))
    df.select(col(idCol),
        size(toks).as("n_words"), meanLen.as("mean_word_len"),
        symRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
        nStop.as("n_stop"))
      .withColumn("kept",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= minMeanWordLen &&
        col("mean_word_len") <= maxMeanWordLen &&
        col("symbol_ratio") <= maxSymbolRatio &&
        col("bullet_frac") <= maxBulletFrac &&
        col("ellipsis_frac") <= maxEllipsisFrac &&
        col("alpha_frac") >= minAlphaFrac &&
        col("n_stop") >= minStopHits)
  }

  /** Gopher's duplicated n-gram signal: the fraction of a document's
    * characters covered by word n-grams that occur ≥ minOccur times
    * WITHIN the document (Rae et al. 2021 table A1's "duplicate n-gram
    * character fraction" — their strongest repetition filter for
    * n ≥ 5; [[repetitionStats]] covers the top-bigram variant).
    * Coverage is positional: a token counts once however many
    * duplicated n-grams overlap it, and "characters" are token
    * characters (whitespace-free — the same Σ token-length integer
    * [[qualityScores]] uses). Empty docs and docs with no duplicated
    * n-gram surface with frac 0.
    *
    * Duplicate coverage is doc-local: one native `dup_ngram_chars`
    * expression per row, NO shuffle at all (the EvalMetrics
    * row-local rule). */
  def dupNgramCharFrac(df: DataFrame, idCol: String, textCol: String,
                       n: Int, minOccur: Int = 2): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(minOccur >= 2, "minOccur must be >= 2")
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(col(idCol),
        call_function("dup_ngram_chars",
          coalesce(TextFns.tokens(col(textCol)),
            array().cast("array<string>")),
          lit(n), lit(minOccur)).as("_d"))
      .select(col(idCol),
        element_at(col("_d"), 1).as("total_chars"),
        element_at(col("_d"), 2).as("dup_chars"))
      .withColumn("dup_ngram_char_frac",
        round(coalesce(col("dup_chars").cast("double") /
          when(col("total_chars") > 0, col("total_chars")), lit(0.0)), 9))
  }

  /** Marker-word language scores + argmax prediction.
    *
    * Language-ID heuristic (north-star): count hits of per-language
    * marker words (top stopwords), predict the language with the most
    * hits; ties resolve in the fixed `profiles` order. O(tokens) per
    * row, no shuffle — at 100 TB this is the right first-pass filter
    * before any model-based ID.
    */
  def langId(df: DataFrame, textCol: String,
             profiles: Seq[(String, Seq[String])] = Seq(
               "en" -> Seq("the", "and", "of", "to", "is"),
               "de" -> Seq("der", "die", "und", "das", "ist"),
               "es" -> Seq("el", "la", "los", "que", "es"),
               "fr" -> Seq("le", "la", "les", "des", "est"),
               "zh" -> Seq("的", "是", "了", "在", "我"))): DataFrame = {
    val toks = TextFns.tokens(lower(col(textCol)))
    val scored = profiles.foldLeft(df) { case (d, (lang, markers)) =>
      d.withColumn(s"_score_$lang", size(filter(toks, t => t.isin(markers: _*))))
    }
    // argmax with fixed precedence: later profiles win only on strictly
    // greater score.
    val pred = profiles.tail.foldLeft(
      (lit(profiles.head._1), col(s"_score_${profiles.head._1}"))) {
      case ((bestLang, bestScore), (lang, _)) =>
        val s = col(s"_score_$lang")
        (when(s > bestScore, lit(lang)).otherwise(bestLang),
         when(s > bestScore, s).otherwise(bestScore))
    }._1
    scored.withColumn("lang_pred", pred)
      .drop(profiles.map(p => s"_score_${p._1}"): _*)
  }

  /** Gopher's TOP n-gram signal: the most frequent word n-gram per
    * document and the fraction of the document's token characters its
    * occurrences account for (count × gram token chars ÷ total token
    * chars — Rae et al. 2021 table A1 applies this for n = 2..4;
    * [[dupNgramCharFrac]] is the companion duplicate-mass signal for
    * larger n). Occurrences may overlap, so the fraction can exceed 1
    * on pathological repetition ("a a a a"'s top bigram) — that IS the
    * boilerplate signal, don't clamp it. Ties break by (count desc,
    * gram binary asc); docs shorter than n tokens surface with an
    * empty gram and 0.
    *
    * The modal gram of a document is doc-local: one native
    * `top_ngram_stats` expression per row, NO shuffle at all. */
  def topNgramCharFrac(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    graft.functions.NativeFunctions.register(df.sparkSession)
    val toks = coalesce(TextFns.tokens(col(textCol)),
      array().cast("array<string>"))
    df.select(col(idCol),
        call_function("top_ngram_stats", toks, lit(n)).as("_t"),
        length(array_join(toks, "")).as("_tot"))
      .select(col(idCol),
        col("_t.gram").as("top_ngram"),
        col("_t.cnt").as("top_ngram_n"),
        // cnt = 0 guard: 0 · (len("") − (n−1)) is IEEE −0.0; a doc
        // with no gram reads +0.0
        round(coalesce(
          when(col("_t.cnt") > 0,
            col("_t.cnt").cast("double") *
              (length(col("_t.gram")) - lit(n - 1)) /
              when(col("_tot") > 0, col("_tot"))),
          lit(0.0)), 9).as("top_ngram_char_frac"))
  }

  /** Token-budget sampling — the data-mixing step of a training run:
    * within each source, keep the best-scoring documents until the
    * per-source token budget is spent (the first doc to cross the
    * line is kept, so every non-empty source with a positive budget
    * contributes at least one doc). Deterministic: ordered by
    * (score desc, id asc). One shuffle keyed by source; the running
    * cumsum is a window over that partition — at 100 TB each source
    * must be processed by one task, so shard huge single sources by a
    * salted sub-source key first if a source alone exceeds a task's
    * comfortable row count. */
  def selectByTokenBudget(df: DataFrame, idCol: String, sourceCol: String,
                          scoreCol: String, tokenCol: String,
                          budgetPerSource: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetPerSource > 0, "budget must be positive")
    // ROWS frame, not the default RANGE: rows tied on (score, id) must
    // each carry their own running sum (RANGE gives peers one shared
    // cumulative value, so a duplicate id could blow the budget), and
    // the SQL oracle pins ROWS ... CURRENT ROW.
    val w = Window.partitionBy(sourceCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(tokenCol)).over(w))
      .filter(col("_cum") - col(tokenCol) < budgetPerSource)
      .drop("_cum")
  }

  /** The at-scale form of [[selectByTokenBudget]]: the per-source
    * running cumsum computed as a distributed TWO-LEVEL prefix sum
    * (the [[Shards.packShards]] trick applied to the selection rule)
    * instead of one window per source — a source's whole corpus never
    * concentrates in a single task.
    *
    * `bucketExpr` is the caller-chosen coarse key and must respect the
    * selection order: a pure function of the SCORE (so tied rows share
    * a bucket) that is monotone NON-INCREASING in it — better-scoring
    * rows land in lower-or-equal buckets (e.g. `-floor(score)`, or
    * `floor(ppl * 10)` when score = −ppl). Per-(source, bucket) token
    * totals aggregate map-side into a BOUNDED table, exclusive bucket
    * offsets are one window over THAT table, and each row adds its
    * within-bucket cumsum (window keyed by (source, bucket)) to its
    * bucket's offset — identical running sums to the one-window form,
    * therefore identical selections, which the spec asserts and which
    * lets an external engine replay the single-window SQL.
    *
    * A NULL bucket fails loudly (AssertNotNull): the offsets equi-join
    * would silently drop the row — the packShards rule. */
  def selectByTokenBudgetBucketed(df: DataFrame, idCol: String,
                                  sourceCol: String, scoreCol: String,
                                  tokenCol: String, budgetPerSource: Long,
                                  bucketExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetPerSource > 0, "budget must be positive")
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    import org.apache.spark.sql.GraftColumnBridge
    val spark = df.sparkSession
    val withB = df.withColumn("_bk",
      GraftColumnBridge.toColumn(AssertNotNull(
        GraftColumnBridge.toExpr(spark, bucketExpr.cast("long")))))
    val offsets = withB.groupBy(sourceCol, "_bk")
      .agg(sum(col(tokenCol).cast("long")).as("_bt"))
      .withColumn("_off",
        coalesce(sum(col("_bt")).over(
          Window.partitionBy(sourceCol).orderBy("_bk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_bt")
    val w = Window.partitionBy(col(sourceCol), col("_bk"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(offsets, Seq(sourceCol, "_bk"))
      .withColumn("_cum",
        col("_off") + sum(col(tokenCol).cast("long")).over(w))
      .filter(col("_cum") - col(tokenCol).cast("long") < budgetPerSource)
      .drop("_bk", "_off", "_cum")
  }

  /** Global token-budget mixing — the stratified data-mixing step of a
    * training run (the reference's `batch_sampling` stratified
    * semantics, gofast/utils/ml/data_handling.py:5677 region, lifted
    * from rows to tokens): one GLOBAL token budget is split across
    * sources by `weights` (normalized to their sum; a source absent
    * from `weights` contributes nothing), optionally clamped by hard
    * per-source `caps`, and each source then keeps its best-scoring
    * docs until its share is spent — same first-doc-over-the-line rule
    * and (score desc, id asc) determinism as [[selectByTokenBudget]].
    *
    * The per-source shares are computed once driver-side (bounded: one
    * entry per source) and join the plan as a literal CASE chain, so
    * the distributed work is identical to the per-source variant: one
    * shuffle keyed by source plus the per-partition running cumsum. */
  def selectByTokenBudgetGlobal(df: DataFrame, idCol: String,
                                sourceCol: String, scoreCol: String,
                                tokenCol: String, totalBudget: Long,
                                weights: Map[String, Double],
                                caps: Map[String, Long] = Map.empty)
      : DataFrame = {
    require(totalBudget > 0, "total budget must be positive")
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ >= 0.0), "weights must be >= 0")
    val sumW = weights.values.sum
    require(sumW > 0.0, "at least one weight must be positive")
    val budgets = weights.map { case (src, wgt) =>
      val share = math.floor(totalBudget.toDouble * (wgt / sumW)).toLong
      src -> math.min(share, caps.getOrElse(src, Long.MaxValue))
    }
    applyBudgets(df, idCol, sourceCol, scoreCol, tokenCol, budgets.toSeq)
  }

  /** Shared selection rule of the global/temperature mixers: the
    * per-source budget table joins as a literal CASE chain, zero-budget
    * sources drop, and each source keeps its (score desc, id asc)-best
    * docs until the first one over the line. ONE place owns the
    * boundary semantics so the mixing APIs cannot drift apart. */
  private def applyBudgets(df: DataFrame, idCol: String, sourceCol: String,
                           scoreCol: String, tokenCol: String,
                           budgets: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a null source name can never match the equality CASE chain below
    // (NULL === x is NULL → budget 0 → dropped), and Ordering[String]
    // NPEs on null keys — reject it as a caller error rather than
    // letting one null-sourced row crash the sortBy
    require(budgets.forall(_._1 != null),
      "budget source names must be non-null (null-source rows are never selected)")
    val budgetExpr = budgets.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (src, b)) =>
        when(col(sourceCol) === lit(src), lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(sourceCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_bud", budgetExpr)
      .filter(col("_bud") > 0L)
      .withColumn("_cum", sum(col(tokenCol)).over(w))
      .filter(col("_cum") - col(tokenCol) < col("_bud"))
      .drop("_bud", "_cum")
  }

  /** Temperature-weighted token-budget mixing — the Pile/T5-style
    * α-sampling rule: source s gets weight tokens(s)^α, so α = 1
    * reproduces the natural distribution, α = 0 splits the budget
    * evenly, and 0 < α < 1 up-weights small sources (the standard
    * way to keep a rare high-quality source from drowning).
    *
    * The per-source token totals are exact BIGINT aggregates; the
    * weight math (pow, the normalizing sum, the budget floor) runs as
    * SPARK SQL EXPRESSIONS over the bounded one-row-per-source total
    * table, each libm-crossing step pinned by round(·, 9) — so an
    * external SQL engine replaying the same formula lands on
    * bit-identical budgets. Selection then reuses the same
    * (score desc, id asc) window rule as [[selectByTokenBudgetGlobal]].
    */
  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): spread one global token budget as
    * UNIFORMLY as possible across sources, except that no source may
    * repeat more than `maxEpochs` times — i.e. source s is capped at
    * `floor(tokens(s) · maxEpochs)`. Small sources saturate their cap;
    * the leftover budget waterfills evenly over the rest. This is the
    * standard alternative to temperature sampling when a corpus has a
    * few giant sources and a long tail of small ones.
    *
    * The waterfill is solved in closed form over the bounded
    * one-row-per-source cap table (caps ascending, source tiebreak):
    * source i saturates iff `cap_i ≤ (B − pre_{i−1}) ÷ (n − i + 1)`
    * (INTEGER division — the real-valued condition is monotone along
    * the ascending order, so the saturated set is a prefix), and every
    * unsaturated source gets `level = (B − preJ) ÷ (n − j)`. All
    * arithmetic is exact BIGINT, so an external SQL engine replays the
    * identical budgets with window functions alone — no float anywhere
    * except the `maxEpochs` cap product, which both engines compute as
    * `floor(double(tokens) · maxEpochs)`. Selection then reuses the
    * same (score desc, id asc) first-doc-over-the-line window rule as
    * the other mixers. */
  def selectByTokenBudgetUniMax(df: DataFrame, idCol: String,
                                sourceCol: String, scoreCol: String,
                                tokenCol: String, totalBudget: Long,
                                maxEpochs: Double): DataFrame = {
    require(totalBudget > 0, "total budget must be positive")
    require(maxEpochs > 0.0, "maxEpochs must be positive")
    val caps = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).as("_src"))
      .agg(sum(col(tokenCol)).as("_t"))
      .select(col("_src"),
        floor(col("_t").cast("double") * lit(maxEpochs)).cast("long").as("_cap"))
      .collect()
      .map(r => (r.getString(0), math.max(0L, r.getLong(1))))
      .sortBy { case (s, c) => (c, s) } // caps ascending, source tiebreak
    require(caps.nonEmpty, "no tokens to mix")
    val n = caps.length
    // saturated prefix: integer-division form of cap_i·(n−i+1) ≤ B−pre_{i−1}
    // (overflow-free, and exactly the condition a SQL replay evaluates)
    var pre = 0L
    var j = 0
    while (j < n && totalBudget - pre >= 0 &&
      caps(j)._2 <= (totalBudget - pre) / (n - j)) {
      pre += caps(j)._2
      j += 1
    }
    val level = if (j >= n) Long.MaxValue else (totalBudget - pre) / (n - j)
    val budgets = caps.zipWithIndex.map { case ((src, cap), i) =>
      src -> (if (i < j) cap else math.min(cap, level))
    }
    applyBudgets(df, idCol, sourceCol, scoreCol, tokenCol, budgets.toSeq)
  }

  def selectByTokenBudgetTemperature(df: DataFrame, idCol: String,
                                     sourceCol: String, scoreCol: String,
                                     tokenCol: String, totalBudget: Long,
                                     alpha: Double,
                                     caps: Map[String, Long] = Map.empty)
      : DataFrame = {
    require(totalBudget > 0, "total budget must be positive")
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0, 1]")
    // null-source rows can never win budget (the selection CASE chain
    // is an equality match), so excluding them here keeps their tokens
    // out of the weight normalization too — otherwise they would
    // deflate every real source's share while being unselectable
    // persisted across its TWO bounded aggregations (normalizer, then
    // budgets): without it each one re-runs the full-input groupBy —
    // one wasted corpus pass per call at scale
    val wdf = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).as("_src"))
      .agg(sum(col(tokenCol)).as("_t"))
      .select(col("_src"),
        round(pow(col("_t").cast("double"), lit(alpha)), 9).as("_w"))
      .persist()
    try {
      // bounded driver materialization: one row per source. sum over an
      // EMPTY weight table aggregates to NULL — surface that as the
      // designed error, not a getDouble NPE
      val sumWRow = wdf.agg(round(sum(col("_w")), 9)).head()
      require(!sumWRow.isNullAt(0) && sumWRow.getDouble(0) > 0.0,
        "no tokens to mix")
      val sumW = sumWRow.getDouble(0)
      val budgets = wdf.select(col("_src"),
          floor(lit(totalBudget.toDouble) * (col("_w") / lit(sumW)))
            .cast("long").as("_b"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .map { case (src, b) => src -> math.min(b, caps.getOrElse(src, Long.MaxValue)) }
      applyBudgets(df, idCol, sourceCol, scoreCol, tokenCol, budgets.toSeq)
    } finally wdf.unpersist()
  }
}
