package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import graft.core.{Tables => T}
import graft.text.{Dedup, Quality, TextFns, CorpusStats}

/** Registry queries for `graft.text` language models, quality filters,
  * token budgets, chunking, shard packing and corpus statistics: the
  * LLM-corpus preparation stages.
  */
object TextLmEntries extends Entries {

  import TextEntries.cleanSql

  private val tokArr = "string_split_regex(trim(text), '\\s+')"

  private def ntok = s"CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len($tokArr) END"

  /** Deterministic C4 fixture line j of doc `id` (Spark side): 2-5
    * words, 1/3 of lines missing terminal punctuation, periodic
    * "javascript" insertions. The SQL twin is [[lineSql]]. */
  private def lineCol(id: Column, j: Int): Column = {
    val words = array((1 to 5).map(k =>
      concat(lit("w"), ((id * 5 + lit(j * 3 + k)) % 50).cast("string"))): _*)
    val wc = ((id + lit(j)) % 4 + 2).cast("int")
    val base = array_join(slice(words, lit(1), wc), " ")
    val js = when((id + lit(7 * j)) % 11 === 0, lit(" javascript"))
      .otherwise(lit(""))
    val punct = when((id + lit(2 * j)) % 3 === 0, lit(""))
      .when((id + lit(2 * j)) % 3 === 1, lit("."))
      .otherwise(lit("!"))
    concat(base, js, punct)
  }

  private def lineSql(j: Int): String = {
    val words = (1 to 5).map(k =>
      s"'w'||CAST((id*5+${j * 3 + k})%50 AS VARCHAR)").mkString(", ")
    s"array_to_string(([$words])[1 : CAST((id+$j)%4+2 AS INT)], ' ')" +
      s" || CASE WHEN (id+${7 * j})%11=0 THEN ' javascript' ELSE '' END" +
      s" || CASE (id+${2 * j})%3 WHEN 0 THEN '' WHEN 1 THEN '.' ELSE '!' END"
  }

  /** The 240-doc C4 fixture: 3 lines each, plus periodic page-level
    * "lorem ipsum" / brace poisoning. */
  private def c4Fixture(s: SparkSession): DataFrame = {
    val id = col("id")
    s.range(240).select(id.as("doc_id"),
      concat(
        lineCol(id, 0),
        when(id % 13 === 0, lit(" lorem ipsum.")).otherwise(lit("")),
        lit("\n"),
        lineCol(id, 1),
        when(id % 17 === 0, lit(" {v}.")).otherwise(lit("")),
        lit("\n"),
        lineCol(id, 2)).as("text"))
  }

  // single-line on purpose: this nests inside stripMargin oracle
  // templates, and a line starting with '||' would lose its first
  // pipe to the OUTER stripMargin
  private val c4FixtureSql: String =
    s"SELECT id AS doc_id, ${lineSql(0)}" +
      " || CASE WHEN id%13=0 THEN ' lorem ipsum.' ELSE '' END || chr(10) || " +
      lineSql(1) +
      " || CASE WHEN id%17=0 THEN ' {v}.' ELSE '' END || chr(10) || " +
      s"${lineSql(2)} AS text FROM (SELECT unnest(range(240)) AS id)"

  /** Fixed BPE merge table for the bpe_encode entry: hand-built chains
    * over the synthetic vocabulary (row/table/hash/scan/join + the
    * bare-"a" end-of-word merge), each rule's components created by
    * strictly earlier rules — the invariant a real fit guarantees and
    * the one that makes rank-ordered GLOBAL application (what the SQL
    * replace chain does) equivalent to `segmentWord`'s one-merge-at-a-
    * time priority application: a merge's output symbol can only feed
    * HIGHER-ranked rules, so finishing each rule corpus-wide before
    * the next loses nothing. */
  private val bpeMerges: Seq[(String, String)] = Seq(
    "r" -> "o", "ro" -> "w", "row" -> "</w>",
    "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
    "h" -> "a", "ha" -> "s", "has" -> "h",
    "s" -> "c", "sc" -> "a", "sca" -> "n", "scan" -> "</w>",
    "j" -> "o", "jo" -> "i", "joi" -> "n",
    "a" -> "</w>")

  /** One word through the merge chain, as DuckDB SQL over lambda var
    * `w`: every symbol is wrapped `·sym·` (so replacing `·a··b·` with
    * `·ab·` is exactly one left-to-right non-overlapping BPE merge
    * pass — a bare space separator would let adjacent matches steal
    * each other's boundary), the `</w>` marker is appended AFTER the
    * per-char wrap, and the final form unwraps to space-separated
    * subwords. */
  private val bpeWordSql: String = {
    val chain = bpeMerges.foldLeft(
      "regexp_replace(w, '(.)', '·\\1·', 'g') || '·</w>·'") {
      case (acc, (a, b)) => s"replace($acc, '·${a}··${b}·', '·${a + b}·')"
    }
    s"replace(trim($chain, '·'), '··', ' ')"
  }

  private val toksCte =
    """toks AS (SELECT doc_id AS id,
      |  unnest(string_split_regex(trim(text), '\s+')) AS token
      |FROM documents WHERE len(trim(text)) > 0)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // north-star token counting: whitespace + BPE-ish subword proxy.
    "token_stats" -> ((s, dir) => {
      T.documents(s, dir).select(col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          TextFns.subtokenCount(col("text")).as("n_subtokens"))
        .orderBy("doc_id")
    }),

    // north-star quality scoring (text_analysis text.py:838 heuristics).
    "text_quality" -> ((s, dir) => {
      Quality.qualityScores(T.documents(s, dir), "text")
        .select("doc_id", "n_tokens", "stopword_ratio", "mean_token_len",
          "digit_ratio")
        .orderBy("doc_id")
    }),

    // north-star repetitiveness signal: per-doc token entropy.
    "token_entropy" -> ((s, dir) => {
      Quality.tokenEntropy(T.documents(s, dir), "doc_id", "text")
        .orderBy("doc")
    }),

    "lang_id" -> ((s, dir) => {
      Quality.langId(T.documents(s, dir), "text")
        .select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id")
    }),

    // north-star corpus filter: one pass combining token count,
    // stopword ratio, and exact-dup rank into a keep decision — the
    // composite a training-data pipeline actually runs.
    "corpus_filter" -> ((s, dir) => {
      val d = T.documents(s, dir)
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      val toks = TextFns.tokens(col("text"))
      val stopRatio = size(filter(toks,
        t => t.isin("the", "a", "of", "and", "to", "in", "is", "it"))).cast("double") /
        size(toks).cast("double")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id").asc)
      doubled
        .withColumn("n_tokens", size(toks))
        .withColumn("stop_ratio", stopRatio)
        .withColumn("dup_rank", row_number().over(w))
        .withColumn("keep",
          (col("n_tokens") >= 20) && (col("stop_ratio") >= 0.02) &&
            (col("dup_rank") === 1))
        .select("doc_id", "n_tokens", "dup_rank", "keep")
        .orderBy("doc_id")
    }),

    // north-star quality filter: per-doc repetition stats (duplicated
    // token mass; dominant bigram and its character share).
    "rep_stats" -> ((s, dir) => {
      Quality.repetitionStats(
          T.documents(s, dir).filter(col("doc_id") < 500), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Quality.selectByTokenBudget (text/Quality.scala): per-source
    // best-scored docs until the token budget is spent; score =
    // entropy-free cheap signal (token count mod for variety),
    // deterministic tiebreaks.
    "token_budget" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("score",
          (col("n_chars") % 97).cast("double") / lit(97.0))
      graft.text.Quality.selectByTokenBudget(d, "doc_id", "source",
          "score", "n_tokens", budgetPerSource = 600L)
        .select("doc_id", "source", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // Quality.selectByTokenBudgetGlobal (text/Quality.scala): one
    // global budget split 1/2 : 1/4 : 1/8 : 1/16 : 1/16 across five
    // sources (exact binary weights — the floor of each share is
    // float-hazard-free), src2 clamped by a hard cap, all other
    // sources contributing nothing. Scores repeat across and within
    // sources ((n_chars % 97)/97), so the (score desc, id asc)
    // tie-break is exercised both inside each window and across
    // sources picking different winners at the same score.
    "token_budget_global" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("score",
          (col("n_chars") % 97).cast("double") / lit(97.0))
      graft.text.Quality.selectByTokenBudgetGlobal(d, "doc_id", "source",
          "score", "n_tokens", totalBudget = 3000L,
          weights = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
            "src3" -> 0.0625, "src4" -> 0.0625),
          caps = Map("src2" -> 300L))
        .select("doc_id", "source", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // Quality.selectByTokenBudgetTemperature: α = 0.5 up-weights small
    // sources relative to their natural share; src1 additionally hits
    // a 400-token hard cap (binding at every sf — uncapped shares are
    // ~total/5 = 600). Same deterministic (score desc, id asc)
    // window selection as token_budget_global.
    "token_budget_temp" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("score",
          (col("n_chars") % 97).cast("double") / lit(97.0))
      graft.text.Quality.selectByTokenBudgetTemperature(d, "doc_id",
          "source", "score", "n_tokens", totalBudget = 3000L, alpha = 0.5,
          caps = Map("src1" -> 400L))
        .select("doc_id", "source", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // Chunk.chunkByTokens: 32-token windows, 8-token overlap (stride
    // 24). documents run 10-99 tokens, so docs yield 1-4 chunks and
    // every boundary case (short doc, exact fit, clipped tail) occurs
    // in the data.
    "chunk_tokens" -> ((s, dir) => {
      graft.text.Chunk.chunkByTokens(T.documents(s, dir), "doc_id", "text",
          chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // LangModel.scoreByUnigram: documents scored under an add-0.5
    // unigram model trained on the 4/5 of documents with
    // doc_id % 5 != 0 — the held-out fifth contributes genuinely
    // out-of-vocabulary tokens, exercising the OOV smoothing slot.
    "unigram_ppl" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.scoreByUnigram(
          docs, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          alpha = 0.5)
        .orderBy("doc")
    }),

    // LangModel.scoreByBigram: same held-out-fifth split; the bigram
    // conditional model exercises all three smoothing branches (pair
    // seen / context-only / context unseen).
    "bigram_ppl" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.scoreByBigram(
          docs, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          alpha = 0.5)
        .orderBy("doc")
    }),

    // C4.c4Clean over the synthesized 240-page fixture: terminal
    // punctuation, min-3-words and "javascript" line rules; "lorem
    // ipsum"/brace page rules; 2-sentence minimum on the CLEANED text.
    "c4_filters" -> ((s, dir) => {
      graft.text.C4.c4Clean(c4Fixture(s), "doc_id", "text",
          minWordsPerLine = 3, minSentences = 2)
        .orderBy("doc_id")
    }),

    // Chunk.chunkBySentences over documents with a '.' inserted every
    // 7 tokens (pure regex, replayable without lookbehind): 25-token
    // budget boundaries, sentences never split. PARITY PRECONDITION:
    // documents.text contains no [.!?] of its own and single-space
    // separators only (verified at every sf), so Spark's
    // (?<=[.!?])\s+ split and the oracle's literal '. ' split agree.
    "chunk_sentences" -> ((s, dir) => {
      val sentencized = T.documents(s, dir).select(col("doc_id"),
        regexp_replace(col("text"), "((?:\\S+ ){6}\\S+) ", "$1. ")
          .as("text"))
      graft.text.Chunk.chunkBySentences(sentencized, "doc_id", "text",
          budgetTokens = 25)
        .orderBy("doc_id", "chunk_id")
    }),

    // text.LangModel.selectByImportance: DSIR importance resampling
    // (Xie 2023) — target LM = the English fifth of the corpus, raw LM
    // = everything; weight = exp(clamped loglik ratio), A-ES draw of
    // 100 docs. English-like docs over-sample; the whole chain
    // (two round-6 LM scores, clamp, exp, round-9 pow key) replays.
    "dsir_select" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.selectByImportance(docs,
          docs.filter(col("lang") === "en"), docs,
          "doc_id", "text", n = 100, alpha = 0.5, seed = 13L)
        .select("doc_id", "lang", "imp_logratio")
        .withColumn("imp_logratio", round(col("imp_logratio"), 6))
        .orderBy("doc_id")
    }),

    // text.Quality.selectByTokenBudgetUniMax: 9000-token budget over
    // the five languages, each capped at 0.5 epochs of its corpus.
    // At sf0.01 'de' saturates its cap and the other four waterfill
    // to one shared level — both regimes exercised. All-BIGINT
    // closed-form waterfill, same (score desc, id asc) selection
    // window as the other mixers.
    "token_budget_unimax" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("score",
          (col("n_chars") % 97).cast("double") / lit(97.0))
      graft.text.Quality.selectByTokenBudgetUniMax(d, "doc_id",
          "lang", "score", "n_tokens", totalBudget = 9000L, maxEpochs = 0.5)
        .select(col("doc_id"), col("lang"), col("score"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // text.Bpe.tokenize with a FIXED literal merge table (the deploy
    // half of the tokenizer; the corpus-dependent fit stays
    // ScalaTest-anchored in BpeSpec). Every word runs the documented
    // unseen-word fallback — the genuinely iterative path — and the
    // oracle replays it as an ordered replace chain over
    // delimiter-wrapped symbols.
    "bpe_encode" -> ((s, dir) => {
      graft.text.Bpe.tokenize(T.documents(s, dir), "doc_id", "text",
          graft.text.Bpe.BpeModel(bpeMerges, Map.empty))
        .select(col("doc_id"), col("n_subwords"),
          array_join(col("subwords"), " ").as("subtext"))
        .orderBy("doc_id")
    }),

    // text.Quality.gopherRules: the Gopher appendix-A1.1 rule table as
    // ONE whole-stage-codegen projection — word-count bounds, mean
    // word length, #/ellipsis symbol ratio, bullet/ellipsis line
    // fractions, alphabetic-word fraction, distinct-stop-word floor.
    // Failing pages are flagged, not dropped. Bounds 30..90 words and
    // minStopHits=1 split the synthetic corpus both ways; zh docs
    // exercise the alpha-fraction rule for real.
    "gopher_rules" -> ((s, dir) => {
      graft.text.Quality.gopherRules(T.documents(s, dir), "doc_id", "text",
          minWords = 30, maxWords = 90, minStopHits = 1)
        .orderBy("doc_id")
    }),

    // text.Quality.dupNgramCharFrac: Gopher's duplicate-n-gram
    // character fraction (n=2 — 349 of the 500 sf0.01 docs carry a
    // duplicated bigram, so both regimes are exercised) — positional
    // coverage, a token counts once however many duplicated bigrams
    // overlap it. One native row-local expression per document, no
    // shuffle.
    "ngram_rep" -> ((s, dir) => {
      graft.text.Quality.dupNgramCharFrac(T.documents(s, dir),
          "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    // text.Quality.topNgramCharFrac: Gopher's TOP-n-gram signal (n=3)
    // — most frequent trigram per doc and the token-char fraction its
    // (possibly overlapping) occurrences account for; one native
    // row-local expression per document, no shuffle.
    "top_ngram" -> ((s, dir) => {
      graft.text.Quality.topNgramCharFrac(T.documents(s, dir),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // text.Shards.packShards: token-budgeted output sharding via the
    // distributed two-level prefix sum (bucket = ⌊doc_id/100⌋, monotone
    // in the order column) — identical shard ids to the one-global-
    // window form the oracle replays, but every corpus-sized shuffle
    // stays keyed by bucket.
    "pack_shards" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
      graft.text.Shards.packShards(d, "doc_id", "n_tokens",
          shardTokens = 2000L, bucketExpr = floor(col("doc_id") / 100))
        .select("doc_id", "lang", "n_tokens", "shard")
        .orderBy("doc_id")
    }),

    // text.Shards.shuffleOrder: the deterministic seeded global
    // shuffle closing a training-data pipeline — order key is a pure
    // function of row identity, so the "random" order is stable under
    // repartitioning and replayable by any engine with md5.
    "shuffle_rows" -> ((s, dir) => {
      graft.text.Shards.shuffleOrder(T.documents(s, dir), "doc_id",
          seed = 42L)
        .select("doc_id", "shuffle_key")
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    }),

    // LangModel.scoreByKneserNey: same held-out-fifth split as
    // unigram_ppl/bigram_ppl so all three models rank the same
    // documents. The held-out fifth exercises every branch: pair
    // seen (max term positive — a count of 1 discounts to 0.25),
    // context seen / pair unseen (max term zero, interpolation mass
    // only), context unseen (pure continuation backoff), and unseen
    // successors through the α slot of P_cont.
    "kn_ppl" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.scoreByKneserNey(
          docs, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          discount = 0.75, alpha = 0.5)
        .orderBy("doc")
    }),

    // LangModel.scoreByStupidBackoff: same held-out-fifth split as
    // unigram_ppl/bigram_ppl/kn_ppl so the whole ladder ranks the
    // same documents. The held-out fifth exercises every branch:
    // trigram seen (relative frequency), trigram unseen → bigram
    // backoff (λ·c23/c2), both unseen → unigram floor (λ²·add-α),
    // and unseen w3 through the α slot.
    "sb_ppl" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.scoreByStupidBackoff(
          docs, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          lambda = 0.4, alpha = 0.5)
        .orderBy("doc")
    }),

    // LangModel.scoreByKneserNey3: the order-3 interpolated KN
    // recursion (the rung KenLM actually runs, one order down from
    // its 5-gram) on the same held-out-fifth split as the rest of the
    // ladder. The held-out fifth exercises trigram-seen, context-only
    // interpolation, unseen-(w1,w2) backoff to the continuation
    // bigram, unseen-w2 backoff to the continuation unigram, and the
    // α slot for unseen successors.
    "kn3_ppl" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.text.LangModel.scoreByKneserNey3(
          docs, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          discount = 0.75, alpha = 0.5)
        .orderBy("doc")
    }),

    // The composed LLM-data pipeline, end to end in ONE plan — the
    // "a user could run their whole pipeline on this" entry: Gopher
    // rule gate (Rae et al. 2021) → exact dedup (min-id per md5) →
    // CCNet-style perplexity ranking under the held-in unigram LM →
    // token-budget selection (best-ppl-first, first-doc-over-the-line).
    // Four stages, each individually oracle-checked elsewhere
    // (gopher_rules, dedup_exact, unigram_ppl, token_budget); this
    // entry pins that they COMPOSE — the stage boundaries (flag vs
    // drop, spine joins, rounded ppl feeding the rank) are where
    // pipelines break, and a single chained oracle catches exactly
    // that. Every stage is shuffle-keyed (doc / hash / token),
    // INCLUDING the final budget selection, which runs the two-level
    // prefix-sum form (ppl-band buckets) — bit-identical selections
    // to the one-window rule the oracle replays.
    "llm_pipeline" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val gate = graft.text.Quality.gopherRules(docs, "doc_id", "text",
          minWords = 30, maxWords = 90, minStopHits = 1)
        .filter(col("kept")).select("doc_id")
      val d2 = graft.text.Dedup.dropExact(
        docs.join(gate, Seq("doc_id")), "doc_id", "text")
      val scored = graft.text.LangModel.scoreByUnigram(
          d2, docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          alpha = 0.5)
        .select(col("doc").as("doc_id"), col("n_tokens"), col("ppl"))
        .withColumn("src", lit("web"))
        .withColumn("neg_ppl", -col("ppl"))
      graft.text.Quality.selectByTokenBudgetBucketed(scored, "doc_id",
          "src", "neg_ppl", "n_tokens", budgetPerSource = 3000L,
          bucketExpr = floor(col("ppl") * 10))
        .select("doc_id", "n_tokens", "ppl")
        .orderBy("doc_id")
    }),

    // Jensen-Shannon / KL divergence between the even-id and odd-id
    // halves of the corpus: add-alpha smoothed unigram distributions
    // over the union vocab, one full-outer token join, scalars as a
    // 1-row broadcast, four sufficient-statistic sums rounded to 6 dp
    // (the mean_logprob contract). The domain-drift dashboard number.
    "corpus_js" -> ((s, dir) => {
      val d = T.documents(s, dir)
      CorpusStats.corpusDivergence(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        "text", "text")
    }),

    // Corpus-statistics diagnostics, run before committing a corpus to
    // training: the Zipf slope detects templating/noise, vocabulary growth
    // and the Heaps fit an unbounded type set, ttr_by_source per-source
    // lexical diversity.
    // OLS of ln(freq) on ln(rank) over the unigram table; rank is
    // row_number over (freq desc, token asc) — deterministic ties.
    "zipf_fit" -> ((s, dir) => {
      CorpusStats.zipfFit(T.documents(s, dir), "text")
    }),

    // Cumulative (tokens, types) after each doc in id order; type
    // increments via min-first-occurrence (one corpus pass, no
    // prefix-distinct scan); every 97th doc emitted.
    "vocab_growth" -> ((s, dir) => {
      CorpusStats.vocabGrowth(T.documents(s, dir), "doc_id", "text",
          sampleEvery = 97L)
        .orderBy("doc_id")
    }),

    // Heaps' law V = K * N^beta: OLS of ln V on ln N over the full
    // growth curve.
    "heaps_fit" -> ((s, dir) => {
      CorpusStats.heapsFit(T.documents(s, dir), "doc_id", "text")
    }),

    // Lexical diversity per source slice.
    "ttr_by_source" -> ((s, dir) => {
      CorpusStats.typeTokenRatio(T.documents(s, dir), "source", "text")
        .orderBy("source")
    }),

    // Flesch-Kincaid readability: pure codegen projection; the
    // synthetic corpus has no punctuation, so every doc is one
    // "sentence" — the W/S term degenerates to W, which still
    // exercises both formulas end-to-end.
    "readability" -> ((s, dir) => {
      graft.text.Quality.readability(T.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Corpus-wide top bigrams (the WIMBD "most common n-grams"
    // analysis): one explode-once bigram construction off the
    // let-bound token array, one map-side-combined groupBy, exact
    // top-20 with a total order.
    "corpus_top_ngrams" -> ((s, dir) => {
      val toks = graft.text.TextFns.tokens(
        graft.text.TextFns.cleanText(col("text")))
      val bigrams = T.documents(s, dir)
        .select(explode(transform(array(toks), t =>
          when(size(t) >= 2, transform(sequence(lit(1), size(t) - 1),
            i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
            .otherwise(array().cast("array<string>"))).getItem(0))
          .as("bigram"))
      bigrams.groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Marker-word language ID is pure int/string arithmetic, so the
    // heuristic replays exactly in SQL. The CASE ladder (checked from
    // the last profile down) equals the Spark fold: the prediction is
    // the last profile whose score strictly exceeds the max of all
    // earlier profiles.
    "lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','is'))) AS s_en,
        |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS s_de,
        |    len(list_filter(toks, t -> t IN ('el','la','los','que','es'))) AS s_es,
        |    len(list_filter(toks, t -> t IN ('le','la','les','des','est'))) AS s_fr,
        |    len(list_filter(toks, t -> t IN ('的','是','了','在','我'))) AS s_zh
        |  FROM s)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN s_zh > GREATEST(s_en, s_de, s_es, s_fr) THEN 'zh'
        |    WHEN s_fr > GREATEST(s_en, s_de, s_es) THEN 'fr'
        |    WHEN s_es > GREATEST(s_en, s_de) THEN 'es'
        |    WHEN s_de > s_en THEN 'de'
        |    ELSE 'en' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    "token_stats" ->
      s"""SELECT doc_id,
         |  CAST($ntok AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_subtokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST($ntok AS INT) AS n_tokens,
         |  CASE WHEN $ntok = 0 THEN 0.0 ELSE
         |    CAST(len(list_filter($tokArr, t -> lower(t) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
         |      / CAST($ntok AS DOUBLE) END AS stopword_ratio,
         |  CASE WHEN $ntok = 0 THEN 0.0 ELSE
         |    CAST(list_sum(list_transform($tokArr, t -> len(t))) AS DOUBLE)
         |      / CAST($ntok AS DOUBLE) END AS mean_token_len,
         |  CASE WHEN len(text) = 0 THEN 0.0 ELSE
         |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / CAST(len(text) AS DOUBLE) END AS digit_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,

    "token_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id AS doc, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT doc, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |p AS (SELECT doc, CAST(tf AS DOUBLE) / CAST(SUM(tf) OVER (PARTITION BY doc) AS DOUBLE) AS p FROM c)
        |SELECT doc, ROUND(-SUM(p * LN(p)), 6) AS token_entropy
        |FROM p GROUP BY doc ORDER BY doc""".stripMargin,

    "corpus_filter" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |        t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS stop_ratio,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS INT) AS dup_rank
        |  FROM doubled)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, dup_rank,
        |  n_tokens >= 20 AND stop_ratio >= 0.02 AND dup_rank = 1 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "rep_stats" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS nc
        |           FROM documents WHERE doc_id < 500),
        |toks AS (SELECT doc_id, nc, string_split_regex(trim(text), '\s+') AS t FROM d),
        |tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |dup AS (SELECT doc_id, SUM(c) AS n,
        |               SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
        |        FROM tf GROUP BY 1),
        |big AS (
        |  SELECT doc_id, array_to_string(t[i.i + 1 : i.i + 2], ' ') AS g
        |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 2 AND i.i <= len(t) - 2),
        |bc AS (SELECT doc_id, g, COUNT(*) AS gc FROM big GROUP BY 1, 2),
        |top AS (SELECT doc_id, g, gc,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id
        |            ORDER BY gc DESC, g ASC) AS rn
        |        FROM bc)
        |SELECT d.doc_id,
        |  ROUND(CAST(dup.dup AS DOUBLE) / dup.n, 9) AS dup_token_ratio,
        |  COALESCE(top.g, '') AS top_bigram,
        |  COALESCE(top.gc, 0) AS top_bigram_n,
        |  ROUND(COALESCE(top.gc * CAST(length(top.g) AS DOUBLE) / d.nc, 0.0), 9)
        |    AS top_bigram_char_frac
        |FROM d
        |JOIN dup ON dup.doc_id = d.doc_id
        |LEFT JOIN (SELECT * FROM top WHERE rn = 1) top ON top.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(n_chars % 97 AS DOUBLE) / 97.0 AS score,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, score, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT doc_id, source, score, n_tokens
        |FROM c WHERE cum - n_tokens < 600
        |ORDER BY doc_id""".stripMargin,

    "token_budget_global" ->
      """WITH bud AS (
        |  SELECT * FROM (VALUES
        |    ('src0', 1500), ('src1', 750), ('src2', 300),
        |    ('src3', 187), ('src4', 187)) AS b(source, budget)),
        |d AS (
        |  SELECT doc_id, source,
        |    CAST(n_chars % 97 AS DOUBLE) / 97.0 AS score,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT d.doc_id, d.source, d.score, d.n_tokens, b.budget,
        |    SUM(d.n_tokens) OVER (PARTITION BY d.source
        |      ORDER BY d.score DESC, d.doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d JOIN bud b USING (source))
        |SELECT doc_id, source, score, n_tokens
        |FROM c WHERE cum - n_tokens < budget
        |ORDER BY doc_id""".stripMargin,

    // Weights are derived FROM THE DATA (tokens^α), so the oracle replays
    // the whole chain: exact BIGINT totals → round(pow, 9) weights →
    // floored budget shares → windowed selection.
    "token_budget_temp" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(n_chars % 97 AS DOUBLE) / 97.0 AS score,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, SUM(n_tokens) AS t FROM d GROUP BY source),
        |w AS (SELECT source, ROUND(POW(CAST(t AS DOUBLE), 0.5), 9) AS w
        |      FROM tot),
        |sw AS (SELECT ROUND(SUM(w), 9) AS sw FROM w),
        |b AS (SELECT source,
        |        LEAST(CAST(FLOOR(3000.0 * (w / (SELECT sw FROM sw)))
        |                AS BIGINT),
        |              CASE WHEN source = 'src1' THEN 400
        |                   ELSE 9223372036854775807 END) AS budget
        |      FROM w),
        |c AS (
        |  SELECT d.doc_id, d.source, d.score, d.n_tokens, b.budget,
        |    SUM(d.n_tokens) OVER (PARTITION BY d.source
        |      ORDER BY d.score DESC, d.doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d JOIN b USING (source))
        |SELECT doc_id, source, score, n_tokens
        |FROM c WHERE budget > 0 AND cum - n_tokens < budget
        |ORDER BY doc_id""".stripMargin,

    // chunk_tokens and line_dedup replay the full plan in DuckDB: zipped
    // `unnest(range(...))` is the posexplode twin, `string_agg(... ORDER BY
    // pos)` the ordered reassembly twin, and all window math is
    // double-division + CEIL so the engines agree bit-for-bit.
    "chunk_tokens" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |    CAST(GREATEST(1, CEIL((len(toks) - 8) / 24.0)) AS BIGINT) AS nc
        |  FROM d),
        |e AS (
        |  SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM n)
        |SELECT doc_id, chunk_id,
        |  array_to_string(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32),
        |                  ' ') AS chunk_text,
        |  CAST(len(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32))
        |    AS BIGINT) AS n_tokens
        |FROM e
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // Log-prob parity follows token_entropy's contract.
    // Same IEEE expression tree for the log-probs; only the per-doc
    // SUM order differs, so the mean rounds at 6 and the perplexity
    // is EXP of the already-rounded mean (token_entropy contract).
    "unigram_ppl" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE doc_id % 5 <> 0 AND len(trim(text)) > 0),
        |c AS (SELECT token, COUNT(*) AS ctf FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS n,
        |               CAST(COUNT(*) AS DOUBLE) AS v FROM c),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |dtf AS (SELECT doc, token, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
        |j AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.ctf IS NULL THEN 1 ELSE 0 END AS oov,
        |    CASE WHEN c.ctf IS NULL
        |      THEN LN(0.5 / (t.n + 0.5 * (t.v + 1.0)))
        |      ELSE LN((CAST(c.ctf AS DOUBLE) + 0.5) / (t.n + 0.5 * (t.v + 1.0)))
        |    END AS logp
        |  FROM dtf LEFT JOIN c USING (token), tot t),
        |sc AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(oov * tf) AS BIGINT) AS n_oov,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mean_logprob
        |  FROM j GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(n_tokens, 0) AS n_tokens,
        |  COALESCE(n_oov, 0) AS n_oov,
        |  COALESCE(mean_logprob, 0.0) AS mean_logprob,
        |  COALESCE(ROUND(EXP(-mean_logprob), 6), 1.0) AS ppl
        |FROM documents d LEFT JOIN sc ON sc.doc = d.doc_id
        |ORDER BY doc""".stripMargin,

    // One smoothed expression covers pair-seen / context-only /
    // context-unseen by coalescing absent counts to 0 — the identical
    // IEEE tree on both engines, round-6 mean, EXP of rounded mean.
    "bigram_ppl" ->
      """WITH rt AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 <> 0 AND len(trim(text)) > 0),
        |rb AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 1),
        |c AS (SELECT w1, w2, COUNT(*) AS c12 FROM rb GROUP BY 1, 2),
        |ctx AS (SELECT w1, SUM(c12) AS c1 FROM c GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT w2) AS DOUBLE) AS vb FROM c),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |db AS (
        |  SELECT doc, t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM dt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 1),
        |dbf AS (SELECT doc, w1, w2, COUNT(*) AS tf FROM db GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.c12 IS NULL THEN 1 ELSE 0 END AS oov,
        |    LN((CAST(COALESCE(c.c12, 0) AS DOUBLE) + 0.5) /
        |       (CAST(COALESCE(ctx.c1, 0) AS DOUBLE) + 0.5 * (v.vb + 1.0)))
        |      AS logp
        |  FROM dbf LEFT JOIN c USING (w1, w2) LEFT JOIN ctx USING (w1), v),
        |sc AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(oov * tf) AS BIGINT) AS n_oov,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mean_logprob
        |  FROM j GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(n_oov, 0) AS n_oov,
        |  COALESCE(mean_logprob, 0.0) AS mean_logprob,
        |  COALESCE(ROUND(EXP(-mean_logprob), 6), 1.0) AS ppl
        |FROM documents d LEFT JOIN sc ON sc.doc = d.doc_id
        |ORDER BY doc""".stripMargin,

    "c4_filters" ->
      s"""WITH docs AS (
         |  $c4FixtureSql),
         |lines AS (
         |  SELECT doc_id, i.i - 1 AS pos, parts[i.i] AS line
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
         |        FROM docs),
         |    (SELECT unnest(range(1, 10)) AS i) i
         |  WHERE i.i <= len(parts)),
         |keptl AS (
         |  SELECT * FROM lines
         |  WHERE regexp_matches(trim(line), '[.!?]["'']?$$')
         |    AND len(string_split_regex(trim(line), '\\s+')) >= 3
         |    AND NOT contains(lower(line), 'javascript')),
         |re AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         |    COUNT(*) AS n_kept
         |  FROM keptl GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id, len(string_split(text, chr(10))) AS ntot,
         |    (contains(lower(text), 'lorem ipsum')
         |      OR contains(lower(text), '{')) AS bad
         |  FROM docs)
         |SELECT b.doc_id, COALESCE(text_clean, '') AS text_clean,
         |  COALESCE(n_kept, 0) AS n_kept,
         |  CAST(ntot - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
         |  CAST(len(regexp_extract_all(COALESCE(text_clean, ''), '[.!?]'))
         |    AS BIGINT) AS n_sentences,
         |  (CAST(len(regexp_extract_all(COALESCE(text_clean, ''), '[.!?]'))
         |    AS BIGINT) >= 2 AND NOT bad) AS kept
         |FROM base b LEFT JOIN re USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Sentence split without lookbehind: split on '. ' and re-append
    // the period to every piece but the last — exactly the pieces the
    // Spark (?<=[.!?])\s+ split produces on this fixture.
    "chunk_sentences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((?:\S+ ){6}\S+) ', '\1. ', 'g') AS t2
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(t2, '. ') AS parts FROM t),
        |s AS (
        |  SELECT doc_id, i.i AS pos,
        |    CASE WHEN i.i < len(parts) THEN parts[i.i] || '.'
        |         ELSE parts[i.i] END AS sent
        |  FROM p, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(parts)),
        |z AS (
        |  SELECT doc_id, pos, sent,
        |    CAST(len(string_split_regex(trim(sent), '\s+')) AS BIGINT) AS ntok
        |  FROM s),
        |m AS (
        |  SELECT doc_id, pos, sent, ntok,
        |    COALESCE(SUM(ntok) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM z)
        |SELECT doc_id, CAST(cb // 25 AS BIGINT) AS chunk_id,
        |  string_agg(trim(sent), ' ' ORDER BY pos) AS text_chunk,
        |  COUNT(*) AS n_sentences, CAST(SUM(ntok) AS BIGINT) AS n_tokens
        |FROM m GROUP BY doc_id, cb // 25
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // Two copies of the unigram-LM scoring CTE (target = lang 'en',
    // raw = all), round-6 doc log-likelihoods, clamped ratio, A-ES
    // key = round(pow(u, 1/w), 9), top-100 by key.
    "dsir_select" ->
      """WITH tokT AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE lang = 'en' AND len(trim(text)) > 0),
        |cT AS (SELECT token, COUNT(*) AS ctf FROM tokT GROUP BY 1),
        |totT AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS n,
        |                CAST(COUNT(*) AS DOUBLE) AS v FROM cT),
        |tokR AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |cR AS (SELECT token, COUNT(*) AS ctf FROM tokR GROUP BY 1),
        |totR AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS n,
        |                CAST(COUNT(*) AS DOUBLE) AS v FROM cR),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |dtf AS (SELECT doc, token, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
        |jT AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.ctf IS NULL
        |      THEN LN(0.5 / (t.n + 0.5 * (t.v + 1.0)))
        |      ELSE LN((CAST(c.ctf AS DOUBLE) + 0.5) / (t.n + 0.5 * (t.v + 1.0)))
        |    END AS logp
        |  FROM dtf LEFT JOIN cT c USING (token), totT t),
        |scT AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mlp
        |  FROM jT GROUP BY doc),
        |jR AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.ctf IS NULL
        |      THEN LN(0.5 / (t.n + 0.5 * (t.v + 1.0)))
        |      ELSE LN((CAST(c.ctf AS DOUBLE) + 0.5) / (t.n + 0.5 * (t.v + 1.0)))
        |    END AS logp
        |  FROM dtf LEFT JOIN cR c USING (token), totR t),
        |scR AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mlp
        |  FROM jR GROUP BY doc),
        |lr AS (
        |  SELECT d.doc_id, d.lang,
        |    LEAST(GREATEST(
        |      scT.mlp * CAST(scT.n_tokens AS DOUBLE)
        |        - scR.mlp * CAST(scR.n_tokens AS DOUBLE), -30.0), 30.0)
        |      AS logratio
        |  FROM documents d
        |  JOIN scT ON scT.doc = d.doc_id
        |  JOIN scR ON scR.doc = d.doc_id),
        |keyed AS (
        |  SELECT doc_id, lang, logratio,
        |    ROUND(POW(
        |      CAST(CAST('0x' || substr(md5('13-' ||
        |          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
        |        / 1152921504606846976.0,
        |      1.0 / EXP(logratio)), 9) AS k
        |  FROM lr WHERE EXP(logratio) > 0.0),
        |sel AS (
        |  SELECT doc_id, lang, logratio FROM keyed
        |  ORDER BY k DESC, doc_id ASC LIMIT 100)
        |SELECT doc_id, lang, ROUND(logratio, 6) AS imp_logratio FROM sel
        |ORDER BY doc_id""".stripMargin,

    "token_budget_unimax" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(n_chars % 97 AS DOUBLE) / 97.0 AS score,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |caps AS (
        |  SELECT lang,
        |    CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) * 0.5) AS BIGINT) AS cap
        |  FROM d GROUP BY lang),
        |ord AS (
        |  SELECT lang, cap,
        |    row_number() OVER (ORDER BY cap, lang) AS i,
        |    SUM(cap) OVER (ORDER BY cap, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        |    (SELECT COUNT(*) FROM caps) AS n
        |  FROM caps),
        |flg AS (
        |  SELECT *, CASE WHEN 9000 - (pre - cap) >= 0
        |                  AND cap <= (9000 - (pre - cap)) // (n - i + 1)
        |            THEN 1 ELSE 0 END AS sat
        |  FROM ord),
        |agg AS (
        |  SELECT CAST(SUM(sat) AS BIGINT) AS j,
        |    COALESCE(SUM(CASE WHEN sat = 1 THEN cap END), 0) AS prej,
        |    MAX(n) AS n
        |  FROM flg),
        |b AS (
        |  SELECT f.lang,
        |    CASE WHEN f.sat = 1 THEN f.cap
        |         ELSE LEAST(f.cap,
        |           CASE WHEN a.j >= a.n THEN 9223372036854775807
        |                ELSE (9000 - a.prej) // (a.n - a.j) END)
        |    END AS budget
        |  FROM flg f, agg a),
        |c AS (
        |  SELECT d.doc_id, d.lang, d.score, d.n_tokens, b.budget,
        |    SUM(d.n_tokens) OVER (PARTITION BY d.lang
        |      ORDER BY d.score DESC, d.doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d JOIN b USING (lang))
        |SELECT doc_id, lang, score, n_tokens
        |FROM c WHERE budget > 0 AND cum - n_tokens < budget
        |ORDER BY doc_id""".stripMargin,

    "bpe_encode" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |         ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(toks, w -> $bpeWordSql), ' ')
         |      AS subtext
         |  FROM d)
         |SELECT doc_id,
         |  CAST(CASE WHEN subtext = '' THEN 0
         |       ELSE len(string_split(subtext, ' ')) END AS INT) AS n_subwords,
         |  subtext
         |FROM s ORDER BY doc_id""".stripMargin,

    "gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(regexp_replace(trim(text), '\s+', '', 'g'))
        |                    AS DOUBLE) / len(toks), 9) END AS mean_word_len,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(regexp_extract_all(text, '#|\.\.\.'))
        |                    AS DOUBLE) / len(toks), 9) END AS symbol_ratio,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(list_filter(lines,
        |              l -> regexp_matches(ltrim(l), '^[-*•]')))
        |                    AS DOUBLE) / len(lines), 9) END AS bullet_frac,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(list_filter(lines,
        |              l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
        |                    AS DOUBLE) / len(lines), 9) END AS ellipsis_frac,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(list_filter(toks,
        |              t -> regexp_matches(t, '[A-Za-z]')))
        |                    AS DOUBLE) / len(toks), 9) END AS alpha_frac,
        |    CAST(len(list_intersect(list_transform(toks, t -> lower(t)),
        |      ['the','be','to','of','and','that','have','with'])) AS INT)
        |      AS n_stop
        |  FROM d)
        |SELECT *,
        |  (n_words >= 30 AND n_words <= 90
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |   AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |   AND n_stop >= 1) AS kept
        |FROM m ORDER BY doc_id""".stripMargin,

    "ngram_rep" ->
      """WITH base AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |tl AS (
        |  SELECT doc, pos, len(toks[pos]) AS l
        |  FROM (SELECT doc, toks, unnest(range(1, len(toks) + 1)) AS pos
        |        FROM base)),
        |g AS (
        |  SELECT doc, i, array_to_string(list_slice(toks, i, i + 1), ' ') AS gr
        |  FROM (SELECT doc, toks, unnest(range(1, len(toks))) AS i
        |        FROM base WHERE len(toks) >= 2)),
        |dup AS (SELECT doc, gr FROM g GROUP BY doc, gr HAVING COUNT(*) >= 2),
        |occ AS (SELECT g.doc, g.i FROM g
        |        JOIN dup ON g.doc = dup.doc AND g.gr = dup.gr),
        |cov AS (SELECT DISTINCT doc, pos FROM
        |  (SELECT doc, unnest(range(i, i + 2)) AS pos FROM occ)),
        |covc AS (SELECT cov.doc, CAST(SUM(tl.l) AS BIGINT) AS covch
        |         FROM cov JOIN tl ON cov.doc = tl.doc AND cov.pos = tl.pos
        |         GROUP BY cov.doc),
        |tot AS (SELECT doc, CAST(SUM(l) AS BIGINT) AS totch
        |        FROM tl GROUP BY doc)
        |SELECT b.doc AS doc_id,
        |  COALESCE(tot.totch, 0) AS total_chars,
        |  COALESCE(covc.covch, 0) AS dup_chars,
        |  ROUND(COALESCE(CAST(covc.covch AS DOUBLE) / tot.totch, 0.0), 9)
        |    AS dup_ngram_char_frac
        |FROM base b
        |LEFT JOIN tot ON b.doc = tot.doc
        |LEFT JOIN covc ON b.doc = covc.doc
        |ORDER BY doc_id""".stripMargin,

    "top_ngram" ->
      """WITH base AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |tot AS (SELECT doc, len(array_to_string(toks, '')) AS tot FROM base),
        |g AS (
        |  SELECT doc, array_to_string(list_slice(toks, i, i + 2), ' ') AS gr
        |  FROM (SELECT doc, toks, unnest(range(1, len(toks) - 1)) AS i
        |        FROM base WHERE len(toks) >= 3)),
        |c AS (SELECT doc, gr, COUNT(*) AS c FROM g GROUP BY doc, gr),
        |top AS (SELECT doc, gr, c FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc
        |    ORDER BY c DESC, gr ASC) AS rn FROM c) WHERE rn = 1)
        |SELECT t.doc AS doc_id,
        |  COALESCE(top.gr, '') AS top_ngram,
        |  CAST(COALESCE(top.c, 0) AS BIGINT) AS top_ngram_n,
        |  ROUND(COALESCE(CAST(top.c AS DOUBLE) * (len(top.gr) - 2) / t.tot,
        |    0.0), 9) AS top_ngram_char_frac
        |FROM tot t LEFT JOIN top ON t.doc = top.doc
        |ORDER BY doc_id""".stripMargin,

    // One global window replays the two-level prefix sum exactly:
    // exclusive_prefix(row) = bucket_offset + within-bucket prefix.
    "pack_shards" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT doc_id, lang, n_tokens,
        |  CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,

    "shuffle_rows" ->
      """SELECT doc_id, md5('42-' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents
        |ORDER BY shuffle_key, doc_id LIMIT 100""".stripMargin,

    // The identical IEEE tree: integer counts → correctly-rounded
    // double ops in the same association order as the Column
    // expressions; round-6 mean, EXP of the already-rounded mean.
    "kn_ppl" ->
      """WITH rt AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 <> 0 AND len(trim(text)) > 0),
        |rb AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 1),
        |c AS (SELECT w1, w2, COUNT(*) AS c12 FROM rb GROUP BY 1, 2),
        |ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM c GROUP BY 1),
        |pred AS (SELECT w2, COUNT(*) AS n1b FROM c GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbg,
        |               CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v2 FROM c),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |db AS (
        |  SELECT doc, t[i.i] AS w1, t[i.i + 1] AS w2
        |  FROM dt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 1),
        |dbf AS (SELECT doc, w1, w2, COUNT(*) AS tf FROM db GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.c12 IS NULL THEN 1 ELSE 0 END AS oov,
        |    LN(CASE WHEN ctx.c1 IS NOT NULL
        |      THEN GREATEST(CAST(COALESCE(c.c12, 0) AS DOUBLE) - 0.75, 0.0)
        |             / CAST(ctx.c1 AS DOUBLE)
        |         + ((0.75 * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE))
        |             * ((CAST(COALESCE(pred.n1b, 0) AS DOUBLE) + 0.5)
        |                / (t.nbg + 0.5 * (t.v2 + 1.0)))
        |      ELSE (CAST(COALESCE(pred.n1b, 0) AS DOUBLE) + 0.5)
        |             / (t.nbg + 0.5 * (t.v2 + 1.0))
        |    END) AS logp
        |  FROM dbf LEFT JOIN c USING (w1, w2) LEFT JOIN ctx USING (w1)
        |    LEFT JOIN pred USING (w2), tot t),
        |sc AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(oov * tf) AS BIGINT) AS n_oov,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mean_logprob
        |  FROM j GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(n_oov, 0) AS n_oov,
        |  COALESCE(mean_logprob, 0.0) AS mean_logprob,
        |  COALESCE(ROUND(EXP(-mean_logprob), 6), 1.0) AS ppl
        |FROM documents d LEFT JOIN sc ON sc.doc = d.doc_id
        |ORDER BY doc""".stripMargin,

    // The identical IEEE tree: integer counts → correctly-rounded
    // double ops in the same association order as the Column
    // expressions; round-6 mean, EXP of the already-rounded mean.
    "sb_ppl" ->
      """WITH rt AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 <> 0 AND len(trim(text)) > 0),
        |uni AS (
        |  SELECT u.w, COUNT(*) AS cu
        |  FROM (SELECT unnest(t) AS w FROM rt) u GROUP BY 1),
        |bi AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2, COUNT(*) AS cb
        |  FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |tri AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2, t[i.i + 2] AS w3,
        |    COUNT(*) AS c123
        |  FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 2 GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n,
        |               CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |dtg AS (
        |  SELECT doc, t[i.i] AS w1, t[i.i + 1] AS w2, t[i.i + 2] AS w3,
        |    COUNT(*) AS tf
        |  FROM dt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 2 GROUP BY 1, 2, 3, 4),
        |j AS (
        |  SELECT doc, tf,
        |    CASE WHEN tri.c123 IS NULL THEN 1 ELSE 0 END AS oov,
        |    LN(CASE WHEN tri.c123 IS NOT NULL
        |      THEN CAST(tri.c123 AS DOUBLE) / CAST(b12.cb AS DOUBLE)
        |      ELSE 0.4 * (CASE WHEN b23.cb IS NOT NULL
        |        THEN CAST(b23.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE)
        |        ELSE 0.4 * ((CAST(COALESCE(u3.cu, 0) AS DOUBLE) + 0.5)
        |               / (tt.n + 0.5 * (tt.v + 1.0))) END) END) AS logp
        |  FROM dtg
        |  LEFT JOIN tri USING (w1, w2, w3)
        |  LEFT JOIN bi b12 ON b12.w1 = dtg.w1 AND b12.w2 = dtg.w2
        |  LEFT JOIN bi b23 ON b23.w1 = dtg.w2 AND b23.w2 = dtg.w3
        |  LEFT JOIN uni u2 ON u2.w = dtg.w2
        |  LEFT JOIN uni u3 ON u3.w = dtg.w3, tot tt),
        |sc AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(oov * tf) AS BIGINT) AS n_oov,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mean_logprob
        |  FROM j GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(n_trigrams, 0) AS n_trigrams,
        |  COALESCE(n_oov, 0) AS n_oov,
        |  COALESCE(mean_logprob, 0.0) AS mean_logprob,
        |  COALESCE(ROUND(EXP(-mean_logprob), 6), 1.0) AS ppl
        |FROM documents d LEFT JOIN sc ON sc.doc = d.doc_id
        |ORDER BY doc""".stripMargin,

    // The identical IEEE tree one order up from kn_ppl: every model
    // table re-aggregates the trigram type table, continuation counts
    // at the lower orders, round-6 mean, EXP of the rounded mean. The
    // P₂/P₁ sub-expressions are spelled out twice (both branches of
    // the outer CASE) so the association order matches the Column
    // tree exactly.
    "kn3_ppl" ->
      """WITH rt AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 <> 0 AND len(trim(text)) > 0),
        |tri AS (
        |  SELECT t[i.i] AS w1, t[i.i + 1] AS w2, t[i.i + 2] AS w3,
        |    COUNT(*) AS c123
        |  FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 2 GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, SUM(c123) AS c12d, COUNT(*) AS n1f12
        |        FROM tri GROUP BY 1, 2),
        |bgc AS (SELECT w2, w3, COUNT(*) AS n1b23 FROM tri GROUP BY 1, 2),
        |c2 AS (SELECT w2, SUM(n1b23) AS nmid, COUNT(*) AS n1f2
        |       FROM bgc GROUP BY 1),
        |unc AS (SELECT w3, COUNT(*) AS n1b3 FROM bgc GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt,
        |               CAST(COUNT(DISTINCT w3) AS DOUBLE) AS v3 FROM bgc),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |dtg AS (
        |  SELECT doc, t[i.i] AS w1, t[i.i + 1] AS w2, t[i.i + 2] AS w3,
        |    COUNT(*) AS tf
        |  FROM dt, (SELECT unnest(range(1, 2000)) AS i) i
        |  WHERE i.i <= len(t) - 2 GROUP BY 1, 2, 3, 4),
        |j AS (
        |  SELECT doc, tf,
        |    CASE WHEN tri.c123 IS NULL THEN 1 ELSE 0 END AS oov,
        |    LN(CASE WHEN c12.c12d IS NOT NULL
        |      THEN GREATEST(CAST(COALESCE(tri.c123, 0) AS DOUBLE) - 0.75, 0.0)
        |             / CAST(c12.c12d AS DOUBLE)
        |         + ((0.75 * CAST(c12.n1f12 AS DOUBLE)) / CAST(c12.c12d AS DOUBLE))
        |             * (CASE WHEN c2.nmid IS NOT NULL
        |                THEN GREATEST(CAST(COALESCE(bgc.n1b23, 0) AS DOUBLE) - 0.75, 0.0)
        |                       / CAST(c2.nmid AS DOUBLE)
        |                   + ((0.75 * CAST(c2.n1f2 AS DOUBLE)) / CAST(c2.nmid AS DOUBLE))
        |                       * ((CAST(COALESCE(unc.n1b3, 0) AS DOUBLE) + 0.5)
        |                          / (t.nbt + 0.5 * (t.v3 + 1.0)))
        |                ELSE (CAST(COALESCE(unc.n1b3, 0) AS DOUBLE) + 0.5)
        |                       / (t.nbt + 0.5 * (t.v3 + 1.0)) END)
        |      ELSE (CASE WHEN c2.nmid IS NOT NULL
        |            THEN GREATEST(CAST(COALESCE(bgc.n1b23, 0) AS DOUBLE) - 0.75, 0.0)
        |                   / CAST(c2.nmid AS DOUBLE)
        |               + ((0.75 * CAST(c2.n1f2 AS DOUBLE)) / CAST(c2.nmid AS DOUBLE))
        |                   * ((CAST(COALESCE(unc.n1b3, 0) AS DOUBLE) + 0.5)
        |                      / (t.nbt + 0.5 * (t.v3 + 1.0)))
        |            ELSE (CAST(COALESCE(unc.n1b3, 0) AS DOUBLE) + 0.5)
        |                   / (t.nbt + 0.5 * (t.v3 + 1.0)) END)
        |    END) AS logp
        |  FROM dtg
        |  LEFT JOIN tri USING (w1, w2, w3)
        |  LEFT JOIN c12 USING (w1, w2)
        |  LEFT JOIN bgc USING (w2, w3)
        |  LEFT JOIN c2 USING (w2)
        |  LEFT JOIN unc USING (w3), tot t),
        |sc AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |    CAST(SUM(oov * tf) AS BIGINT) AS n_oov,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mean_logprob
        |  FROM j GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(n_trigrams, 0) AS n_trigrams,
        |  COALESCE(n_oov, 0) AS n_oov,
        |  COALESCE(mean_logprob, 0.0) AS mean_logprob,
        |  COALESCE(ROUND(EXP(-mean_logprob), 6), 1.0) AS ppl
        |FROM documents d LEFT JOIN sc ON sc.doc = d.doc_id
        |ORDER BY doc""".stripMargin,

    // The four stage oracles chained: gopher_rules' signal CTE (kept
    // pages only), dedup_exact's min-id-per-md5 rule, unigram_ppl's
    // IEEE log-prob tree over the DEDUPED spine (model still trained
    // on the full held-in 4/5), and token_budget's ROWS-frame cumsum
    // in (ppl asc, doc_id asc) order — Spark ranks by -ppl DESC,
    // which is the same total order.
    "llm_pipeline" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text,
        |    CAST(len(toks) AS INT) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(regexp_replace(trim(text), '\s+', '', 'g'))
        |                    AS DOUBLE) / len(toks), 9) END AS mean_word_len,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(regexp_extract_all(text, '#|\.\.\.'))
        |                    AS DOUBLE) / len(toks), 9) END AS symbol_ratio,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(list_filter(lines,
        |              l -> regexp_matches(ltrim(l), '^[-*•]')))
        |                    AS DOUBLE) / len(lines), 9) END AS bullet_frac,
        |    CASE WHEN len(lines) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(list_filter(lines,
        |              l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
        |                    AS DOUBLE) / len(lines), 9) END AS ellipsis_frac,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE ROUND(CAST(len(list_filter(toks,
        |              t -> regexp_matches(t, '[A-Za-z]')))
        |                    AS DOUBLE) / len(toks), 9) END AS alpha_frac,
        |    CAST(len(list_intersect(list_transform(toks, t -> lower(t)),
        |      ['the','be','to','of','and','that','have','with'])) AS INT)
        |      AS n_stop
        |  FROM g),
        |d1 AS (
        |  SELECT doc_id, text FROM m
        |  WHERE n_words >= 30 AND n_words <= 90
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |    AND n_stop >= 1),
        |d2 AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM d1) WHERE rn = 1),
        |tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE doc_id % 5 <> 0 AND len(trim(text)) > 0),
        |c AS (SELECT token, COUNT(*) AS ctf FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS n,
        |               CAST(COUNT(*) AS DOUBLE) AS v FROM c),
        |dt AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM d2 WHERE len(trim(text)) > 0),
        |dtf AS (SELECT doc, token, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
        |j AS (
        |  SELECT doc, tf,
        |    CASE WHEN c.ctf IS NULL
        |      THEN LN(0.5 / (t.n + 0.5 * (t.v + 1.0)))
        |      ELSE LN((CAST(c.ctf AS DOUBLE) + 0.5) / (t.n + 0.5 * (t.v + 1.0)))
        |    END AS logp
        |  FROM dtf LEFT JOIN c USING (token), tot t),
        |sc AS (
        |  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    ROUND(SUM(logp * CAST(tf AS DOUBLE)) / CAST(SUM(tf) AS DOUBLE), 6)
        |      AS mean_logprob
        |  FROM j GROUP BY doc),
        |sp AS (
        |  SELECT d2.doc_id,
        |    COALESCE(n_tokens, 0) AS n_tokens,
        |    COALESCE(ROUND(EXP(-mean_logprob), 6), 1.0) AS ppl
        |  FROM d2 LEFT JOIN sc ON sc.doc = d2.doc_id),
        |sel AS (
        |  SELECT doc_id, n_tokens, ppl,
        |    SUM(n_tokens) OVER (ORDER BY ppl ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM sp)
        |SELECT doc_id, n_tokens, ppl FROM sel
        |WHERE cum - n_tokens < 3000
        |ORDER BY doc_id""".stripMargin,

    "corpus_js" ->
      s"""WITH ca AS (SELECT u.tok AS token, COUNT(*) AS ca FROM (
         |    SELECT unnest(string_split_regex($cleanSql, '\\s+')) AS tok
         |    FROM documents WHERE doc_id % 2 = 0 AND $cleanSql <> '') u
         |  GROUP BY 1),
         |cb AS (SELECT u.tok AS token, COUNT(*) AS cb FROM (
         |    SELECT unnest(string_split_regex($cleanSql, '\\s+')) AS tok
         |    FROM documents WHERE doc_id % 2 = 1 AND $cleanSql <> '') u
         |  GROUP BY 1),
         |j AS (SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
         |  FROM ca FULL JOIN cb USING (token)),
         |s AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS v FROM j),
         |e AS (SELECT
         |    (ca + 0.5) / (na + 0.5 * v) AS p,
         |    (cb + 0.5) / (nb + 0.5 * v) AS q
         |  FROM j, s)
         |SELECT (SELECT v FROM s) AS n_vocab,
         |  (SELECT CAST(na AS BIGINT) FROM s) AS n_tokens_a,
         |  (SELECT CAST(nb AS BIGINT) FROM s) AS n_tokens_b,
         |  round(SUM(p * ln(p / q)), 6) AS kl_ab,
         |  round(SUM(q * ln(q / p)), 6) AS kl_ba,
         |  round(SUM(p * ln(p / ((p + q) / 2)) / 2
         |          + q * ln(q / ((p + q) / 2)) / 2), 6) AS js
         |FROM e""".stripMargin,

    "zipf_fit" ->
      s"""WITH $toksCte,
         |cnt AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1),
         |rk AS (SELECT freq,
         |    ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank
         |  FROM cnt),
         |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
         |    ln(CAST(freq AS DOUBLE)) AS y, freq FROM rk),
         |a AS (SELECT COUNT(*) AS n, SUM(freq) AS tok,
         |    SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
         |  FROM xy)
         |SELECT n AS n_types, CAST(tok AS BIGINT) AS n_tokens,
         |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
         |  round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
         |    * sx / n, 6) AS intercept
         |FROM a""".stripMargin,

    "vocab_growth" ->
      s"""WITH $toksCte,
         |pdt AS (SELECT id, COUNT(*) AS nt FROM toks GROUP BY 1),
         |fo AS (SELECT MIN(id) AS id FROM toks GROUP BY token),
         |fod AS (SELECT id, COUNT(*) AS nw FROM fo GROUP BY 1),
         |j AS (SELECT p.id, p.nt, COALESCE(f.nw, 0) AS nw
         |  FROM pdt p LEFT JOIN fod f USING (id)),
         |c AS (SELECT id,
         |    SUM(nt) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
         |    SUM(nw) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
         |  FROM j)
         |SELECT id AS doc_id, CAST(ct AS BIGINT) AS cum_tokens,
         |  CAST(cv AS BIGINT) AS cum_types
         |FROM c WHERE id % 97 = 0 ORDER BY doc_id""".stripMargin,

    "heaps_fit" ->
      s"""WITH $toksCte,
         |pdt AS (SELECT id, COUNT(*) AS nt FROM toks GROUP BY 1),
         |fo AS (SELECT MIN(id) AS id FROM toks GROUP BY token),
         |fod AS (SELECT id, COUNT(*) AS nw FROM fo GROUP BY 1),
         |j AS (SELECT p.id, p.nt, COALESCE(f.nw, 0) AS nw
         |  FROM pdt p LEFT JOIN fod f USING (id)),
         |c AS (SELECT id,
         |    SUM(nt) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
         |    SUM(nw) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
         |  FROM j),
         |xy AS (SELECT ln(CAST(ct AS DOUBLE)) AS x,
         |    ln(CAST(cv AS DOUBLE)) AS y FROM c),
         |a AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM xy)
         |SELECT n AS n_points,
         |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS beta,
         |  round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
         |    * sx / n, 6) AS ln_k
         |FROM a""".stripMargin,

    "ttr_by_source" ->
      """WITH t2 AS (SELECT source,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |d AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |st AS (SELECT source, COUNT(*) AS n_tokens,
        |    COUNT(DISTINCT token) AS n_types
        |  FROM t2 GROUP BY 1)
        |SELECT d.source, d.n_docs,
        |  COALESCE(st.n_tokens, 0) AS n_tokens,
        |  COALESCE(st.n_types, 0) AS n_types,
        |  round(CAST(st.n_types AS DOUBLE) / CAST(st.n_tokens AS DOUBLE), 6)
        |    AS ttr
        |FROM d LEFT JOIN st USING (source)
        |ORDER BY source""".stripMargin,

    "readability" ->
      """WITH d AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    CASE WHEN clean = '' THEN []::VARCHAR[]
        |         ELSE string_split_regex(clean, '\s+') END AS toks,
        |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns
        |  FROM d),
        |m AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(ns AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(toks, x ->
        |      GREATEST(len(regexp_extract_all(x, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences,
        |  COALESCE(n_syllables, 0) AS n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    round(206.835
        |      - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      - 84.6 * (CAST(COALESCE(n_syllables, 0) AS DOUBLE)
        |          / CAST(n_words AS DOUBLE)), 6)
        |  END AS fk_ease,
        |  CASE WHEN n_words > 0 THEN
        |    round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      + 11.8 * (CAST(COALESCE(n_syllables, 0) AS DOUBLE)
        |          / CAST(n_words AS DOUBLE)) - 15.59, 6)
        |  END AS fk_grade
        |FROM m ORDER BY doc_id""".stripMargin,

    "corpus_top_ngrams" ->
      """WITH d AS (SELECT
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
        |  FROM documents WHERE len(trim(text)) > 0),
        |t AS (SELECT string_split_regex(clean, '\s+') AS toks FROM d
        |  WHERE clean <> ''),
        |b AS (SELECT toks[i.i] || ' ' || toks[i.i + 1] AS bigram
        |  FROM t, (SELECT unnest(range(1, 400)) AS i) i
        |  WHERE i.i <= len(toks) - 1)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin
  )

  override val nljAllowed: Set[String] = Set(
    // unigram_ppl / bigram_ppl / kn_ppl / sb_ppl / kn3_ppl:
    // corpus-total scalars (token count N + vocab size V;
    // bigram/trigram type totals + successor vocab) as 1-row
    // broadcasts — the whole LM ladder shares the pattern
    "unigram_ppl", "bigram_ppl", "kn_ppl", "sb_ppl", "kn3_ppl",
    // llm_pipeline: composes the unigram scorer, so it inherits its
    // (N, V) 1-row scalar broadcasts (the vocab totals re-derivation
    // appears once per referencing subtree in the executed plan)
    "llm_pipeline",
    // dsir_select: scores the corpus under TWO unigram LMs (target +
    // raw), so it carries two sets of the unigram_ppl (N, V)
    // corpus-total 1-row scalar broadcasts
    "dsir_select",
    // corpus_js: the (N_a, N_b, |V|) corpus totals ride onto the
    // vocab join as a 1-row broadcast (the bm25 (N, avgdl) pattern)
    "corpus_js")

  override val globalWindowAllowed: Set[String] = Set(
    // distinct-value or capped domains: distinct tokens, the 1e6-id
    // prefix buckets of vocabGrowth
    "heaps_fit", "vocab_growth", "zipf_fit",
    // row-scale, still to rewrite to a partitioned or two-phase form:
    // the window runs over a table that grows with the data
    // (100-document shard buckets)
    "llm_pipeline", "pack_shards")
}
