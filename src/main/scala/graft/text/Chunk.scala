package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus restructuring for LLM training pipelines: token-window
  * document chunking and C4-style cross-corpus line deduplication.
  *
  * Reference anchor: the reference's text featurization utilities stop
  * at per-document stats (gofast/utils/text.py); these two operators
  * cover the corpus-preparation steps a training pipeline needs before
  * tokenization — splitting long documents into model-window-sized
  * chunks, and stripping boilerplate lines that repeat across many
  * documents (the C4/RefinedWeb "line appears in >= N documents" rule).
  *
  * Scale design: both are single-explode plans. Chunking is a pure
  * Generator (explode over a per-row `sequence`) with zero shuffles.
  * Line dedup shuffles twice — once to count distinct-document
  * frequency per normalized line (two-phase, map-side partial), once to
  * reassemble documents keyed by id; the removal set it anti-joins
  * against holds ONLY lines at/above the frequency threshold, which is
  * tiny by construction (heavy boilerplate), so AQE broadcasts it.
  */
object Chunk {

  /** The library's canonical whitespace tokenizer ([[TextFns.tokens]]:
    * blank → empty array) hardened for NULL text as well, so every
    * operator here sees "no tokens" rather than a NULL array that
    * poisons size()/slice() arithmetic downstream. */
  private def toksOf(c: Column): Column =
    coalesce(TextFns.tokens(c), array().cast("array<string>"))

  /** Split each document into whitespace-token windows of
    * `chunkTokens` tokens advancing by `chunkTokens - overlapTokens`
    * (so consecutive chunks share `overlapTokens` tokens — the
    * standard RAG/pre-training windowing rule).
    *
    * Chunk count is `max(1, ceil((n - overlap) / stride))`: every
    * token lands in at least one chunk, a document at or under the
    * window size yields exactly one chunk, and no chunk starts past
    * the last token. All window math is double-division + ceil so an
    * external SQL engine replays it bit-identically (exact well past
    * any real document length).
    *
    * Output: (idCol, chunk_id, chunk_text, n_tokens), one row per
    * chunk, `chunk_id` 0-based in token order. No shuffle: the plan is
    * project + generate.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int = 32, overlapTokens: Int = 8)
      : DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be > 0, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens), got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val toks = toksOf(col(textCol))
    val n = size(toks).cast("long")
    val nChunks = greatest(lit(1L),
      ceil((n - lit(overlapTokens.toLong)).cast("double") /
        lit(stride.toDouble)).cast("long"))
    val start = col("_ci") * lit(stride.toLong)
    val slice_ = slice(col("_toks"), (start + 1L).cast("int"),
      lit(chunkTokens))
    df.select(col(idCol), toks.as("_toks"), nChunks.as("_nc"))
      .withColumn("_ci", explode(sequence(lit(0L), col("_nc") - 1L)))
      .select(col(idCol), col("_ci").as("chunk_id"),
        array_join(slice_, " ").as("chunk_text"),
        size(slice_).cast("long").as("n_tokens"))
  }

  /** Remove every occurrence of a k-token span that appears at least
    * `minOccur` times across the corpus (the exact-substring dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" — repeated spans are what language models memorize).
    *
    * Plan, all keyed shuffles:
    *  1. one row per span start via `transform(sequence)` + explode —
    *     span identity is `md5` of the space-joined k-slice (portable
    *     across engines; a rolling hash is the constant-factor upgrade
    *     path at very long documents);
    *  2. corpus-wide span counts, filtered to `>= minOccur` — the
    *     surviving set is bounded by repeated content, not corpus
    *     size;
    *  3. occurrences of surviving spans become [start, start+k)
    *     intervals, merged per document with the classic
    *     island-and-gap window (running max of previous ends), so
    *     overlapping duplicate spans cut once;
    *  4. token positions inside merged intervals anti-join out, the
    *     remainder reassembles in order.
    *
    * Documents shorter than k tokens keep all their tokens (their
    * text, like every output here, is rejoined with single spaces —
    * token-based restructuring normalizes whitespace by construction).
    * Removal is every-occurrence (the conservative corpus-hygiene
    * variant; keep-one-copy is a policy layer above).
    *
    * The tokenized corpus is cut once, spread-parallel (it feeds the
    * span explode, the token explode AND the final length join —
    * without a cut, the regex split would run three times over the
    * full corpus); a cut needs no unpersist bookkeeping.
    *
    * Output: (idCol, text_deduped, n_kept, n_removed). */
  def maskDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 50, minOccur: Int = 2): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(minOccur >= 2, s"minOccur must be >= 2, got $minOccur")
    import org.apache.spark.sql.expressions.Window
    val toks = toksOf(col(textCol))
    // Spread.scan: the k-token rolling md5 is ~150 hashes/doc — a
    // 1-partition corpus scan serialized it on one task (r19 Profile).
    // a cut instead of persist+finally-unpersist: token-ARRAY frames
    // are pathological for the columnar cache encode, and the cut's
    // one job is spread-parallel
    val base = graft.core.Cut.of(graft.core.Spread.scan(df).select(col(idCol),
      toks.as("_toks"), size(toks).cast("long").as("_n")), graft.core.Cut.Reread)
    val starts = base.filter(col("_n") >= k)
      .select(col(idCol), explode(transform(
        sequence(lit(1), (col("_n") - k + 1).cast("int")),
        i => struct(i.cast("long").as("_s"),
          md5(array_join(slice(col("_toks"), i, lit(k)), " ")).as("_h"))))
        .as("_sp"))
      .select(col(idCol), col("_sp._s").as("_s"), col("_sp._h").as("_h"))
    val dupSpans = starts.groupBy("_h")
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minOccur)
      .select("_h")
    val occ = starts.join(dupSpans, "_h")
      .select(col(idCol), col("_s"), (col("_s") + k - 1).as("_e"))
    val wPrev = Window.partitionBy(idCol).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = occ
      .withColumn("_pmax", max(col("_e")).over(wPrev))
      .withColumn("_new",
        when(col("_pmax").isNull || col("_pmax") < col("_s"), 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(wRun))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("_s")).as("_s"), max(col("_e")).as("_e"))
    val removePos = merged.select(col(idCol),
      explode(sequence(col("_s"), col("_e"))).as("_pos"))
    val tokens = base
      .select(col(idCol), posexplode(col("_toks")).as(Seq("_p0", "_tok")))
      .select(col(idCol), (col("_p0") + 1).cast("long").as("_pos"),
        col("_tok"))
    val kept = tokens.join(removePos, Seq(idCol, "_pos"), "left_anti")
    val reassembled = kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_tok")))),
            x => x("_tok")),
          " ").as("text_deduped"),
        count(lit(1)).as("n_kept"))
    base.select(col(idCol), col("_n"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("_n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Remove every line whose normalized text appears in at least
    * `minDf` distinct documents (C4's boilerplate rule: navigation
    * menus, cookie banners and licence footers repeat across a large
    * fraction of a crawl), preserving the order of surviving lines.
    *
    * `splitRe` is the line-delimiter REGEX (default newline) and
    * `joinSep` the literal separator surviving lines are rejoined
    * with. Lines are normalized by `trim` for counting and matching;
    * blank lines never count toward document frequency and are always
    * kept (they carry document structure, not boilerplate).
    *
    * Documents whose every line is boilerplate stay in the output with
    * an empty `text_clean` — dropping is the caller's policy decision
    * (`n_kept = 0` makes it a one-filter follow-up).
    *
    * Output: (idCol, text_clean, n_kept, n_removed).
    */
  def dedupLinesAcrossCorpus(df: DataFrame, idCol: String, textCol: String,
                             minDf: Long, splitRe: String = "\n",
                             joinSep: String = "\n"): DataFrame = {
    require(minDf > 0, s"minDf must be > 0, got $minDf")
    dedupLinesCore(df, idCol, textCol, splitRe, joinSep,
      freq => freq.filter(col("_df") >= minDf))
  }

  /** [[dedupLinesAcrossCorpus]] with the threshold expressed as a
    * document-count fraction `num/den` (integer floor — at num=3,
    * den=4, a line is boilerplate when it appears in at least
    * ⌊3·docs/4⌋ documents). The total derives INSIDE the plan as a
    * one-row broadcast scalar, so no driver-side count job runs per
    * invocation and an external engine re-derives the identical
    * threshold from the same integer math. */
  def dedupLinesByDocFrac(df: DataFrame, idCol: String, textCol: String,
                          num: Int, den: Int, splitRe: String = "\n",
                          joinSep: String = "\n"): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"fraction must satisfy 0 < num <= den, got $num/$den")
    dedupLinesCore(df, idCol, textCol, splitRe, joinSep, freq => {
      val tot = df.agg(count(lit(1)).cast("long").as("_tot"))
      freq.crossJoin(broadcast(tot))
        .filter(col("_df") >= expr(s"_tot * $num div $den"))
    })
  }

  /** Split each document into sentence-aligned chunks of about
    * `budgetTokens` whitespace tokens — the RAG chunking variant that
    * never cuts a sentence in half. A sentence belongs to the chunk
    * its FIRST token falls in (`chunk_id = ⌊tokens-before / budget⌋`),
    * so chunks may overrun the budget by at most one sentence tail;
    * the budget is a boundary, not a cap — the deterministic,
    * window-expressible contract an external engine can replay
    * exactly (one cumulative-sum window per document, one groupBy
    * reassembly, no iterative greedy state).
    *
    * Sentences split on terminal punctuation ([[TextFns.sentences]]);
    * chunk text rejoins with single spaces. Zero-token documents
    * yield one empty chunk (their single empty "sentence" — the same
    * `['']` a SQL string-split produces, so parity holds). Output:
    * (idCol, chunk_id, text_chunk, n_sentences, n_tokens). */
  def chunkBySentences(df: DataFrame, idCol: String, textCol: String,
                       budgetTokens: Int): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val sents = df.select(col(idCol),
      posexplode(TextFns.sentences(coalesce(col(textCol), lit(""))))
        .as(Seq("_pos", "_sent")))
    val sized = sents.withColumn("_ntok",
      size(TextFns.tokens(col("_sent"))).cast("long"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = sized.withColumn("_before",
        coalesce(sum(col("_ntok")).over(w), lit(0L)))
      .withColumn("chunk_id", (col("_before") / lit(budgetTokens.toLong))
        .cast("long"))
    marked.groupBy(col(idCol), col("chunk_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_sent")))),
            x => trim(x("_sent"))), " ").as("text_chunk"),
        count(lit(1)).as("n_sentences"),
        sum("_ntok").as("n_tokens"))
  }

  /** Shared plan of the line-dedup variants; `removalFilter` turns the
    * (line, document-frequency) table into the lines to remove. The
    * exploded lines persist for the call (they feed the frequency
    * count AND the anti-join) and the result is cut: every stage that
    * reads the lines sits below a shuffle, so it runs at the cut,
    * before the cache drops. */
  private def dedupLinesCore(df: DataFrame, idCol: String, textCol: String,
                             splitRe: String, joinSep: String,
                             removalFilter: DataFrame => DataFrame)
      : DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), splitRe)).as(Seq("_pos", "_line")))
      .persist()
    try {
      // the removal set: ONLY lines at/above the threshold survive this
      // aggregate, so the anti-join's build side is bounded by the
      // boilerplate vocabulary, not the corpus
      val freq = lines.filter(trim(col("_line")) =!= "")
        .groupBy(trim(col("_line")).as("_norm"))
        .agg(countDistinct(col(idCol)).as("_df"))
      val removal = removalFilter(freq).select("_norm")
      val kept = lines.join(removal,
        trim(lines("_line")) === removal("_norm"), "left_anti")
      val reassembled = kept.groupBy(col(idCol))
        .agg(
          array_join(
            transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
              x => x("_line")),
            joinSep).as("text_clean"),
          count(lit(1)).as("n_kept"))
      // left join back so fully-boilerplate documents surface with an
      // empty text instead of silently disappearing; NULL text has no
      // lines at all (size(NULL) is NULL, coalesced to 0 removals)
      val nLines = coalesce(size(split(col(textCol), splitRe)), lit(0))
        .cast("long")
      graft.core.Cut.of(df.select(col(idCol), nLines.as("_ntot"))
        .join(reassembled, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("text_clean"), lit("")).as("text_clean"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("_ntot") - coalesce(col("n_kept"), lit(0L))).as("n_removed")),
        graft.core.Cut.Reread)
    } finally lines.unpersist(false)
  }
}
