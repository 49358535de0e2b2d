package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF keyword extraction / extractive summarization.
  *
  * Reference: `summarize_text_columns` (gofast/dataops/
  * transformation.py:31) — TF-IDF top-unit extraction per document;
  * here the unit is the token (keywords) with the same scoring shape.
  *
  * Plan shape: explode → two aggregates (per-doc TF, corpus DF) → join
  * → windowed top-k. The DF table is tiny (vocabulary) and broadcast;
  * the only big shuffle is the per-doc TF groupBy.
  */
object Keywords {

  /** Top-k TF-IDF tokens per document.
    * score = tf · ln(N / df); ties broken by token ascending.
    * N is the exact document count; all inputs to ln are exact ints, so
    * scores are engine-deterministic doubles. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                minTokenLen: Int = 2): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) >= minTokenLen)
    val tf = toks.groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select("doc", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.select(col(idCol)).distinct().count()
    // ln differs in the last ulp across libm implementations — round to
    // 9 dp so scores are engine-portable (they are O(1..10)).
    val scored = tf.join(broadcast(dfreq), "token")
      .withColumn("score",
        round(col("tf").cast("double") *
          log(lit(n.toDouble) / col("df").cast("double")), 6))
    val w = Window.partitionBy("doc")
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("doc"), col("rk"), col("token"), col("score"))
  }

  /** Extractive summary: the highest-TF-IDF sentence per document.
    * Reference: `summarize_text_columns`
    * (gofast/dataops/transformation.py:31), `simple_extractive_summary`
    * (gofast/dataops/enrichment.py:228).
    *
    * Sentences split on `[.!?]\s+` (delimiter consumed — no lookbehind,
    * so the split is portable to RE2-based engines). Sentence score =
    * mean over its tokens of tf·ln(n_sentences/df), where df counts the
    * doc's sentences containing the token. Token scores are exact
    * decimals (tf·6-dp-rounded-ln), so the per-sentence mean is one
    * deterministic double division and the argmax (ties → first
    * sentence) is engine-stable.
    *
    * Plan: sentence/token explodes → three aggregates keyed by doc —
    * every shuffle is on (doc[, sidx|token]); no cross-document state,
    * so the operator scales linearly with corpus size. */
  def extractiveSummary(df: DataFrame, idCol: String, textCol: String,
                        minTokenLen: Int = 2,
                        kernel: String = "local"): DataFrame = {
    require(kernel == "local" || kernel == "shuffle",
      s"kernel must be 'local' or 'shuffle', got $kernel")
    if (kernel == "local") {
      // the scoring is doc-local (its "df" counts the document's OWN
      // sentences) — one native summarize_doc expression per row, no
      // checkpoint/aggregate/window machinery; the relational kernel
      // below stays as the single-giant-doc escape hatch
      graft.functions.NativeFunctions.register(df.sparkSession)
      return df.select(col(idCol).as("doc"),
          call_function("summarize_doc", col(textCol), lit(minTokenLen))
            .as("_s"))
        .filter(col("_s").isNotNull)
        .select(col("doc"), col("_s.sidx").as("sidx"),
          col("_s.summary").as("summary"), col("_s.score").as("score"))
    }
    // sent feeds tf, ns and the final join of one plan, so the regex
    // sentence split runs once per reading exchange; this kernel is
    // the single-giant-doc escape hatch, and no measured query pays
    // for a cut here
    val sent = df.select(col(idCol).as("doc"),
        posexplode(split(col(textCol), "[.!?]\\s+")).as(Seq("sidx", "sent")))
      .filter(length(trim(col("sent"))) > 0)
    val toks = sent.select(col("doc"), col("sidx"),
        explode(TextFns.tokens(lower(col("sent")))).as("token"))
      .filter(length(col("token")) >= minTokenLen)
    val tf = toks.groupBy("doc", "sidx", "token").agg(count(lit(1)).as("tf"))
    // tf is unique per (doc, sidx, token), so the sentence-frequency of
    // a token is just its row count in tf — no second pass over the raw
    // token stream and no distinct() shuffle of it.
    val sdf = tf.groupBy("doc", "token").agg(count(lit(1)).as("sdf"))
    val ns = sent.groupBy("doc").agg(count(lit(1)).as("ns"))
    val scoredTok = tf
      .join(sdf, Seq("doc", "token"))
      .join(ns, Seq("doc"))
      .withColumn("tokscore",
        (col("tf").cast("decimal(10,0)") *
          round(log(col("ns").cast("double") / col("sdf").cast("double")), 6)
            .cast("decimal(10,6)")).cast("decimal(20,6)"))
    val sentScore = scoredTok.groupBy("doc", "sidx")
      .agg((sum("tokscore").cast("double") / count(lit(1)).cast("double"))
        .as("score"))
    val w = Window.partitionBy("doc").orderBy(col("score").desc, col("sidx").asc)
    sentScore.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(sent, Seq("doc", "sidx"))
      .select(col("doc"), col("sidx"), col("sent").as("summary"), col("score"))
  }
}
