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
    * sentence) is engine-stable. Docs with no non-blank sentence
    * produce no row.
    *
    * The scoring is doc-local (its "df" counts the document's OWN
    * sentences): one native `summarize_doc` expression per row — no
    * aggregate, window or cross-document state, so the operator
    * scales linearly with corpus size. */
  def extractiveSummary(df: DataFrame, idCol: String, textCol: String,
                        minTokenLen: Int = 2): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(col(idCol).as("doc"),
        call_function("summarize_doc", col(textCol), lit(minTokenLen))
          .as("_s"))
      .filter(col("_s").isNotNull)
      .select(col("doc"), col("_s.sidx").as("sidx"),
        col("_s.summary").as("summary"), col("_s.score").as("score"))
  }
}
