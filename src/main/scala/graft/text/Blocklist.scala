package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocklist filtering — the C4 "bad-words page removal" stage
  * (Raffel et al., "Exploring the Limits of Transfer Learning with a
  * Unified Text-to-Text Transformer", JMLR 2020, §2.2: drop any page
  * containing a word on a blocklist). Every production web-corpus
  * pipeline runs this between language-ID and dedup; it was the one
  * C4 stage `c4Clean` (C4.scala) did not cover.
  *
  * Two pattern kinds, both matched under the [[TextFns.cleanText]]
  * normalization so "Bad-Word!" and "bad word" hit the same entries:
  *  - TERMS: single tokens, exact whitespace-token match (no
  *    substring false positives — "class" never hits a 3-letter term)
  *  - PHRASES: multi-word, matched as a space-bounded substring of
  *    the cleaned text (" " padding enforces word boundaries at both
  *    ends)
  *
  * Everything is a per-row codegen'd column expression over literal
  * arrays — no join, no shuffle, no UDF; the blocklist rides into
  * every task as a plan literal (the broadcast degenerate case). Hit
  * lists preserve the blocklist's own order (a `filter` over the
  * literal array), which any engine replays identically. Cost is
  * O(tokens + |phrases|·len) per row; for blocklists in the tens of
  * thousands the escape hatch is an Aho–Corasick automaton behind a
  * native expression — not needed at the C4 list's size (~400
  * entries).
  *
  * Reference: C4 stage (paper above); gofast quality-signal family
  * (gofast/utils/text.py:838) has no blocklist primitive — this is
  * north-star coverage for the LLM-pipeline axis.
  */
object Blocklist {

  private def norm(p: String): String =
    p.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim

  // NULL text must behave like "" on EVERY engine path: the literal
  // path's lambda happens to yield ([], [], false) on null while the
  // AC path's concat propagates NULL — without this bind the auto
  // switch at 64 patterns would change output shape on null rows.
  private def textOrEmpty(textCol: String): Column =
    coalesce(col(textCol), lit(""))

  /** Per-document hit report: (idCol, term_hits: array<string>,
    * phrase_hits: array<string>, blocked: boolean). Patterns are
    * normalized with the same rule as the text, so callers pass them
    * raw. Duplicate / empty patterns are dropped driver-side.
    */
  def hits(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], phrases: Seq[String] = Nil,
           engine: String = "auto"): DataFrame = {
    require(Set("auto", "literal", "ac").contains(engine),
      s"engine must be auto|literal|ac, got $engine")
    val ts = terms.map(norm).filter(t => t.nonEmpty && !t.contains(" ")).distinct
    val ps = phrases.map(norm).filter(_.contains(" ")).distinct
    require(ts.nonEmpty || ps.nonEmpty, "empty blocklist: nothing to match")
    // the literal-filter spelling is O(|blocklist| · len) per row; the
    // Aho-Corasick expression is one text pass regardless of list
    // size. Auto switches at 64 patterns — the crossover is far lower,
    // but below that both are instant and the literal plan is simpler
    // to read. Outputs are identical (asserted in Batch34Spec).
    if (engine == "ac" || (engine == "auto" && ts.size + ps.size > 64))
      return hitsAc(df, idCol, textCol, ts, ps)
    val empty = array().cast("array<string>")
    // HOF lambdas re-evaluate any outer expression they reference on
    // EVERY element — a token array fed to `filter` straight off the
    // regex chain costs |blocklist| regex passes per row. Let-bind the
    // normalized text, then the (tokens, padded) pair, via the
    // one-element-array trick (the Winnow.md5WindowMins convention) so
    // each is computed exactly once per row.
    val hitStruct = transform(array(TextFns.cleanText(textOrEmpty(textCol))), c0 => {
      transform(array(struct(TextFns.tokens(c0).as("t"),
          concat(lit(" "), c0, lit(" ")).as("p"))), s0 => {
        val th =
          if (ts.isEmpty) empty
          else filter(lit(ts.toArray), t => array_contains(s0.getField("t"), t))
        val ph =
          if (ps.isEmpty) empty
          else filter(lit(ps.toArray),
            p => contains(s0.getField("p"), concat(lit(" "), p, lit(" "))))
        struct(th.as("th"), ph.as("ph"))
      }).getItem(0)
    }).getItem(0)
    // two projections, `_h` referenced four times in the outer one —
    // CollapseProject keeps them separate, so the struct is computed
    // once per row
    df.select(col(idCol), hitStruct.as("_h"))
      .select(col(idCol), col("_h.th").as("term_hits"),
        col("_h.ph").as("phrase_hits"),
        (size(col("_h.th")) + size(col("_h.ph")) > 0).as("blocked"))
  }

  /** [[hits]] on the Aho–Corasick path: terms and phrases unify into
    * ONE automaton over the space-padded cleaned text (" t " matching
    * is exactly token membership once the text is single-space
    * normalized), so the scan is one pass per row regardless of
    * blocklist size. Matched ids come back ascending = blocklist
    * order, preserving the literal path's output exactly. */
  private def hitsAc(df: DataFrame, idCol: String, textCol: String,
                     ts: Seq[String], ps: Seq[String]): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    val all = (ts ++ ps).map(p => " " + p + " ")
    val padded = concat(lit(" "), TextFns.cleanText(textOrEmpty(textCol)), lit(" "))
    val matched = call_function("multi_contains", padded, lit(all.toArray))
    val nTerms = ts.size
    val emptyS = array().cast("array<string>")
    // empty-side guards: lit(Array.empty) is not a constructible
    // literal, and an empty class can never match anyway
    val termHits =
      if (ts.isEmpty) emptyS
      else transform(filter(col("_m"), i => i < nTerms),
        i => element_at(lit(ts.toArray), i + 1))
    val phraseHits =
      if (ps.isEmpty) emptyS
      else transform(filter(col("_m"), i => i >= nTerms),
        i => element_at(lit(ps.toArray), i - nTerms + 1))
    df.select(col(idCol), matched.as("_m"))
      .select(col(idCol), termHits.as("term_hits"),
        phraseHits.as("phrase_hits"),
        (size(col("_m")) > 0).as("blocked"))
  }

  /** Drop every document with at least one blocklist hit (the C4
    * behavior: page-level removal, not redaction). Keeps the input
    * schema. The predicate uses `arrays_overlap` / `contains` only —
    * the cheapest boolean form, no hit-list materialization. */
  def filterClean(df: DataFrame, textCol: String,
                  terms: Seq[String], phrases: Seq[String] = Nil,
                  engine: String = "auto"): DataFrame = {
    require(Set("auto", "literal", "ac").contains(engine),
      s"engine must be auto|literal|ac, got $engine")
    val ts = terms.map(norm).filter(t => t.nonEmpty && !t.contains(" ")).distinct
    val ps = phrases.map(norm).filter(_.contains(" ")).distinct
    require(ts.nonEmpty || ps.nonEmpty, "empty blocklist: nothing to match")
    if (engine == "ac" || (engine == "auto" && ts.size + ps.size > 64)) {
      graft.functions.NativeFunctions.register(df.sparkSession)
      val all = (ts ++ ps).map(p => " " + p + " ")
      val padded = concat(lit(" "), TextFns.cleanText(textOrEmpty(textCol)), lit(" "))
      return df.filter(size(call_function("multi_contains", padded,
        lit(all.toArray))) === 0)
    }
    // same let-binding discipline as [[hits]]: normalize once, pad
    // once, then run the cheap membership checks over the bound values
    val pred = transform(array(TextFns.cleanText(textOrEmpty(textCol))), c0 => {
      val termHit =
        if (ts.isEmpty) lit(false)
        else arrays_overlap(TextFns.tokens(c0), lit(ts.toArray))
      val phraseHit =
        if (ps.isEmpty) lit(false)
        else transform(array(concat(lit(" "), c0, lit(" "))), p0 =>
          ps.foldLeft(lit(false)) { (acc, p) =>
            acc || contains(p0, lit(" " + p + " "))
          }).getItem(0)
      termHit || phraseHit
    }).getItem(0)
    df.filter(!pred)
  }

  /** Corpus-level audit: (pattern, kind, n_docs) — how many documents
    * each blocklist entry fires on (df per pattern, not occurrence
    * count). One explode of the per-doc DISTINCT hit lists, so the
    * exploded volume is bounded by docs × |blocklist-entries-hit|,
    * never corpus token volume. */
  def report(df: DataFrame, idCol: String, textCol: String,
             terms: Seq[String], phrases: Seq[String] = Nil): DataFrame = {
    val h = hits(df, idCol, textCol, terms, phrases)
    val t = h.select(explode(col("term_hits")).as("pattern"))
      .withColumn("kind", lit("term"))
    val p = h.select(explode(col("phrase_hits")).as("pattern"))
      .withColumn("kind", lit("phrase"))
    t.unionByName(p).groupBy("pattern", "kind")
      .agg(count(lit(1)).as("n_docs"))
  }
}
