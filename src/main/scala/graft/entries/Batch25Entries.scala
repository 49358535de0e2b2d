package graft.entries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-10 batch 6: the remaining canonical LLM-corpus pipeline
  * stages — unigram-LM perplexity scoring (CCNet-style quality
  * filter), the C4 rule-based page cleaner, sentence-aligned RAG
  * chunking, and incremental snapshot dedup (exact + MinHash
  * near-dup) against a reference corpus. Every oracle replays the
  * full plan in DuckDB; sentence splitting avoids lookbehind (RE2)
  * by reconstructing terminal periods from a plain split, and all
  * log-prob parity follows the token_entropy round-6 contract.
  */
object Batch25Entries extends Entries {

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Snapshot.dropSeenDocs: a re-crawl where every third page
    // changed; the unchanged two-thirds must anti-join out against
    // the reference corpus by exact content fingerprint.
    "snapshot_dedup" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val newSnap = docs.select((col("doc_id") + 10000).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" xq7z")))
          .otherwise(col("text")).as("text"))
      graft.text.Snapshot.dropSeenDocs(newSnap, docs, "text")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        .orderBy("doc_id")
    }),

    // Snapshot.crossCorpusNearDupPairs (portable md5 family): the
    // re-crawl drops each page's first token — near- but not exact-
    // duplicates — and every page must pair with its reference twin
    // through the cross-corpus band join.
    "snapshot_neardup" -> ((s, dir) => {
      val ref = T.documents(s, dir).filter(col("doc_id") < 50)
      val newSnap = ref.select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.Snapshot.crossCorpusNearDupPairs(newSnap, ref,
          "doc_id", "text", numHashes = 32, bands = 8,
          threshold = 0.5, shingleK = 3, portable = true)
        .orderBy("id_new", "id_ref")
    })
  )

  val oracleSql: Map[String, String] = Map(

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

    "snapshot_dedup" ->
      """WITH newsnap AS (
        |  SELECT doc_id + 10000 AS doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' xq7z' ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, md5(text) AS fp FROM newsnap
        |WHERE md5(text) NOT IN (SELECT DISTINCT md5(text) FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Cross-corpus twin of minhash_pairs_md5: both snapshots sign
    // with the shared md5 family, candidates are new×ref band
    // equality (the Spark side keys on xxhash64 of the slice —
    // equivalent up to ~2^-64), verification is exact sig similarity.
    "snapshot_neardup" -> {
      val bandEq = (0 until 8).map { b =>
        s"n.sg[${b * 4 + 1}:${b * 4 + 4}] = r.sg[${b * 4 + 1}:${b * 4 + 4}]"
      }.mkString("(", " OR ", ")")
      s"""WITH corpus AS (
         |  SELECT 'r' AS side, doc_id, text FROM documents WHERE doc_id < 50
         |  UNION ALL
         |  SELECT 'n', doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
         |  FROM documents WHERE doc_id < 50),
         |toks AS (SELECT side, doc_id,
         |    string_split_regex(trim(text), '\\s+') AS t FROM corpus),
         |sh AS (
         |  SELECT DISTINCT side, doc_id,
         |    array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
         |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
         |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
         |h AS (SELECT side, doc_id,
         |        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
         |      FROM sh),
         |seeds AS (SELECT unnest(range(0, 32)) AS seed),
         |sig AS (
         |  SELECT side, doc_id, seed,
         |    MIN(CAST(('0x' || substr(md5(CONCAT(seed, '_', CAST(h AS VARCHAR))), 1, 15)) AS BIGINT)) AS m
         |  FROM h, seeds GROUP BY 1, 2, 3),
         |sigs AS (SELECT side, doc_id, list(m ORDER BY seed) AS sg
         |         FROM sig GROUP BY 1, 2),
         |pairs AS (
         |  SELECT n.doc_id AS id_new, r.doc_id AS id_ref,
         |    CAST(len(list_filter(range(1, 33), i -> n.sg[i] = r.sg[i])) AS DOUBLE) / 32 AS sig_sim
         |  FROM sigs n JOIN sigs r
         |    ON n.side = 'n' AND r.side = 'r' AND $bandEq)
         |SELECT id_new, id_ref, sig_sim FROM pairs
         |WHERE sig_sim >= 0.5
         |ORDER BY id_new, id_ref""".stripMargin
    }
  )
}
