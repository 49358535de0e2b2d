package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-12 continuation: the Gopher rule-based quality filter family
  * (full rule table + the duplicated-n-gram repetition signal),
  * embedding-space decontamination (the semantic complement of the
  * k-gram screen, native max-cosine kernel), the BPE deploy chain,
  * token-budgeted shard packing + the seeded global shuffle (the
  * pipeline's output stage), and the banded point-in-interval join. */
object Batch30Entries extends Entries {

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
    // overlap it. Explode-once plan: transform(sequence)+slice builds
    // grams in-row, shuffles keyed by doc / (doc, gram) only.
    "ngram_rep" -> ((s, dir) => {
      graft.text.Quality.dupNgramCharFrac(T.documents(s, dir),
          "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    // text.Quality.topNgramCharFrac: Gopher's TOP-n-gram signal (n=3)
    // — most frequent trigram per doc and the token-char fraction its
    // (possibly overlapping) occurrences account for; shared in-row
    // gram builder with ngram_rep, two-phase per-doc top-1.
    "top_ngram" -> ((s, dir) => {
      graft.text.Quality.topNgramCharFrac(T.documents(s, dir),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // rel.Joins.intervalJoin: point-in-interval enrichment as a BANDED
    // equi-join (intervals explode into the 90-min bands they touch,
    // points join on their single band, interval predicate as
    // residual) — never the O(n·m) nested loop the naive non-equi
    // formulation degenerates to. 80 six-hourly 90-min "maintenance
    // windows" generated identically in both engines.
    "interval_join" -> ((s, dir) => {
      val w = s.range(0, 80).select(col("id").as("window_id"),
          expr("timestampadd(HOUR, CAST(id * 6 AS INT), " +
            "TIMESTAMP'2024-01-01 00:00:00')").as("w_start"))
        .withColumn("w_end", expr("timestampadd(MINUTE, 90, w_start)"))
      graft.rel.Joins.intervalJoin(T.events(s, dir), "ts", w,
          "w_start", "w_end", bandSeconds = 5400L)
        .select("event_id", "window_id", "event_type")
        .orderBy("event_id", "window_id")
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

    // ml.Similarity.semanticDecontamKernel: every 20th vector plays
    // the benchmark/eval set; the rest is the training corpus. The
    // eval matrix rides as ONE reference double[] inside the native
    // max_cosine_f32 codegen expression — the whole screen is a single
    // projection pass, no join, no shuffle (the crossJoin+max twin is
    // bit-parity-asserted in GopherSpec; the DECONTAM probe measured
    // it super-linear under memory pressure, the kernel linear). Flag
    // compares the UNROUNDED max, round-6 for display.
    "semantic_decontam" -> ((s, dir) => {
      val e = T.embeddings(s, dir)
      graft.ml.Similarity.semanticDecontamKernel(
          e.filter(col("vec_id") % 20 =!= 0),
          e.filter(col("vec_id") % 20 === 0),
          "vec_id", "embedding", "embedding", threshold = 0.30)
        .select(col("vec_id"), col("label"),
          round(col("max_eval_cos"), 6).as("max_eval_cos"),
          col("contaminated"))
        .orderBy("vec_id")
    })
  )

  val oracleSql: Map[String, String] = Map(

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

    "interval_join" ->
      """WITH w AS (
        |  SELECT w AS window_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 6 HOUR
        |      AS w_start,
        |    TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 6 HOUR
        |      + INTERVAL 90 MINUTE AS w_end
        |  FROM (SELECT unnest(range(0, 80)) AS w))
        |SELECT e.event_id, w.window_id, e.event_type
        |FROM events e JOIN w ON e.ts >= w.w_start AND e.ts <= w.w_end
        |ORDER BY e.event_id, w.window_id""".stripMargin,

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

    "semantic_decontam" ->
      """WITH ev AS (SELECT embedding AS ev FROM embeddings
        |            WHERE vec_id % 20 = 0),
        |tr AS (SELECT * FROM embeddings WHERE vec_id % 20 <> 0),
        |x AS (
        |  SELECT t.vec_id, MAX(
        |    list_sum(list_transform(list_zip(t.embedding, ev.ev),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (SQRT(list_sum(list_transform(t.embedding,
        |           v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |       * SQRT(list_sum(list_transform(ev.ev,
        |           v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))) AS mc
        |  FROM tr t CROSS JOIN ev GROUP BY t.vec_id)
        |SELECT t.vec_id, t.label, ROUND(x.mc, 6) AS max_eval_cos,
        |  (x.mc >= 0.30) AS contaminated
        |FROM tr t JOIN x ON t.vec_id = x.vec_id
        |ORDER BY t.vec_id""".stripMargin
  )
}
