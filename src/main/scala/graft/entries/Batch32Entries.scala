package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-12 continuation: the trigram Stupid Backoff model (Brants
  * et al. 2007 — the n-gram smoothing designed FOR distributed
  * trillion-token corpora), topping out the LM-scoring ladder
  * add-α unigram → add-α bigram → interpolated KN → trigram SB. */
object Batch32Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Dedup.connectedComponentsStar: the SAME near-dup graph as
    // dedup_clusters, clustered by the alternating large-star/
    // small-star algorithm (Kiveris et al. 2014) instead of min-label
    // propagation — O(log²) rounds regardless of component diameter,
    // the variant that survives chain-shaped duplicate graphs at
    // scale. Identical output contract, identical recursive-CTE
    // oracle: the transitive closure does not care which algorithm
    // computed it, so any divergence between the two hash-mismatches.
    "cc_star" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      val pairs = graft.text.Dedup.ngramJaccardPairs(
        d.unionByName(perturbed), "doc_id", "text", k = 3, threshold = 0.5)
      graft.text.Dedup.connectedComponentsStar(pairs)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
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

    // functions.UnicodeNormalize: UAX #15 normalization as a native
    // codegen expression (Spark has no built-in) — the
    // pre-fingerprinting canonicalization step dedup pipelines need:
    // composed U+00E9 and decomposed e+U+0301 are byte-different, so
    // every hash-based dedup misses the duplicate until both sides
    // normalize. Even docs get a decomposed suffix appended (both
    // branches of the isNormalized fast path exercised); DuckDB
    // replays with its own UAX #15 implementation (nfc_normalize).
    "unicode_nfc" -> ((s, dir) => {
      graft.functions.TextExpressions.register(s)
      T.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" cafe\u0301 u\u0308ber")))
            .otherwise(col("text")).as("raw"))
        .select(col("doc_id"),
          call_function("unicode_norm", col("raw"), lit("NFC"))
            .as("norm_text"),
          (call_function("unicode_norm", col("raw"), lit("NFC"))
            =!= col("raw")).as("changed"))
        .orderBy("doc_id")
    }),

    // text.EvalMetrics.rougeN: per-document ROUGE-1/2 recall of each
    // document against its first-word-dropped twin — the eval-side
    // operator of a model-output pipeline as pure n-gram count
    // aggregations (clipped matches over reference totals), every
    // shuffle keyed by (doc, gram).
    "rouge_doc" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.rougeN(cand, ref, "doc_id", "text", "text",
          maxN = 2)
        .orderBy("doc")
    }),

    // text.EvalMetrics.rougeL via the native lcs_len codegen
    // expression (an O(n·m) DP no built-in composition can express —
    // row-local, so it distributes perfectly). The reference replaces
    // every 3rd token with a position-unique junk token that occurs
    // nowhere in the corpus, so the LCS has the CLOSED FORM
    // len − ⌊len/3⌋ — a full end-to-end oracle for the DP on real
    // data (the expression computes it honestly; DuckDB replays the
    // closed form).
    "rouge_l" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val toks = graft.text.TextFns.tokens(lower(col("text")))
      val ref = cand.select(col("doc_id"),
        array_join(
          zip_with(toks,
            when(size(toks) > 0, sequence(lit(1), size(toks)))
              .otherwise(array().cast("array<int>")),
            (t, i) => when(i % 3 === 0,
              concat(lit("[["), i.cast("string"), lit("]]"))).otherwise(t)),
          " ").as("text"))
      graft.text.EvalMetrics.rougeL(cand, ref, "doc_id", "text", "text")
        .orderBy("doc")
    }),

    // text.EvalMetrics.corpusBleu: corpus BLEU-4 of the same
    // candidate/reference pairing — four clipped-precision count
    // pairs + one length pair collapse to a single row; integer
    // sufficient statistics, round-6 at every libm crossing.
    "bleu_corpus" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.corpusBleu(cand, ref, "doc_id", "text", "text",
        maxN = 4)
    }),

    // ---- rows-only entry (sketch internals are engine-specific) ----
    // cardinality at scale: uniqueStats' HLL++ path
    // (approx_count_distinct) on the same columns as the
    // oracle-checked EXACT twin unique_stats. Exact count_distinct is
    // a full shuffle of the distinct values; the HLL sketch is one
    // mergeable pass — the plan that survives 100 TB. Batch32Spec
    // asserts the default-rsd (5%) error bound against the exact
    // counts, the quantiles_approx convention.
    "unique_stats_approx" -> ((s, dir) => {
      graft.rel.Aggregates.uniqueStats(T.orders(s, dir),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"),
        approx = true)
    })
  )

  val oracleSql: Map[String, String] = Map(

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

    // Verbatim the dedup_clusters oracle (Batch17Entries): the
    // recursive-CTE transitive closure is algorithm-independent.
    "cc_star" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
        |  FROM documents WHERE doc_id < 50),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
        |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes na ON na.doc_id = id_a
        |  JOIN sizes nb ON nb.doc_id = id_b
        |  WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

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

    // The clipped-overlap kernel replayed per order: per-(doc, gram)
    // counts on both sides, FULL join, Σ min — recall against the
    // reference total, round-6, absent orders coalesce to 0.
    "rouge_doc" ->
      """WITH cd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
        |  FROM documents),
        |rd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(regexp_replace(text, '^\S+\s+', ''))) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           trim(lower(regexp_replace(text, '^\S+\s+', ''))), '\s+')
        |    END AS t
        |  FROM documents),
        |cg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |rg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |cg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram,
        |          COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |rg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram,
        |          COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |o1 AS (SELECT doc,
        |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
        |         SUM(COALESCE(r.c, 0)) AS rt
        |       FROM cg1 c FULL JOIN rg1 r USING (doc, gram) GROUP BY doc),
        |o2 AS (SELECT doc,
        |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
        |         SUM(COALESCE(r.c, 0)) AS rt
        |       FROM cg2 c FULL JOIN rg2 r USING (doc, gram) GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  COALESCE(CASE WHEN o1.rt > 0
        |    THEN ROUND(CAST(o1.m AS DOUBLE) / CAST(o1.rt AS DOUBLE), 6)
        |    ELSE 0.0 END, 0.0) AS rouge_1,
        |  COALESCE(CASE WHEN o2.rt > 0
        |    THEN ROUND(CAST(o2.m AS DOUBLE) / CAST(o2.rt AS DOUBLE), 6)
        |    ELSE 0.0 END, 0.0) AS rouge_2
        |FROM documents d
        |LEFT JOIN o1 ON o1.doc = d.doc_id
        |LEFT JOIN o2 ON o2.doc = d.doc_id
        |ORDER BY doc""".stripMargin,

    // The closed form: junk replacements are unmatchable, so
    // LCS = len − ⌊len/3⌋ and ref_len = len exactly.
    "rouge_l" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS l
        |  FROM documents)
        |SELECT doc_id AS doc,
        |  CAST(l - l // 3 AS INT) AS lcs,
        |  CASE WHEN l > 0
        |    THEN ROUND(CAST(l - l // 3 AS DOUBLE) / CAST(l AS DOUBLE), 6)
        |    ELSE 0.0 END AS rouge_l
        |FROM n ORDER BY doc""".stripMargin,

    // Corpus BLEU-4: four clipped-precision pairs + the length pair;
    // p_n and bp round-6 BEFORE the final product, zero p_n floors
    // the score (the standard convention, logs never -inf).
    "bleu_corpus" ->
      """WITH cd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS t
        |  FROM documents),
        |rd AS (
        |  SELECT doc_id AS doc,
        |    CASE WHEN len(trim(regexp_replace(text, '^\S+\s+', ''))) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(
        |           trim(lower(regexp_replace(text, '^\S+\s+', ''))), '\s+')
        |    END AS t
        |  FROM documents),
        |cl AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS cand_len FROM cd),
        |rl AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS ref_len FROM rd),
        |cg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |rg1 AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) GROUP BY 1, 2),
        |cg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |rg2 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 1), ' ') AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 1 GROUP BY 1, 2),
        |cg3 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 2), ' ') AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 2 GROUP BY 1, 2),
        |rg3 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 2), ' ') AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 2 GROUP BY 1, 2),
        |cg4 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 3), ' ') AS gram, COUNT(*) AS c
        |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 3 GROUP BY 1, 2),
        |rg4 AS (SELECT doc, array_to_string(list_slice(t, i.i, i.i + 3), ' ') AS gram, COUNT(*) AS c
        |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
        |        WHERE i.i <= len(t) - 3 GROUP BY 1, 2),
        |o1 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg1 c FULL JOIN rg1 r USING (doc, gram)),
        |o2 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg2 c FULL JOIN rg2 r USING (doc, gram)),
        |o3 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg3 c FULL JOIN rg3 r USING (doc, gram)),
        |o4 AS (SELECT COALESCE(SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))), 0) AS m,
        |              COALESCE(SUM(COALESCE(c.c, 0)), 0) AS tt
        |       FROM cg4 c FULL JOIN rg4 r USING (doc, gram)),
        |p AS (SELECT
        |  CASE WHEN o1.tt > 0 THEN ROUND(CAST(o1.m AS DOUBLE) / CAST(o1.tt AS DOUBLE), 6) ELSE 0.0 END AS p_1,
        |  CASE WHEN o2.tt > 0 THEN ROUND(CAST(o2.m AS DOUBLE) / CAST(o2.tt AS DOUBLE), 6) ELSE 0.0 END AS p_2,
        |  CASE WHEN o3.tt > 0 THEN ROUND(CAST(o3.m AS DOUBLE) / CAST(o3.tt AS DOUBLE), 6) ELSE 0.0 END AS p_3,
        |  CASE WHEN o4.tt > 0 THEN ROUND(CAST(o4.m AS DOUBLE) / CAST(o4.tt AS DOUBLE), 6) ELSE 0.0 END AS p_4
        |  FROM o1, o2, o3, o4),
        |b AS (SELECT cand_len, ref_len,
        |  CASE WHEN cand_len >= ref_len AND cand_len > 0 THEN 1.0
        |       WHEN cand_len > 0 THEN ROUND(EXP(1.0 -
        |         CAST(ref_len AS DOUBLE) / CAST(cand_len AS DOUBLE)), 6)
        |       ELSE 0.0 END AS bp
        |  FROM cl, rl)
        |SELECT
        |  CASE WHEN p_1 = 0.0 OR p_2 = 0.0 OR p_3 = 0.0 OR p_4 = 0.0 THEN 0.0
        |       ELSE ROUND(bp * EXP((((LN(p_1) + LN(p_2)) + LN(p_3)) + LN(p_4)) / 4.0), 6)
        |  END AS bleu,
        |  bp, p_1, p_2, p_3, p_4, cand_len, ref_len
        |FROM p, b""".stripMargin,

    // Two independent UAX #15 implementations (JDK Normalizer vs
    // DuckDB's) must agree byte-for-byte on the normalized text.
    "unicode_nfc" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber'
        |      ELSE text END AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm_text,
        |  nfc_normalize(raw) <> raw AS changed
        |FROM r ORDER BY doc_id""".stripMargin
  )
}
