package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-12 batch: dictionary redaction — masking the members of a
  * term list (name lists, codenames) in place, the masking sibling of
  * the blocklist's page removal. */
object Batch38Entries extends Entries {

  private val redactTerms = Seq("hash", "dup", "spark")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "term_redact" -> ((s, dir) => {
      graft.text.Redact.redactTerms(T.documents(s, dir), "text",
          redactTerms)
        .select("doc_id", "text_redacted", "n_redacted")
        .orderBy("doc_id")
    }),

    // Flesch-Kincaid readability: pure codegen projection; the
    // synthetic corpus has no punctuation, so every doc is one
    // "sentence" — the W/S term degenerates to W, which still
    // exercises both formulas end-to-end.
    "readability" -> ((s, dir) => {
      graft.text.Quality.readability(T.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Max drawdown per user over the event-time-ordered value series
    // (the makeWalk price-path consumer): cumulative-max window +
    // one keyed aggregation.
    "max_drawdown" -> ((s, dir) => {
      graft.ts.Windows.maxDrawdown(T.events(s, dir), Seq("user_id"),
          "value", "ts", tieCols = Seq("event_id"))
        .orderBy("user_id")
    }),

    // Ordered conversion funnel view -> click -> purchase: per-user
    // min-timestamp chains through user-keyed joins; counts are
    // monotone by construction.
    "funnel" -> ((s, dir) => {
      graft.ts.EventAnalytics.funnel(T.events(s, dir), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy("step")
    }),

    // Weekly cohort retention off first-seen week.
    "cohort_retention" -> ((s, dir) => {
      graft.ts.EventAnalytics.cohortRetention(T.events(s, dir),
          "user_id", "ts", period = "week")
        .orderBy("cohort", "period_offset")
    }),

    // Time-to-convert distribution view -> purchase (exact quartiles
    // over integer seconds, bounded per-user domain).
    "conversion_time" -> ((s, dir) => {
      graft.ts.EventAnalytics.conversionTime(T.events(s, dir),
        "user_id", "event_type", "ts", "view", "purchase")
    }),

    // First-order event-type transition matrix per user (the Markov
    // view of behavior).
    "event_transitions" -> ((s, dir) => {
      graft.ts.EventAnalytics.eventTransitions(T.events(s, dir),
          "user_id", "event_type", "ts", tieCols = Seq("event_id"))
        .orderBy("from_type", "to_type")
    }),

    // Two-proportion z (A/B conversion): per-user treatment =
    // user_id parity, success = at least two high-value purchases —
    // a mid-range rate at every sf (success = "ever purchased" is
    // ~100% on this data, which degenerates the pooled SE to zero).
    "ab_test" -> ((s, dir) => {
      val perUser = T.events(s, dir).groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase" &&
            col("value") > 100, 1L).otherwise(0L)) >= 2).as("converted"))
        .select((col("user_id") % 2 === 0).as("grp"), col("converted"))
      graft.stats.Inferential.twoProportionZ(perUser, "grp", "converted")
    }),

    // Supplier co-occurrence within orders: pair support and lift
    // (basket self-join keyed by order, baskets bounded by nature).
    "basket_lift" -> ((s, dir) => {
      graft.rel.Market.pairAssociations(T.lineitem(s, dir),
          "l_orderkey", "l_suppkey", minPairs = 3L)
        .orderBy("item_a", "item_b")
    }),

    // RFM segmentation of customers from their order history.
    "rfm_segments" -> ((s, dir) => {
      graft.rel.Market.rfm(T.orders(s, dir), "o_custkey",
          "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
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

    "term_redact" -> {
      val lst = redactTerms.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
         |  FROM documents),
         |t AS (SELECT doc_id,
         |    CASE WHEN clean = '' THEN []::VARCHAR[]
         |         ELSE string_split_regex(clean, '\\s+') END AS toks
         |  FROM d)
         |SELECT doc_id,
         |  COALESCE(array_to_string(list_transform(toks,
         |    x -> CASE WHEN list_contains($lst, x)
         |         THEN '[REDACTED]' ELSE x END), ' '), '') AS text_redacted,
         |  CAST(len(list_filter(toks,
         |    x -> list_contains($lst, x))) AS BIGINT) AS n_redacted
         |FROM t ORDER BY doc_id""".stripMargin
    },

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

    "max_drawdown" ->
      """WITH w AS (SELECT user_id, value,
        |    MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events),
        |d AS (SELECT user_id, peak,
        |    CASE WHEN peak > 0 THEN (peak - value) / peak END AS dd
        |  FROM w)
        |SELECT user_id, COUNT(*) AS n_obs,
        |  round(MAX(peak), 6) AS peak,
        |  round(MAX(dd), 6) AS max_drawdown
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,

    "funnel" ->
      """WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, MIN(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id AS u, MIN(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
        |UNION ALL
        |SELECT 2, 'click', COUNT(*) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', COUNT(*) FROM s3
        |ORDER BY step""".stripMargin,

    "cohort_retention" ->
      """WITH c AS (SELECT user_id AS u,
        |    MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS p
        |  FROM events)
        |SELECT c.cohort,
        |  CAST(date_diff('day', c.cohort, a.p) / 7 AS BIGINT)
        |    AS period_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN c ON a.u = c.u
        |GROUP BY 1, 2 ORDER BY cohort, period_offset""".stripMargin,

    "conversion_time" ->
      """WITH f AS (SELECT user_id AS u, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id AS u,
        |    MIN(CAST(FLOOR(epoch(e.ts)) AS BIGINT))
        |      - MIN(CAST(FLOOR(epoch(f.t0)) AS BIGINT)) AS dt
        |  FROM events e JOIN f ON e.user_id = f.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= f.t0
        |  GROUP BY 1)
        |SELECT COUNT(*) AS n_converted,
        |  MIN(dt) AS min_s,
        |  round(quantile_cont(dt, 0.25), 6) AS p25_s,
        |  round(quantile_cont(dt, 0.5), 6) AS median_s,
        |  round(quantile_cont(dt, 0.75), 6) AS p75_s,
        |  MAX(dt) AS max_s,
        |  round(CAST(SUM(dt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mean_s
        |FROM c""".stripMargin,

    "event_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "ab_test" ->
      """WITH u AS (SELECT user_id % 2 = 0 AS grp,
        |    SUM(CASE WHEN event_type = 'purchase' AND value > 100
        |      THEN 1 ELSE 0 END) >= 2 AS converted
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |    CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN grp AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS succ_a,
        |    CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN NOT grp AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS succ_b
        |  FROM u)
        |SELECT n_a, succ_a, n_b, succ_b,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |  round(CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS diff,
        |  round((CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(succ_a + succ_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(succ_a + succ_b AS DOUBLE)
        |          / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))),
        |    9) AS z_stat,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |    - 1.959964 * sqrt(
        |      (CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        * (1.0 - CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        / CAST(n_a AS DOUBLE)
        |      + (CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        * (1.0 - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        / CAST(n_b AS DOUBLE)), 6) AS ci_low,
        |  round(CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |    + 1.959964 * sqrt(
        |      (CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        * (1.0 - CAST(succ_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |        / CAST(n_a AS DOUBLE)
        |      + (CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        * (1.0 - CAST(succ_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        / CAST(n_b AS DOUBLE)), 6) AS ci_high
        |FROM a""".stripMargin,

    "basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_suppkey AS i
        |  FROM lineitem),
        |nb AS (SELECT COUNT(DISTINCT b) AS n FROM items),
        |ic AS (SELECT i, COUNT(*) AS c FROM items GROUP BY 1),
        |p AS (SELECT a.i AS item_a, b2.i AS item_b, COUNT(*) AS n_pair
        |  FROM items a JOIN items b2 USING (b)
        |  WHERE a.i < b2.i GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT p.item_a, p.item_b, p.n_pair,
        |  round(CAST(n_pair AS DOUBLE)
        |    / CAST((SELECT n FROM nb) AS DOUBLE), 6) AS support,
        |  round(CAST(n_pair AS DOUBLE) * CAST((SELECT n FROM nb) AS DOUBLE)
        |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
        |FROM p JOIN ic ca ON p.item_a = ca.i
        |JOIN ic cb ON p.item_b = cb.i
        |ORDER BY item_a, item_b""".stripMargin,

    "rfm_segments" ->
      """WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
        |per AS (SELECT o_custkey AS cust,
        |    CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
        |      (SELECT m FROM mx)) AS INT) AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1)
        |SELECT cust AS o_custkey, recency_days, frequency, monetary,
        |  CAST(NTILE(5) OVER (ORDER BY recency_days DESC, cust ASC)
        |    AS INT) AS r,
        |  CAST(NTILE(5) OVER (ORDER BY frequency ASC, cust ASC)
        |    AS INT) AS f,
        |  CAST(NTILE(5) OVER (ORDER BY monetary ASC, cust ASC)
        |    AS INT) AS m
        |FROM per ORDER BY o_custkey""".stripMargin,

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
}
