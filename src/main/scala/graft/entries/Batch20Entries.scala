package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.text.{Decontaminate, Redact}

/** Round-10 batch: the round-9 backlog operators — global token-budget
  * mixing, short-eval decontamination, and the date-redaction pass —
  * each with a FULL DuckDB oracle.
  */
object Batch20Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // Decontaminate.shortEvalContainment (text/Decontaminate.scala):
    // eval strings planted as 3-token and 2-token mid-document slices
    // of every 11th / 13th train doc — each is shorter than k=5, so
    // the k-gram report is structurally blind to them; the
    // containment pass must catch every planted doc (and any other
    // train doc that happens to contain the same token run).
    "decontam_short" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val train = docs.filter(col("doc_id") < 200)
      val toks = split(trim(col("text")), "\\s+")
      val eval = train
        .filter(col("doc_id") % 11 === 0 && size(toks) >= 9)
        .select((col("doc_id") + 60000).as("doc_id"),
          array_join(slice(toks, 4, 3), " ").as("text"))
        .unionByName(train
          .filter(col("doc_id") % 13 === 0 && size(toks) >= 9)
          .select((col("doc_id") + 70000).as("doc_id"),
            array_join(slice(toks, 8, 2), " ").as("text")))
      Decontaminate.shortEvalContainment(train, eval, "doc_id", "text",
          k = 5)
        .orderBy("doc_id")
    }),

    // datasets.Make.makeRegression (datasets/Make.scala) in portable-
    // hash mode: the generator IS the query — spark.range + md5-derived
    // uniforms -> Box-Muller gaussians -> linear target, every double
    // rounded 9. DuckDB replays the identical arithmetic from its own
    // range(), so the oracle checks the full generation pipeline
    // bit-for-bit (no input table at all).
    "make_regression" -> ((s, dir) => {
      graft.datasets.Make.makeRegression(s, nSamples = 4000,
          nFeatures = 3, nInformative = 2, noise = 0.5, bias = 3.0,
          seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // datasets.Make.makeClassification portable mode: hypercube-vertex
    // clusters (label bits -> ±classSep centers), redundant linear
    // combos left UNROUNDED (pure IEEE arithmetic on identical doubles
    // is engine-exact; only the libm-crossing gaussians are rounded),
    // flipY label noise — all replayed by DuckDB from range().
    "make_classification" -> ((s, dir) => {
      graft.datasets.Make.makeClassification(s, nSamples = 4000,
          nFeatures = 5, nClasses = 4, nInformative = 2, nRedundant = 2,
          classSep = 2.0, flipY = 0.05, seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // Redact.redactDates ∘ redactPii (text/Redact.scala): the composed
    // order the PhoneRe doc promises — dates become [DATE] before the
    // phone pass can swallow them; `redacted_naive` (PII pass alone)
    // oracle-checks the documented false positive itself.
    "pii_redact_dates" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 120)
      val id = col("doc_id").cast("string")
      val withDates = d.select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" released 2024-03-"),
        lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
        lit(" call +1 555-01"), id,
        when(col("doc_id") % 3 === 0,
          concat(lit(" archived 1999/12/"),
            lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")))
          .otherwise(lit("")),
        lit(" end")).as("text"))
      withDates.select(col("doc_id"),
          Redact.redactPii(Redact.redactDates(col("text"))).as("redacted"),
          Redact.redactPii(col("text")).as("redacted_naive"))
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(

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

    "decontam_short" ->
      """WITH train AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |ttok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM train),
        |eshort AS (
        |  SELECT DISTINCT s, l FROM (
        |    SELECT array_to_string(t[4:6], ' ') AS s, 3 AS l
        |    FROM ttok WHERE doc_id % 11 = 0 AND len(t) >= 9
        |    UNION ALL
        |    SELECT array_to_string(t[8:9], ' ') AS s, 2 AS l
        |    FROM ttok WHERE doc_id % 13 = 0 AND len(t) >= 9)),
        |g3 AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
        |  FROM ttok, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
        |g2 AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i.i + 1 : i.i + 2], ' ') AS s
        |  FROM ttok, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 2 AND i.i <= len(t) - 2),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS short_hits FROM (
        |    SELECT g.doc_id, g.s FROM g3 g JOIN eshort e ON g.s = e.s AND e.l = 3
        |    UNION ALL
        |    SELECT g.doc_id, g.s FROM g2 g JOIN eshort e ON g.s = e.s AND e.l = 2)
        |  GROUP BY 1)
        |SELECT tr.doc_id,
        |  COALESCE(h.short_hits, 0) AS short_hits,
        |  COALESCE(h.short_hits, 0) > 0 AS contaminated_short
        |FROM (SELECT DISTINCT doc_id FROM train) tr
        |LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "make_regression" ->
      """WITH ids AS (SELECT unnest(range(0, 4000)) AS id),
        |u AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-0'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-2'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u2,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-3'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u3,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-4'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u4,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-5'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u5,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-6'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u6,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-7'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u7
        |  FROM ids),
        |x AS (
        |  SELECT id,
        |    ROUND(sqrt(-2.0 * ln(u0 + 4.9e-324)) * cos(6.283185307179586 * u1), 9) AS x0,
        |    ROUND(sqrt(-2.0 * ln(u2 + 4.9e-324)) * cos(6.283185307179586 * u3), 9) AS x1,
        |    ROUND(sqrt(-2.0 * ln(u4 + 4.9e-324)) * cos(6.283185307179586 * u5), 9) AS x2,
        |    ROUND(sqrt(-2.0 * ln(u6 + 4.9e-324)) * cos(6.283185307179586 * u7), 9) AS gy
        |  FROM u)
        |SELECT id, x0, x1, x2,
        |  CAST(ROUND(
        |    ((CAST(x0 AS DECIMAL(11,9)) * CAST(1 AS DECIMAL(2,0))
        |      + CAST(x1 AS DECIMAL(11,9)) * CAST(-4 AS DECIMAL(2,0)))
        |      + CAST(x2 AS DECIMAL(11,9)) * CAST(0 AS DECIMAL(2,0)))
        |    + CAST(3.0 AS DECIMAL(11,9))
        |    + CAST(0.5 AS DECIMAL(11,9)) * CAST(gy AS DECIMAL(11,9)), 9)
        |    AS DOUBLE) AS y
        |FROM x
        |ORDER BY id""".stripMargin,

    "make_classification" ->
      """WITH ids AS (SELECT unnest(range(0, 4000)) AS id),
        |u AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1000003'), 1, 15) AS BIGINT) % 4 AS l0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-0'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-2'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u2,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-3'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u3,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-8'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u8,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-9'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u9,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-999983'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS uf
        |  FROM ids),
        |x AS (
        |  SELECT id, l0, uf,
        |    ROUND(CAST(((l0 >> 0) & 1) * 2 - 1 AS DOUBLE) * 2.0
        |      + sqrt(-2.0 * ln(u0 + 4.9e-324)) * cos(6.283185307179586 * u1), 9) AS x0,
        |    ROUND(CAST(((l0 >> 1) & 1) * 2 - 1 AS DOUBLE) * 2.0
        |      + sqrt(-2.0 * ln(u2 + 4.9e-324)) * cos(6.283185307179586 * u3), 9) AS x1,
        |    ROUND(sqrt(-2.0 * ln(u8 + 4.9e-324)) * cos(6.283185307179586 * u9), 9) AS x4
        |  FROM u)
        |SELECT id, x0, x1,
        |  x0 * 0.5 + x1 * 1.0 AS x2,
        |  x1 * 0.75 + x0 * 0.875 AS x3,
        |  x4,
        |  CAST(CASE WHEN uf < 0.05 THEN (l0 + 1) % 4 ELSE l0 END AS INTEGER) AS label
        |FROM x
        |ORDER BY id""".stripMargin,

    "pii_redact_dates" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40)
        |      || ' released 2024-03-'
        |      || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |      || ' call +1 555-01' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 3 = 0 THEN ' archived 1999/12/'
        |           || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |         ELSE '' END
        |      || ' end' AS text
        |  FROM documents WHERE doc_id < 120),
        |red AS (
        |  SELECT doc_id,
        |    regexp_replace(text,
        |      '\b\d{4}(-\d{2}-\d{2}|/\d{2}/\d{2})\b', '[DATE]', 'g') AS dated,
        |    text AS raw
        |  FROM base)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(dated,
        |          'https?://[^ \t\n]+', '[URL]', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+?\d[\d\- ]{6,12}\d\b', '[PHONE]', 'g') AS redacted,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(raw,
        |          'https?://[^ \t\n]+', '[URL]', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+?\d[\d\- ]{6,12}\d\b', '[PHONE]', 'g') AS redacted_naive
        |FROM red
        |ORDER BY doc_id""".stripMargin
  )
}
