package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.text.{Decontaminate, Redact}

/** Round-9 batch: corpus-preparation operators — PII redaction and
  * train/eval decontamination — with exact DuckDB oracles. PII is
  * synthesized deterministically from doc_id (both engines construct
  * byte-identical input text), so the redaction output and category
  * counts are exact row-level checks of the regex semantics shared by
  * Java regex and RE2.
  */
object Batch19Entries extends Entries {

  /** Deterministic synthetic audio corpus: 24 WAV clips whose 16-bit
    * PCM samples follow the closed form
    * `((i²·7 + i·13 + id·31) mod 4096) − 2048`, lengths and rates
    * varying with id, plus one undecodable blob (id 24). The oracle
    * recomputes the identical integers from `range()` — the Spark
    * side must really decode the WAV container to match. */
  private[graft] def syntheticWavs(s: SparkSession): DataFrame = {
    val rows: Seq[(Long, Array[Byte], String, Int, Int, Long)] =
      (0 until 24).map { id =>
        val n = 800 + id * 40
        val rate = 8000 + (id % 3) * 4000
        val samples = Array.tabulate(n)(i =>
          ((i * i * 7 + i * 13 + id * 31) % 4096) - 2048)
        (id.toLong, graft.mm.Multimodal.encodeWav(samples, rate), "wav",
          0, 0, n.toLong * 1000L / rate)
      } :+ ((24L, Array[Byte](1, 2, 3, 4, 5), "bin", 0, 0, 0L))
    graft.mm.Multimodal.toMediaFrame(s, rows)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multimodal.audioFeatures (mm/Multimodal.scala): real
    // javax.sound.sampled WAV decode → exact integer signal moments;
    // the corrupt blob must surface as ok=false with null features.
    "audio_features" -> ((s, dir) => {
      graft.mm.Multimodal.audioFeatures(syntheticWavs(s))
        .orderBy("media_id")
    }),

    // Redact.redactPii / redactDocuments (text/Redact.scala): emails,
    // URLs, IPv4, phone runs → placeholder tokens, counts on raw text.
    "pii_redact" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 120)
      val id = col("doc_id").cast("string")
      val withPii = d.select(col("doc_id"), concat(
        substring(col("text"), 1, 60),
        lit(" mail user"), id, lit("@example.com"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" visit https://site"), id, lit(".io/a?b=1")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" node 10.0."), (col("doc_id") % 200).cast("string"),
            lit(".7"))).otherwise(lit("")),
        when(col("doc_id") % 4 < 2,
          concat(lit(" call +1 555-01"), id)).otherwise(lit("")),
        lit(" end")).as("text"))
      Redact.redactDocuments(withPii, "text")
        .select(col("doc_id"), col("text_redacted").as("redacted"),
          col("n_url"), col("n_email"), col("n_ip"), col("n_phone"))
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

    // Decontaminate.contaminationReport (text/Decontaminate.scala):
    // eval = first-word-perturbed copies of every 7th train doc, so
    // those train docs are contaminated by construction and the rest
    // only by chance k-gram collisions.
    "decontam" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val train = docs.filter(col("doc_id") < 200)
      val eval = docs.filter(col("doc_id") % 7 === 0 && col("doc_id") < 100)
        .select((col("doc_id") + 50000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      Decontaminate.contaminationReport(train, eval, "doc_id", "text",
          k = 5, threshold = 0.6)
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "audio_features" ->
      """WITH ids AS (SELECT unnest(range(0, 24)) AS media_id),
        |par AS (SELECT media_id,
        |    800 + media_id * 40 AS n,
        |    8000 + (media_id % 3) * 4000 AS rate
        |  FROM ids),
        |t AS (
        |  SELECT p.media_id, p.n, p.rate, i.i,
        |    ((i.i * i.i * 7 + i.i * 13 + p.media_id * 31) % 4096) - 2048 AS s
        |  FROM par p, (SELECT unnest(range(0, 2000)) AS i) i
        |  WHERE i.i < p.n),
        |lagged AS (
        |  SELECT media_id, n, rate, i, s,
        |    LAG(s) OVER (PARTITION BY media_id ORDER BY i) AS sp
        |  FROM t)
        |SELECT media_id, TRUE AS ok,
        |  MIN(rate) AS sample_rate,
        |  MIN(n) AS n_samples,
        |  MIN(n) * 1000 // MIN(rate) AS duration_ms,
        |  MIN(s) AS amp_min,
        |  MAX(s) AS amp_max,
        |  CAST(SUM(s) AS BIGINT) AS amp_sum,
        |  CAST(SUM(s * s) AS BIGINT) AS energy,
        |  CAST(SUM(CASE WHEN sp IS NOT NULL
        |    AND ((sp >= 0) != (s >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings,
        |  CAST(SUM(s) AS DOUBLE) / MIN(n) AS amp_mean
        |FROM lagged
        |GROUP BY media_id
        |UNION ALL
        |SELECT 24, FALSE, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |  NULL, NULL
        |ORDER BY media_id""".stripMargin,

    "pii_redact" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60)
        |      || ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || CASE WHEN doc_id % 2 = 0 THEN ' visit https://site'
        |           || CAST(doc_id AS VARCHAR) || '.io/a?b=1' ELSE '' END
        |      || CASE WHEN doc_id % 3 = 0 THEN ' node 10.0.'
        |           || CAST(doc_id % 200 AS VARCHAR) || '.7' ELSE '' END
        |      || CASE WHEN doc_id % 4 < 2 THEN ' call +1 555-01'
        |           || CAST(doc_id AS VARCHAR) ELSE '' END
        |      || ' end' AS text
        |  FROM documents WHERE doc_id < 120)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          'https?://[^ \t\n]+', '[URL]', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+?\d[\d\- ]{6,12}\d\b', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS n_url,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(text, '\+?\d[\d\- ]{6,12}\d\b')) AS n_phone
        |FROM base
        |ORDER BY doc_id""".stripMargin,

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

    "decontam" ->
      """WITH train AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |eval AS (
        |  SELECT doc_id + 50000 AS doc_id,
        |    regexp_replace(text, '^\S+\s+', '') AS text
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id < 100),
        |ttok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM train),
        |tsh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i.i + 1 : i.i + 5], ' ') AS s
        |  FROM ttok, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 5 AND i.i <= len(t) - 5),
        |etok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM eval),
        |esh AS (
        |  SELECT DISTINCT array_to_string(t[i.i + 1 : i.i + 5], ' ') AS s
        |  FROM etok, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 5 AND i.i <= len(t) - 5),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY 1),
        |hits AS (SELECT t.doc_id, COUNT(*) AS h
        |  FROM tsh t JOIN esh e ON t.s = e.s GROUP BY 1)
        |SELECT tr.doc_id,
        |  COALESCE(n, 0) AS ngrams,
        |  COALESCE(h, 0) AS overlap,
        |  ROUND(CAST(COALESCE(h, 0) AS DOUBLE)
        |    / GREATEST(COALESCE(n, 0), 1), 9) AS overlap_frac,
        |  (ROUND(CAST(COALESCE(h, 0) AS DOUBLE)
        |    / GREATEST(COALESCE(n, 0), 1), 9) >= 0.6
        |   AND COALESCE(n, 0) > 0) AS contaminated
        |FROM (SELECT DISTINCT doc_id FROM train) tr
        |LEFT JOIN sizes USING (doc_id)
        |LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin
  )
}
