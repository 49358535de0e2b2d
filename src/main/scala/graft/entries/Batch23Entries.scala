package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-10 batch 4: temperature-weighted (α-sampling) token-budget
  * mixing — weights derived FROM THE DATA (tokens^α), so the oracle
  * replays the whole chain: exact BIGINT totals → round(pow, 9)
  * weights → floored budget shares → windowed selection.
  */
object Batch23Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Quality.selectByTokenBudgetTemperature: α = 0.5 up-weights small
    // sources relative to their natural share; src1 additionally hits
    // a 400-token hard cap (binding at every sf — uncapped shares are
    // ~total/5 = 600). Same deterministic (score desc, id asc)
    // window selection as token_budget_global.
    "token_budget_temp" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens",
          size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("score",
          (col("n_chars") % 97).cast("double") / lit(97.0))
      graft.text.Quality.selectByTokenBudgetTemperature(d, "doc_id",
          "source", "score", "n_tokens", totalBudget = 3000L, alpha = 0.5,
          caps = Map("src1" -> 400L))
        .select("doc_id", "source", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // mm.Multimodal.sampleFrames: one row per sampled frame offset via
    // explode(sequence(...)) — a Generator, no shuffle. Synthetic
    // media metadata (the fixture pattern of image_features): duration
    // (id%10)·1000 ms, null for id%7==0 (coalesced to a single frame 0).
    "frame_sample" -> ((s, dir) => {
      val media = s.range(20).select(col("id").as("media_id"),
        struct(
          when(col("id") % 7 === 0, lit(null).cast("long"))
            .otherwise(col("id") % 10 * 1000L).as("duration_ms"),
          lit("mp4").as("format")).as("meta"))
      graft.mm.Multimodal.sampleFrames(media, everyMs = 2500L)
        .orderBy("media_id", "frame_ms")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "token_budget_temp" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(n_chars % 97 AS DOUBLE) / 97.0 AS score,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, SUM(n_tokens) AS t FROM d GROUP BY source),
        |w AS (SELECT source, ROUND(POW(CAST(t AS DOUBLE), 0.5), 9) AS w
        |      FROM tot),
        |sw AS (SELECT ROUND(SUM(w), 9) AS sw FROM w),
        |b AS (SELECT source,
        |        LEAST(CAST(FLOOR(3000.0 * (w / (SELECT sw FROM sw)))
        |                AS BIGINT),
        |              CASE WHEN source = 'src1' THEN 400
        |                   ELSE 9223372036854775807 END) AS budget
        |      FROM w),
        |c AS (
        |  SELECT d.doc_id, d.source, d.score, d.n_tokens, b.budget,
        |    SUM(d.n_tokens) OVER (PARTITION BY d.source
        |      ORDER BY d.score DESC, d.doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d JOIN b USING (source))
        |SELECT doc_id, source, score, n_tokens
        |FROM c WHERE budget > 0 AND cum - n_tokens < budget
        |ORDER BY doc_id""".stripMargin,

    "frame_sample" ->
      """WITH m AS (SELECT unnest(range(0, 20)) AS media_id),
        |d AS (SELECT media_id,
        |        CASE WHEN media_id % 7 = 0 THEN NULL
        |             ELSE (media_id % 10) * 1000 END AS dur
        |      FROM m)
        |SELECT media_id,
        |  unnest(generate_series(0, COALESCE(dur, 0), 2500)) AS frame_ms,
        |  'mp4' AS format
        |FROM d
        |ORDER BY media_id, frame_ms""".stripMargin
  )
}
