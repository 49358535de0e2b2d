package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.text.TextFns
import graft.ts.Temporal

/** Composite end-to-end entries: batch sessionization and the
  * training-corpus keep/drop decision.
  */
object Batch13Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // batch analog of session windows (SURVEY §2.12): 30-minute gap.
    "sessionize" -> ((s, dir) => {
      Temporal.sessionize(T.events(s, dir), "ts", Seq("user_id"),
          gapSeconds = 1800, orderTiebreak = Seq(col("event_id")))
        .select("event_id", "user_id", "session_id")
        .orderBy("event_id")
    }),

    // §2.11 trend_ops(remove) (ts_utils.py:1026): per-row detrend via
    // window sufficient statistics, one shuffle.
    "detrend" -> ((s, dir) => {
      Temporal.detrend(T.events(s, dir), "value", Seq("user_id"),
          Seq(col("ts"), col("event_id")), "detrended")
        .select("event_id", "detrended")
        .orderBy("event_id")
    }),

    // north-star corpus filter: one pass combining token count,
    // stopword ratio, and exact-dup rank into a keep decision — the
    // composite a training-data pipeline actually runs.
    "corpus_filter" -> ((s, dir) => {
      val d = T.documents(s, dir)
      val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      val toks = TextFns.tokens(col("text"))
      val stopRatio = size(filter(toks,
        t => t.isin("the", "a", "of", "and", "to", "in", "is", "it"))).cast("double") /
        size(toks).cast("double")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id").asc)
      doubled
        .withColumn("n_tokens", size(toks))
        .withColumn("stop_ratio", stopRatio)
        .withColumn("dup_rank", row_number().over(w))
        .withColumn("keep",
          (col("n_tokens") >= 20) && (col("stop_ratio") >= 0.02) &&
            (col("dup_rank") === 1))
        .select("doc_id", "n_tokens", "dup_rank", "keep")
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
        |      OR LAG(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id,
        |  CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g ORDER BY event_id""".stripMargin,

    "detrend" ->
      """WITH idx AS (
        |  SELECT event_id, user_id, value,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS i
        |  FROM events),
        |m AS (
        |  SELECT event_id, value, i,
        |    CAST(COUNT(*) OVER wa AS DOUBLE) AS n,
        |    CAST(SUM(i) OVER wa AS DOUBLE) AS si,
        |    CAST(SUM(i * i) OVER wa AS DOUBLE) AS sii,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wa AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(i AS DECIMAL(10,0)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(32,6))) OVER wa AS DOUBLE) AS siy
        |  FROM idx
        |  WINDOW wa AS (PARTITION BY user_id))
        |SELECT event_id,
        |  value - ((sy - (n * siy - si * sy) / (n * sii - si * si) * si) / n
        |    + (n * siy - si * sy) / (n * sii - si * si) * CAST(i AS DOUBLE)) AS detrended
        |FROM m ORDER BY event_id""".stripMargin,

    "corpus_filter" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |        t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS stop_ratio,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS INT) AS dup_rank
        |  FROM doubled)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, dup_rank,
        |  n_tokens >= 20 AND stop_ratio >= 0.02 AND dup_rank = 1 AS keep
        |FROM f ORDER BY doc_id""".stripMargin
  )
}
