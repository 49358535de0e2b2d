package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.text.CorpusStats

/** Round-12 batch: corpus-statistics diagnostics — the
  * "what's in my big data" analyses run before committing a corpus to
  * training: Zipf slope (templating/noise detector), vocabulary
  * growth + Heaps fit (unbounded-type detector), per-source lexical
  * diversity.
  */
object Batch36Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // OLS of ln(freq) on ln(rank) over the unigram table; rank is
    // row_number over (freq desc, token asc) — deterministic ties.
    "zipf_fit" -> ((s, dir) => {
      CorpusStats.zipfFit(T.documents(s, dir), "text")
    }),

    // Cumulative (tokens, types) after each doc in id order; type
    // increments via min-first-occurrence (one corpus pass, no
    // prefix-distinct scan); every 97th doc emitted.
    "vocab_growth" -> ((s, dir) => {
      CorpusStats.vocabGrowth(T.documents(s, dir), "doc_id", "text",
          sampleEvery = 97L)
        .orderBy("doc_id")
    }),

    // Heaps' law V = K * N^beta: OLS of ln V on ln N over the full
    // growth curve.
    "heaps_fit" -> ((s, dir) => {
      CorpusStats.heapsFit(T.documents(s, dir), "doc_id", "text")
    }),

    // Lexical diversity per source slice.
    "ttr_by_source" -> ((s, dir) => {
      CorpusStats.typeTokenRatio(T.documents(s, dir), "source", "text")
        .orderBy("source")
    })
  )

  private val toksCte =
    """toks AS (SELECT doc_id AS id,
      |  unnest(string_split_regex(trim(text), '\s+')) AS token
      |FROM documents WHERE len(trim(text)) > 0)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "zipf_fit" ->
      s"""WITH $toksCte,
         |cnt AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1),
         |rk AS (SELECT freq,
         |    ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank
         |  FROM cnt),
         |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
         |    ln(CAST(freq AS DOUBLE)) AS y, freq FROM rk),
         |a AS (SELECT COUNT(*) AS n, SUM(freq) AS tok,
         |    SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
         |  FROM xy)
         |SELECT n AS n_types, CAST(tok AS BIGINT) AS n_tokens,
         |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
         |  round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
         |    * sx / n, 6) AS intercept
         |FROM a""".stripMargin,

    "vocab_growth" ->
      s"""WITH $toksCte,
         |pdt AS (SELECT id, COUNT(*) AS nt FROM toks GROUP BY 1),
         |fo AS (SELECT MIN(id) AS id FROM toks GROUP BY token),
         |fod AS (SELECT id, COUNT(*) AS nw FROM fo GROUP BY 1),
         |j AS (SELECT p.id, p.nt, COALESCE(f.nw, 0) AS nw
         |  FROM pdt p LEFT JOIN fod f USING (id)),
         |c AS (SELECT id,
         |    SUM(nt) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
         |    SUM(nw) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
         |  FROM j)
         |SELECT id AS doc_id, CAST(ct AS BIGINT) AS cum_tokens,
         |  CAST(cv AS BIGINT) AS cum_types
         |FROM c WHERE id % 97 = 0 ORDER BY doc_id""".stripMargin,

    "heaps_fit" ->
      s"""WITH $toksCte,
         |pdt AS (SELECT id, COUNT(*) AS nt FROM toks GROUP BY 1),
         |fo AS (SELECT MIN(id) AS id FROM toks GROUP BY token),
         |fod AS (SELECT id, COUNT(*) AS nw FROM fo GROUP BY 1),
         |j AS (SELECT p.id, p.nt, COALESCE(f.nw, 0) AS nw
         |  FROM pdt p LEFT JOIN fod f USING (id)),
         |c AS (SELECT id,
         |    SUM(nt) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
         |    SUM(nw) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
         |  FROM j),
         |xy AS (SELECT ln(CAST(ct AS DOUBLE)) AS x,
         |    ln(CAST(cv AS DOUBLE)) AS y FROM c),
         |a AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM xy)
         |SELECT n AS n_points,
         |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS beta,
         |  round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
         |    * sx / n, 6) AS ln_k
         |FROM a""".stripMargin,

    "ttr_by_source" ->
      """WITH t2 AS (SELECT source,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |d AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |st AS (SELECT source, COUNT(*) AS n_tokens,
        |    COUNT(DISTINCT token) AS n_types
        |  FROM t2 GROUP BY 1)
        |SELECT d.source, d.n_docs,
        |  COALESCE(st.n_tokens, 0) AS n_tokens,
        |  COALESCE(st.n_types, 0) AS n_types,
        |  round(CAST(st.n_types AS DOUBLE) / CAST(st.n_tokens AS DOUBLE), 6)
        |    AS ttr
        |FROM d LEFT JOIN st USING (source)
        |ORDER BY source""".stripMargin
  )
}
