package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-10 batch 5: corpus restructuring — token-window chunking and
  * C4-style cross-corpus line dedup (graft.text.Chunk). Both oracles
  * replay the full plan in DuckDB: zipped `unnest(range(...))` is the
  * posexplode twin, `string_agg(... ORDER BY pos)` the ordered
  * reassembly twin, and all window math is double-division + CEIL so
  * the engines agree bit-for-bit.
  */
object Batch24Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Chunk.chunkByTokens: 32-token windows, 8-token overlap (stride
    // 24). documents run 10-99 tokens, so docs yield 1-4 chunks and
    // every boundary case (short doc, exact fit, clipped tail) occurs
    // in the data.
    "chunk_tokens" -> ((s, dir) => {
      graft.text.Chunk.chunkByTokens(T.documents(s, dir), "doc_id", "text",
          chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // Chunk.dedupLinesAcrossCorpus: the documents table is one line of
    // space-separated tokens, so splitting on ' ' makes every token a
    // "line" — a corpus where boilerplate frequency varies smoothly
    // (common words hit ~80% of documents, rare ones ~5%), exercising
    // the full count/anti-join/reassemble plan with a mid-distribution
    // threshold. minDf = 4/5 of the document count in INTEGER math, so
    // the oracle re-derives the identical threshold at any sf.
    "line_dedup" -> ((s, dir) => {
      // fraction variant: the 4/5-of-docs threshold derives inside the
      // plan (1-row broadcast scalar), so constructing the query runs
      // no driver count job and the oracle's integer subquery
      // re-derives the identical threshold
      graft.text.Chunk.dedupLinesByDocFrac(T.documents(s, dir),
          "doc_id", "text", num = 4, den = 5, splitRe = " ", joinSep = " ")
        .orderBy("doc_id")
    }),

    // Urls.urlDupGroups over a deterministic 120-row crawl fixture
    // (the frame_sample synthesis pattern): ids differing only by
    // scheme case, www., default port, utm_* params or fragment must
    // collapse to one canonical group. Key period is lcm(5,6,4)=60,
    // so at 120 rows every canonical URL has >= 2 duplicates.
    "url_dedup" -> ((s, dir) => {
      val urls = s.range(120).select(col("id"),
        concat(
          when(col("id") % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
          when(col("id") % 11 === 0, lit("www.")).otherwise(lit("")),
          lit("Site"), (col("id") % 5).cast("string"), lit(".example.com"),
          when(col("id") % 7 === 0,
            when(col("id") % 2 === 0, lit(":80")).otherwise(lit(":443")))
            .otherwise(lit("")),
          lit("/p/"), (col("id") % 3).cast("string"),
          when(col("id") % 4 === 0, lit("/")).otherwise(lit("")),
          when(col("id") % 3 === 0, lit("?utm_source=x&ref="))
            .otherwise(lit("?ref=")),
          (col("id") % 6).cast("string"),
          when(col("id") % 5 === 0, lit("#frag")).otherwise(lit(""))
        ).as("url"))
      graft.text.Urls.urlDupGroups(urls, "id", "url")
        .orderBy("url_norm")
    }),

    // Chunk.maskDuplicateSpans: exact-substring dedup (Lee et al.) at
    // k=3 over the 31-word-vocabulary documents table — thousands of
    // corpus-repeated 3-grams at every sf, so island merging, cross-
    // and within-document occurrences and fully-removed docs all
    // happen in the data. The oracle replays the md5 span identity,
    // the running-max island window and the ordered reassembly.
    "span_dedup" -> ((s, dir) => {
      graft.text.Chunk.maskDuplicateSpans(T.documents(s, dir),
          "doc_id", "text", k = 3, minOccur = 2)
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "chunk_tokens" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |    CAST(GREATEST(1, CEIL((len(toks) - 8) / 24.0)) AS BIGINT) AS nc
        |  FROM d),
        |e AS (
        |  SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM n)
        |SELECT doc_id, chunk_id,
        |  array_to_string(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32),
        |                  ' ') AS chunk_text,
        |  CAST(len(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32))
        |    AS BIGINT) AS n_tokens
        |FROM e
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "line_dedup" ->
      """WITH thr AS (SELECT count(*) * 4 // 5 AS mindf FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS line,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
        |  FROM documents),
        |rem AS (
        |  SELECT trim(line) AS norm
        |  FROM l WHERE trim(line) <> ''
        |  GROUP BY 1
        |  HAVING count(DISTINCT doc_id) >= (SELECT mindf FROM thr)),
        |k AS (
        |  SELECT doc_id, pos, line FROM l
        |  WHERE trim(line) NOT IN (SELECT norm FROM rem)),
        |s AS (
        |  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_clean,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM k GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.text_clean, '') AS text_clean,
        |  COALESCE(s.n_kept, 0) AS n_kept,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT)
        |    - COALESCE(s.n_kept, 0) AS n_removed
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "url_dedup" ->
      """WITH u AS (
        |  SELECT id, concat(
        |    CASE WHEN id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END,
        |    CASE WHEN id % 11 = 0 THEN 'www.' ELSE '' END,
        |    'Site', CAST(id % 5 AS VARCHAR), '.example.com',
        |    CASE WHEN id % 7 = 0 THEN
        |      CASE WHEN id % 2 = 0 THEN ':80' ELSE ':443' END
        |      ELSE '' END,
        |    '/p/', CAST(id % 3 AS VARCHAR),
        |    CASE WHEN id % 4 = 0 THEN '/' ELSE '' END,
        |    CASE WHEN id % 3 = 0 THEN '?utm_source=x&ref=' ELSE '?ref=' END,
        |    CAST(id % 6 AS VARCHAR),
        |    CASE WHEN id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM range(0, 120) t(id)),
        |p AS (
        |  SELECT id,
        |    lower(regexp_extract(regexp_replace(trim(url), '#.*', '', 'g'),
        |      '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(trim(url), '#.*', '', 'g'),
        |      '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS hostport,
        |    regexp_replace(regexp_replace(trim(url), '#.*', '', 'g'),
        |      '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*', '', 'g') AS tail,
        |    trim(url) AS t
        |  FROM u),
        |pq AS (
        |  SELECT id, scheme, hostport, t,
        |    regexp_extract(tail, '^[^?]*') AS pth,
        |    regexp_replace(tail, '^[^?]*', '', 'g') AS qry
        |  FROM p),
        |n AS (
        |  SELECT id,
        |    CASE WHEN scheme <> '' THEN concat(scheme, '://',
        |      CASE WHEN scheme = 'http' THEN
        |        regexp_replace(regexp_replace(hostport, '^www\.', '', 'g'),
        |          ':80$', '', 'g')
        |      WHEN scheme = 'https' THEN
        |        regexp_replace(regexp_replace(hostport, '^www\.', '', 'g'),
        |          ':443$', '', 'g')
        |      ELSE regexp_replace(hostport, '^www\.', '', 'g') END,
        |      regexp_replace(pth, '/$', '', 'g'),
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(qry,
        |              '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '\1',
        |              'g'),
        |            '&&+', '&', 'g'),
        |          '\?&', '?', 'g'),
        |        '[?&]$', '', 'g'))
        |    ELSE t END AS url_norm
        |  FROM pq)
        |SELECT url_norm, MIN(id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_dups
        |FROM n GROUP BY url_norm
        |ORDER BY url_norm""".stripMargin,

    "span_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, CAST(unnest(range(1, len(toks) - 3 + 2)) AS BIGINT)
        |    AS s, toks
        |  FROM d WHERE len(toks) >= 3),
        |h AS (
        |  SELECT doc_id, s,
        |    md5(array_to_string(list_slice(toks, s, s + 2), ' ')) AS hh
        |  FROM st),
        |f AS (SELECT hh FROM h GROUP BY hh HAVING count(*) >= 2),
        |occ AS (
        |  SELECT doc_id, s, s + 2 AS e FROM h
        |  WHERE hh IN (SELECT hh FROM f)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) < s
        |    THEN 1 ELSE 0 END AS nw
        |  FROM occ),
        |g AS (
        |  SELECT doc_id, s, e,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
        |  FROM isl),
        |m AS (
        |  SELECT doc_id, MIN(s) AS s, MAX(e) AS e
        |  FROM g GROUP BY doc_id, isl_id),
        |rp AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM m),
        |tk AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |    CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS pos
        |  FROM d),
        |kp AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM tk t
        |  LEFT JOIN rp ON rp.doc_id = t.doc_id AND rp.pos = t.pos
        |  WHERE rp.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_deduped,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(agg.text_deduped, '') AS text_deduped,
        |  COALESCE(agg.n_kept, 0) AS n_kept,
        |  d.n - COALESCE(agg.n_kept, 0) AS n_removed
        |FROM d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin
  )
}
