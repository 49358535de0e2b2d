package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.text.{Blocklist, CorpusStats, Retrieval, Winnow}

/** Round-12 batch: content-overlap fingerprinting (winnowing / MOSS),
  * the C4 blocklist stage, exact phrase search over positional
  * postings, and cross-corpus divergence — four LLM-pipeline stages
  * with full DuckDB oracles.
  */
object Batch34Entries extends Entries {

  /** The bounded pair-corpus convention of minhash_pairs_md5
    * (Batch17): 50 base docs + a first-word-dropped twin each. The
    * word drop shifts every char offset, so position-keyed schemes
    * break but winnowing's LOCAL fingerprints still pair every twin
    * with its base. */
  private def twinCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = T.documents(s, dir).filter(col("doc_id") < 50)
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000)
      .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", "")))
  }

  private val blockTerms = Seq("hash", "dup", "spark")
  private val blockPhrases = Seq("batch batch", "window window")
  private val searchPhrases =
    Seq("batch batch batch", "order sort table", "window window")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Winnowing (Schleimer et al. SIGMOD 2003) over the twin corpus:
    // char 8-grams, window 4 (guarantee: any shared normalized
    // substring of >= 11 chars is detected), portable md5 hash family,
    // pairs sharing >= 10 selected fingerprints. All 50 twins pair
    // with their base despite the offset shift — the local-guarantee
    // property MinHash's whole-doc resemblance does not give.
    "winnow_pairs" -> ((s, dir) => {
      Winnow.pairs(twinCorpus(s, dir), "doc_id", "text",
          k = 8, w = 4, minShared = 10, portableHash = true)
        .orderBy("id_a", "id_b")
    }),

    // xxhash64 perf twin (the dedup-twin convention: md5 is the
    // oracle hash family, xxhash64 the corpus-scale default).
    // Rows-only by design; the md5 twin above is the full oracle.
    "winnow_pairs_xx" -> ((s, dir) => {
      Winnow.pairs(twinCorpus(s, dir), "doc_id", "text",
          k = 8, w = 4, minShared = 10, portableHash = false)
        .orderBy("id_a", "id_b")
    }),

    // C4's bad-words page filter (Raffel et al. 2020 §2.2) as a
    // per-document hit report: exact-token term matches + space-
    // bounded phrase matches under cleanText, hit lists in blocklist
    // order (a codegen filter over the literal array — no join, no
    // shuffle). Arrays ride as comma-joined strings for the oracle.
    "blocklist_hits" -> ((s, dir) => {
      Blocklist.hits(T.documents(s, dir), "doc_id", "text",
          blockTerms, blockPhrases)
        .select(col("doc_id"),
          array_join(col("term_hits"), ",").as("term_hits"),
          array_join(col("phrase_hits"), ",").as("phrase_hits"),
          col("blocked"))
        .orderBy("doc_id")
    }),

    // Corpus-level blocklist audit: document frequency per pattern
    // (df, not occurrences) — the dashboard a pipeline operator reads
    // before committing to a list. One explode of per-doc DISTINCT
    // hit lists, volume bounded by docs x patterns-hit.
    "blocklist_report" -> ((s, dir) => {
      Blocklist.report(T.documents(s, dir), "doc_id", "text",
          blockTerms, blockPhrases)
        .orderBy("kind", "pattern")
    }),

    // Exact phrase search by positional-postings intersection: one
    // corpus pass builds (doc, pos, token), the phrase terms
    // broadcast-join on token, and a start position collecting
    // len(phrase) offset votes is an occurrence. "batch batch batch"
    // exercises repeated-token offsets and overlapping occurrences
    // (a 4-run contains two starts).
    "phrase_search" -> ((s, dir) => {
      Retrieval.phraseSearch(T.documents(s, dir), "doc_id", "text",
          searchPhrases)
        .orderBy("phrase", "doc")
    }),

    // Jensen-Shannon / KL divergence between the even-id and odd-id
    // halves of the corpus: add-alpha smoothed unigram distributions
    // over the union vocab, one full-outer token join, scalars as a
    // 1-row broadcast, four sufficient-statistic sums rounded to 6 dp
    // (the mean_logprob contract). The domain-drift dashboard number.
    "corpus_js" -> ((s, dir) => {
      val d = T.documents(s, dir)
      CorpusStats.corpusDivergence(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        "text", "text")
    })
  )

  private val cleanSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Winnowing replay: grams -> md5-60bit hashes -> window mins
    * (complete windows only) -> distinct fps -> bounded pair join.
    * Window j covers gram positions j..j+w-1; a gram at pos votes
    * into windows pos-o for o in 0..w-1; complete iff j <= ng-w+1. */
  private def winnowOracle(k: Int, w: Int, minShared: Int): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
       |  FROM documents WHERE doc_id < 50),
       |d AS (SELECT doc_id, replace($cleanSql, ' ', '') AS s FROM corpus),
       |g AS (SELECT doc_id, i.i AS pos,
       |    CAST('0x' || substr(md5(substr(s, i.i, $k)), 1, 15) AS BIGINT) AS h
       |  FROM d, (SELECT unnest(range(1, 700)) AS i) i
       |  WHERE i.i <= len(s) - ${k - 1}),
       |n AS (SELECT doc_id, len(s) - ${k - 1} AS ng FROM d),
       |win AS (SELECT g.doc_id, g.pos - o.o AS j, MIN(g.h) AS fp
       |  FROM g, (SELECT unnest(range(0, $w)) AS o) o
       |  WHERE g.pos - o.o >= 1
       |  GROUP BY 1, 2),
       |fps AS (SELECT DISTINCT w.doc_id, w.fp
       |  FROM win w JOIN n USING (doc_id)
       |  WHERE w.j <= n.ng - ${w - 1} AND n.ng >= $w),
       |bounded AS (SELECT fp FROM fps GROUP BY fp
       |  HAVING COUNT(*) BETWEEN 2 AND 1000)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
       |FROM fps a JOIN fps b USING (fp) JOIN bounded USING (fp)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
       |ORDER BY id_a, id_b""".stripMargin

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  val oracleSql: Map[String, String] = Map(

    "winnow_pairs" -> winnowOracle(k = 8, w = 4, minShared = 10),

    "blocklist_hits" ->
      s"""WITH d AS (SELECT doc_id, $cleanSql AS clean FROM documents),
         |t AS (SELECT doc_id,
         |    CASE WHEN clean = '' THEN []::VARCHAR[]
         |         ELSE string_split_regex(clean, '\\s+') END AS toks,
         |    ' ' || clean || ' ' AS padded
         |  FROM d),
         |h AS (SELECT doc_id,
         |    list_filter(${sqlList(blockTerms)},
         |      x -> list_contains(toks, x)) AS th,
         |    list_filter(${sqlList(blockPhrases)},
         |      p -> contains(padded, ' ' || p || ' ')) AS ph
         |  FROM t)
         |SELECT doc_id,
         |  COALESCE(array_to_string(th, ','), '') AS term_hits,
         |  COALESCE(array_to_string(ph, ','), '') AS phrase_hits,
         |  len(th) + len(ph) > 0 AS blocked
         |FROM h ORDER BY doc_id""".stripMargin,

    "blocklist_report" ->
      s"""WITH d AS (SELECT doc_id, $cleanSql AS clean FROM documents),
         |t AS (SELECT doc_id,
         |    CASE WHEN clean = '' THEN []::VARCHAR[]
         |         ELSE string_split_regex(clean, '\\s+') END AS toks,
         |    ' ' || clean || ' ' AS padded
         |  FROM d),
         |th AS (SELECT unnest(list_filter(${sqlList(blockTerms)},
         |    x -> list_contains(toks, x))) AS pattern, doc_id FROM t),
         |ph AS (SELECT unnest(list_filter(${sqlList(blockPhrases)},
         |    p -> contains(padded, ' ' || p || ' '))) AS pattern, doc_id FROM t),
         |u AS (
         |  SELECT pattern, 'term' AS kind, COUNT(*) AS n_docs
         |  FROM th GROUP BY 1, 2
         |  UNION ALL
         |  SELECT pattern, 'phrase' AS kind, COUNT(*) AS n_docs
         |  FROM ph GROUP BY 1, 2)
         |SELECT pattern, kind, n_docs FROM u ORDER BY kind, pattern""".stripMargin,

    "phrase_search" -> {
      val phRows = searchPhrases.flatMap { p =>
        val ts = p.split(" ")
        ts.zipWithIndex.map { case (t, o) => s"('$p', $o, '$t', ${ts.length})" }
      }.mkString(",\n|    ")
      s"""WITH toks AS (SELECT doc_id,
         |    string_split_regex($cleanSql, '\\s+') AS t
         |  FROM documents WHERE $cleanSql <> ''),
         |pos AS (SELECT doc_id, i.i AS pos, t[i.i] AS token
         |  FROM toks, (SELECT unnest(range(1, 200)) AS i) i
         |  WHERE i.i <= len(t)),
         |ph(phrase, off, token, plen) AS (VALUES
         |    $phRows),
         |votes AS (SELECT ph.phrase, p.doc_id AS doc,
         |    p.pos - ph.off AS start, ph.plen
         |  FROM pos p JOIN ph ON p.token = ph.token
         |  WHERE p.pos - ph.off >= 1),
         |m AS (SELECT phrase, doc, start, plen, COUNT(*) AS c
         |  FROM votes GROUP BY 1, 2, 3, 4 HAVING COUNT(*) = plen)
         |SELECT phrase, doc, COUNT(*) AS n_occurrences
         |FROM m GROUP BY 1, 2 ORDER BY phrase, doc""".stripMargin
    },

    "corpus_js" ->
      s"""WITH ca AS (SELECT u.tok AS token, COUNT(*) AS ca FROM (
         |    SELECT unnest(string_split_regex($cleanSql, '\\s+')) AS tok
         |    FROM documents WHERE doc_id % 2 = 0 AND $cleanSql <> '') u
         |  GROUP BY 1),
         |cb AS (SELECT u.tok AS token, COUNT(*) AS cb FROM (
         |    SELECT unnest(string_split_regex($cleanSql, '\\s+')) AS tok
         |    FROM documents WHERE doc_id % 2 = 1 AND $cleanSql <> '') u
         |  GROUP BY 1),
         |j AS (SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
         |  FROM ca FULL JOIN cb USING (token)),
         |s AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS v FROM j),
         |e AS (SELECT
         |    (ca + 0.5) / (na + 0.5 * v) AS p,
         |    (cb + 0.5) / (nb + 0.5 * v) AS q
         |  FROM j, s)
         |SELECT (SELECT v FROM s) AS n_vocab,
         |  (SELECT CAST(na AS BIGINT) FROM s) AS n_tokens_a,
         |  (SELECT CAST(nb AS BIGINT) FROM s) AS n_tokens_b,
         |  round(SUM(p * ln(p / q)), 6) AS kl_ab,
         |  round(SUM(q * ln(q / p)), 6) AS kl_ba,
         |  round(SUM(p * ln(p / ((p + q) / 2)) / 2
         |          + q * ln(q / ((p + q) / 2)) / 2), 6) AS js
         |FROM e""".stripMargin
  )
}
