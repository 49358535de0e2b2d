package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.ml.Similarity
import graft.text.{Dedup, Keywords, Quality, TextFns}

/** Driver-contract entries for text / LLM-data-pipeline operators
  * (SURVEY §2.9 strings, §2.10, north-star dedup/similarity/quality).
  *
  * Hash-based near-dup ops (minhash/simhash/LSH-cosine) use engine-
  * specific hash functions, so they are declared WITHOUT oracle SQL
  * (driver records the weaker rows-only check); their semantics are
  * covered by TextSpec instead.
  */
object TextEntries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.9 clean_text/normalize_text (text.py:53) + slugify (:1192).
    "text_clean" -> ((s, dir) => {
      val d = T.documents(s, dir)
      d.select(col("doc_id"),
          TextFns.cleanText(col("text")).as("clean"),
          TextFns.slugify(substring(col("text"), 1, 20)).as("slug"))
        .orderBy("doc_id")
    }),

    // north-star token counting: whitespace + BPE-ish subword proxy.
    "token_stats" -> ((s, dir) => {
      T.documents(s, dir).select(col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          TextFns.subtokenCount(col("text")).as("n_subtokens"))
        .orderBy("doc_id")
    }),

    // north-star quality scoring (text_analysis text.py:838 heuristics).
    "text_quality" -> ((s, dir) => {
      Quality.qualityScores(T.documents(s, dir), "text")
        .select("doc_id", "n_tokens", "stopword_ratio", "mean_token_len",
          "digit_ratio")
        .orderBy("doc_id")
    }),

    // north-star repetitiveness signal: per-doc token entropy.
    "token_entropy" -> ((s, dir) => {
      Quality.tokenEntropy(T.documents(s, dir), "doc_id", "text")
        .orderBy("doc")
    }),

    // north-star document fingerprinting (md5 content hash).
    "fingerprint" -> ((s, dir) => {
      T.documents(s, dir)
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // north-star exact dedup: duplicate-heavy corpus (docs ∪ shifted
    // copy) → one group per distinct text with multiplicity.
    "dedup_exact" -> ((s, dir) => {
      val d = T.documents(s, dir)
      val doubled = d.unionByName(
        d.withColumn("doc_id", col("doc_id") + 10000))
      Dedup.exactGroups(doubled, "doc_id", "text")
        .orderBy("canonical_id")
        .select("canonical_id", "n_copies", "text_hash")
    }),

    // §2.10 summarize_text_columns shape: TF-IDF top-3 keywords/doc.
    "top_keywords" -> ((s, dir) => {
      Keywords.tfidfTopK(T.documents(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc", "rk")
    }),

    // §2.9 levenshtein (text.py:1736) over a bounded pair block.
    "levenshtein_pairs" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 30)
        .select(col("doc_id"), substring(col("text"), 1, 20).as("prefix"))
      val a = d.select(col("doc_id").as("id_a"), col("prefix").as("pa"))
      val b = d.select(col("doc_id").as("id_b"), col("prefix").as("pb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("pa"), col("pb")).as("lev"))
        .orderBy("id_a", "id_b")
    }),

    // north-star similarity search: brute-force cosine top-10 to vec 0.
    "cosine_topk" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.cosineTopK(emb, "embedding", "vec_id", q, k = 10)
        .withColumn("cos", round(col("cos"), 9))
    }),

    // ---- rows-only entries (engine-specific hashes; no oracle) ----
    "minhash_pairs" -> ((s, dir) => {
      val d = T.documents(s, dir)
      // plant near-duplicates: copy with the first word dropped
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.minhashPairs(d.unionByName(perturbed), "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    "simhash_pairs" -> ((s, dir) => {
      val d = T.documents(s, dir)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.simhashPairs(d.unionByName(perturbed), "doc_id", "text",
          maxHamming = 6)
        .orderBy("id_a", "id_b")
    }),

    "lang_id" -> ((s, dir) => {
      Quality.langId(T.documents(s, dir), "text")
        .select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id")
    }),

    // §2.9 summarize_text_columns (transformation.py:31): top-TF-IDF
    // sentence per document.
    "extractive_summary" -> ((s, dir) => {
      Keywords.extractiveSummary(T.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    }),

    // OR-amplified LSH near-dup join over the planted corpus (same
    // plants as embed_dedup, whose exact n² pair set is the ground
    // truth DedupRecallSpec measures this against: recall >= 0.9 at
    // 4 planes x 8 tables, precision 1.0 by exact verification).
    "lsh_cosine_join" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val pert = emb.select(
        (col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 1, 56),
          transform(slice(col("embedding"), 57, 8), v => v * lit(1.5f)))
          .as("embedding"))
      val all = emb.select("vec_id", "embedding").unionByName(pert)
      Similarity.lshCosineJoin(all, "vec_id", "embedding",
          dim = 64, nPlanes = 4, nTables = 8, threshold = 0.9)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("id_a", "id_b")
    })
  )

  private val tokArr = "string_split_regex(trim(text), '\\s+')"
  private def ntok = s"CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len($tokArr) END"

  val oracleSql: Map[String, String] = Map(
    // Marker-word language ID is pure int/string arithmetic, so the
    // heuristic replays exactly in SQL. The CASE ladder (checked from
    // the last profile down) equals the Spark fold: the prediction is
    // the last profile whose score strictly exceeds the max of all
    // earlier profiles.
    "lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','is'))) AS s_en,
        |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS s_de,
        |    len(list_filter(toks, t -> t IN ('el','la','los','que','es'))) AS s_es,
        |    len(list_filter(toks, t -> t IN ('le','la','les','des','est'))) AS s_fr,
        |    len(list_filter(toks, t -> t IN ('的','是','了','在','我'))) AS s_zh
        |  FROM s)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN s_zh > GREATEST(s_en, s_de, s_es, s_fr) THEN 'zh'
        |    WHEN s_fr > GREATEST(s_en, s_de, s_es) THEN 'fr'
        |    WHEN s_es > GREATEST(s_en, s_de) THEN 'es'
        |    WHEN s_de > s_en THEN 'de'
        |    ELSE 'en' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    // Mirrors the Spark plan: RE2-portable sentence split, exact
    // decimal token scores (tf · 6-dp-rounded ln), one double division
    // per sentence, ties to the first sentence.
    "extractive_summary" ->
      """WITH sent0 AS (
        |  SELECT doc_id AS doc, x AS sidx, arr[x + 1] AS sent
        |  FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]\s+') AS arr FROM documents),
        |    LATERAL UNNEST(range(len(arr))) AS u(x)),
        |sentf AS (SELECT * FROM sent0 WHERE len(trim(sent)) > 0),
        |toks AS (
        |  SELECT doc, sidx, t AS token
        |  FROM sentf, LATERAL UNNEST(string_split_regex(trim(lower(sent)), '\s+')) AS u(t)
        |  WHERE len(t) >= 2),
        |tf AS (SELECT doc, sidx, token, COUNT(*) tf FROM toks GROUP BY 1, 2, 3),
        |sdf AS (SELECT doc, token, CAST(COUNT(*) AS BIGINT) sdf
        |  FROM (SELECT DISTINCT doc, sidx, token FROM toks) GROUP BY 1, 2),
        |ns AS (SELECT doc, CAST(COUNT(*) AS BIGINT) ns FROM sentf GROUP BY 1),
        |ts AS (
        |  SELECT doc, sidx,
        |    CAST(CAST(tf AS DECIMAL(10,0)) *
        |      CAST(ROUND(LN(CAST(ns AS DOUBLE) / CAST(sdf AS DOUBLE)), 6) AS DECIMAL(10,6))
        |      AS DECIMAL(20,6)) AS tokscore
        |  FROM tf JOIN sdf USING (doc, token) JOIN ns USING (doc)),
        |ss AS (
        |  SELECT doc, sidx,
        |    CAST(SUM(tokscore) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS score
        |  FROM ts GROUP BY 1, 2),
        |best AS (
        |  SELECT doc, sidx, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc ORDER BY score DESC, sidx ASC) rk
        |  FROM ss)
        |SELECT b.doc AS doc_id, CAST(b.sidx AS INT) AS sidx, s.sent AS summary, b.score
        |FROM best b JOIN sentf s USING (doc, sidx)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "text_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean,
        |  regexp_replace(trim(regexp_replace(lower(substr(text, 1, 20)), '[^a-z0-9]+', ' ', 'g')), ' +', '-', 'g') AS slug
        |FROM documents ORDER BY doc_id""".stripMargin,

    "token_stats" ->
      s"""SELECT doc_id,
         |  CAST($ntok AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_subtokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST($ntok AS INT) AS n_tokens,
         |  CASE WHEN $ntok = 0 THEN 0.0 ELSE
         |    CAST(len(list_filter($tokArr, t -> lower(t) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
         |      / CAST($ntok AS DOUBLE) END AS stopword_ratio,
         |  CASE WHEN $ntok = 0 THEN 0.0 ELSE
         |    CAST(list_sum(list_transform($tokArr, t -> len(t))) AS DOUBLE)
         |      / CAST($ntok AS DOUBLE) END AS mean_token_len,
         |  CASE WHEN len(text) = 0 THEN 0.0 ELSE
         |    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / CAST(len(text) AS DOUBLE) END AS digit_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,

    "token_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id AS doc, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT doc, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |p AS (SELECT doc, CAST(tf AS DOUBLE) / CAST(SUM(tf) OVER (PARTITION BY doc) AS DOUBLE) AS p FROM c)
        |SELECT doc, ROUND(-SUM(p * LN(p)), 6) AS token_entropy
        |FROM p GROUP BY doc ORDER BY doc""".stripMargin,

    "fingerprint" ->
      """SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies,
        |  md5(text) AS text_hash
        |FROM doubled GROUP BY md5(text) ORDER BY canonical_id""".stripMargin,

    "top_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id AS doc, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |ft AS (SELECT doc, token FROM toks WHERE len(token) >= 2),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM ft GROUP BY doc, token),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc, token FROM ft) GROUP BY token),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT doc, token, ROUND(CAST(tf AS DOUBLE) * LN(n.n / CAST(df AS DOUBLE)), 6) AS score
        |  FROM tf JOIN dfreq USING (token), n),
        |ranked AS (
        |  SELECT doc, token, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc ORDER BY score DESC, token) AS INT) AS rk
        |  FROM scored)
        |SELECT doc, rk, token, score FROM ranked WHERE rk <= 3
        |ORDER BY doc, rk""".stripMargin,

    "levenshtein_pairs" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 20) AS prefix FROM documents WHERE doc_id < 30)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.prefix, b.prefix) AS INT) AS lev
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    "cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(list_zip(embedding, qe), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (SQRT(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |       * SQRT(list_sum(list_transform(qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM embeddings, q)
        |SELECT vec_id, ROUND(cos, 9) AS cos FROM scored
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  )
}
