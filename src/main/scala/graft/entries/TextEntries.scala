package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Tables => T}
import graft.text.{Dedup, TextFns, Decontaminate, Redact, Blocklist, Retrieval, Winnow}

/** Registry queries for `graft.text` normalization, deduplication,
  * redaction and blocklists (SURVEY §2.9 strings, §2.10, north-star
  * dedup).
  *
  * Hash-based near-dup ops (minhash/simhash) use engine-specific hash
  * functions, so they are declared WITHOUT oracle SQL (driver records
  * the weaker rows-only check); their semantics are covered by
  * TextSpec instead. The md5 variants are the portable, oracle-checked
  * twins.
  */
object TextEntries extends Entries {

  /** Shared oracle CTEs: docs<50 + perturbed corpus → distinct
    * 3-shingles → md5-60-bit hashes → 32 seeded min signatures →
    * banded candidate pairs with exact signature similarity. Used by
    * minhash_pairs_md5 and drop_near_dups. */
  private val md5PairCtes: String = {
    val bandEq = (0 until 8).map { b =>
      s"a.sg[${b * 4 + 1}:${b * 4 + 4}] = b.sg[${b * 4 + 1}:${b * 4 + 4}]"
    }.mkString("(", " OR ", ")")
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
       |  FROM documents WHERE doc_id < 50),
       |toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
       |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
       |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
       |h AS (SELECT doc_id,
       |        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
       |      FROM sh),
       |seeds AS (SELECT unnest(range(0, 32)) AS seed),
       |sig AS (
       |  SELECT doc_id, seed,
       |    MIN(CAST(('0x' || substr(md5(CONCAT(seed, '_', CAST(h AS VARCHAR))), 1, 15)) AS BIGINT)) AS m
       |  FROM h, seeds GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(m ORDER BY seed) AS sg FROM sig GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_filter(range(1, 33), i -> a.sg[i] = b.sg[i])) AS DOUBLE) / 32 AS sig_sim
       |  FROM sigs a JOIN sigs b
       |    ON a.doc_id < b.doc_id
       |   AND $bandEq)""".stripMargin
  }

  /** The bounded pair-corpus convention of minhash_pairs_md5:
    * 50 base docs + a first-word-dropped twin each. The
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

  private[entries] val cleanSql =
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

  private val redactTerms = Seq("hash", "dup", "spark")

  // Same pair construction as the ngram_jaccard oracle, then the
  // transitive closure as a recursive CTE; component = min reachable
  // id (matches min-label propagation's fixed point).
  private val dedupClustersSql =
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
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.9 clean_text/normalize_text (text.py:53) + slugify (:1192).
    "text_clean" -> ((s, dir) => {
      val d = T.documents(s, dir)
      d.select(col("doc_id"),
          TextFns.cleanText(col("text")).as("clean"),
          TextFns.slugify(substring(col("text"), 1, 20)).as("slug"))
        .orderBy("doc_id")
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

    // north-star n-gram Jaccard near-dup (exact rational similarity)
    // over a corpus with planted near-duplicates.
    "ngram_jaccard" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.ngramJaccardPairs(d.unionByName(perturbed), "doc_id", "text",
          k = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // §2.9 text scalar battery (text.py:316-1841): snake_case, slug,
    // truncate, reverse, palindrome, base64 — one projection.
    "text_case" -> ((s, dir) => {
      val t = col("text")
      T.documents(s, dir).select(
          col("doc_id"),
          TextFns.toSnakeCase(substring(t, 1, 24)).as("snake"),
          TextFns.slugify(substring(t, 1, 24)).as("slug"),
          TextFns.truncateText(t, 16).as("trunc"),
          TextFns.reverseText(lower(substring(t, 1, 12))).as("rev"),
          TextFns.isPalindrome(lower(t)).as("pal"),
          TextFns.encodeB64(substring(t, 1, 12)).as("b64"))
        .orderBy("doc_id")
    }),

    // north-star dedup, final stage: pairs → duplicate clusters via
    // min-label connected components (transitive closure of the
    // ngram-Jaccard near-dup graph; oracle replays it with a
    // recursive CTE).
    "dedup_clusters" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      val pairs = Dedup.ngramJaccardPairs(d.unionByName(perturbed),
        "doc_id", "text", k = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    }),

    // north-star MinHash+LSH banding with a FULL oracle: the portable
    // md5-derived hash family lets DuckDB replay signatures, band
    // membership, and exact verification end-to-end (the xxhash64
    // variant stays the perf default; this one closes its
    // verification gap with a hash-matched gate).
    "minhash_pairs_md5" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.minhashPairsPortable(d.unionByName(perturbed), "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // north-star SimHash with a FULL oracle: portable 60-bit md5
    // sketch, 15-bit bands, Hamming verification — DuckDB replays
    // per-bit majorities, band membership, and the xor popcount.
    "simhash_pairs_md5" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.simhashPairsPortable(d.unionByName(perturbed), "doc_id", "text",
          maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // the one-call dedup capstone, oracle-checked end-to-end: portable
    // MinHash pairs -> connected components -> keep min-id per cluster
    // (non-candidates pass through).
    "drop_near_dups" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.dropNearDuplicates(d.unionByName(perturbed), "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5, portableHash = true)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // PII is synthesized deterministically from doc_id (both engines
    // construct byte-identical input text), so the redaction output and
    // category counts are exact row-level checks of the regex semantics
    // shared by Java regex and RE2.
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
    }),

    // Snapshot.dropSeenDocs: a re-crawl where every third page
    // changed; the unchanged two-thirds must anti-join out against
    // the reference corpus by exact content fingerprint.
    "snapshot_dedup" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val newSnap = docs.select((col("doc_id") + 10000).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" xq7z")))
          .otherwise(col("text")).as("text"))
      graft.text.Snapshot.dropSeenDocs(newSnap, docs, "text")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        .orderBy("doc_id")
    }),

    // Snapshot.crossCorpusNearDupPairs (portable md5 family): the
    // re-crawl drops each page's first token — near- but not exact-
    // duplicates — and every page must pair with its reference twin
    // through the cross-corpus band join.
    "snapshot_neardup" -> ((s, dir) => {
      val ref = T.documents(s, dir).filter(col("doc_id") < 50)
      val newSnap = ref.select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.Snapshot.crossCorpusNearDupPairs(newSnap, ref,
          "doc_id", "text", numHashes = 32, bands = 8,
          threshold = 0.5, shingleK = 3, portable = true)
        .orderBy("id_new", "id_ref")
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

    // functions.UnicodeNormalize: UAX #15 normalization as a native
    // codegen expression (Spark has no built-in) — the
    // pre-fingerprinting canonicalization step dedup pipelines need:
    // composed U+00E9 and decomposed e+U+0301 are byte-different, so
    // every hash-based dedup misses the duplicate until both sides
    // normalize. Even docs get a decomposed suffix appended (both
    // branches of the isNormalized fast path exercised); DuckDB
    // replays with its own UAX #15 implementation (nfc_normalize).
    "unicode_nfc" -> ((s, dir) => {
      graft.functions.NativeFunctions.register(s)
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

    "term_redact" -> ((s, dir) => {
      graft.text.Redact.redactTerms(T.documents(s, dir), "text",
          redactTerms)
        .select("doc_id", "text_redacted", "n_redacted")
        .orderBy("doc_id")
    }),

    // simhash_pairs_md5's scale path: the SAME portable 60-bit md5
    // sketch through the 2×30-bit multi-index kernel (radius-1 ball
    // enumeration) instead of 15-bit bands — past ~2^16 documents the
    // 15-bit band buckets birthday-collide into ~n²/2^15 candidates;
    // the 2^30 key space defers that knee ~2^15×. FULL oracle — the
    // md5 sketch CTE verbatim with the wide candidate rule ("either
    // 30-bit half within Hamming 1") replayed as a closed form.
    "simhash_pairs_md5_wide" -> ((s, dir) => {
      import graft.text.Dedup
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.simhashPairsPortableWide(d.unionByName(perturbed), "doc_id",
          "text", maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // 240-bit portable SimHash near-dups through the SAME 4×64-bit-
    // band kernel as the media path — the text twin of
    // image_near_dups_256, retiring the text wide kernel's ~2^25 knee
    // (random word collisions ~4n²/2^60). Corpus: originals + EXACT
    // twins (guaranteed hamming-0 pairs at any text) + first-word-
    // dropped twins (most exceed 3/240 — the tighter criterion is the
    // point). FULL oracle — DuckDB replays all four salted md5 words,
    // every bit majority, the some-word-matches candidate rule, and
    // the summed xor popcount.
    "simhash_pairs_md5_256" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
        .select("doc_id", "text")
      val exactTwin = d.withColumn("doc_id", col("doc_id") + 20000)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      graft.text.Dedup.simhashPairs256Portable(
          d.unionByName(exactTwin).unionByName(perturbed),
          "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "text_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean,
        |  regexp_replace(trim(regexp_replace(lower(substr(text, 1, 20)), '[^a-z0-9]+', ' ', 'g')), ' +', '-', 'g') AS slug
        |FROM documents ORDER BY doc_id""".stripMargin,

    "fingerprint" ->
      """SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies,
        |  md5(text) AS text_hash
        |FROM doubled GROUP BY md5(text) ORDER BY canonical_id""".stripMargin,

    "levenshtein_pairs" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 20) AS prefix FROM documents WHERE doc_id < 30)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.prefix, b.prefix) AS INT) AS lev
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,

    "ngram_jaccard" ->
      """WITH corpus AS (
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
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
        |SELECT id_a, id_b,
        |  CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) AS jaccard
        |FROM inter
        |JOIN sizes na ON na.doc_id = id_a
        |JOIN sizes nb ON nb.doc_id = id_b
        |WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "text_case" ->
      """SELECT doc_id,
        |  lower(regexp_replace(regexp_replace(substring(text, 1, 24), '([a-z0-9])([A-Z])', '\1_\2', 'g'), '[\s-]+', '_', 'g')) AS snake,
        |  regexp_replace(trim(regexp_replace(lower(substring(text, 1, 24)), '[^a-z0-9]+', ' ', 'g')), ' +', '-', 'g') AS slug,
        |  substring(text, 1, 16) AS trunc,
        |  reverse(lower(substring(text, 1, 12))) AS rev,
        |  reverse(lower(text)) = lower(text) AS pal,
        |  base64(CAST(substring(text, 1, 12) AS BLOB)) AS b64
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_clusters" -> dedupClustersSql,

    // Replays the full MinHash pipeline on the md5 hash family:
    // per-shingle 60-bit hash, 32 seeded re-hash min-aggregates,
    // band membership as TRUE slice equality (the Spark side keys on
    // xxhash64 of the slice — equivalent up to a ~2^-64 collision),
    // exact signature similarity as the verification.
    "minhash_pairs_md5" ->
      s"""WITH $md5PairCtes
         |SELECT id_a, id_b, sig_sim FROM pairs
         |WHERE sig_sim >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // dropNearDuplicates end-to-end: md5 MinHash pairs (shared CTEs),
    // transitive closure by recursive CTE, keep docs that are either
    // outside every pair or their cluster's min id.
    "drop_near_dups" ->
      s"""WITH RECURSIVE $md5PairCtes,
         |p AS (SELECT id_a, id_b FROM pairs WHERE sig_sim >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
         |         FROM reach GROUP BY a)
         |SELECT c.doc_id FROM corpus c
         |LEFT JOIN comp ON comp.doc_id = c.doc_id
         |WHERE comp.component IS NULL OR comp.component = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    // Per-bit token majorities -> 60-bit sketch (sum of disjoint
    // powers = OR), n² with the 4-band OR as the candidate condition
    // (equivalent to the Spark band join), Hamming via bit_count(xor).
    "simhash_pairs_md5" -> {
      val bandEq = (0 until 4).map { b =>
        s"((a.sh >> ${b * 15}) & 32767) = ((b.sh >> ${b * 15}) & 32767)"
      }.mkString("(", " OR ", ")")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 50
         |  UNION ALL
         |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
         |  FROM documents WHERE doc_id < 50),
         |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |        FROM corpus WHERE len(trim(text)) > 0),
         |h AS (SELECT doc_id,
         |        CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
         |      FROM tok),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY 1),
         |bits AS (
         |  SELECT doc_id, b.b AS bit, SUM((h >> b.b) & 1) AS c
         |  FROM h, (SELECT unnest(range(0, 60)) AS b) b GROUP BY 1, 2),
         |sk AS (
         |  SELECT bits.doc_id,
         |    SUM(CASE WHEN 2 * c > n THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sh
         |  FROM bits JOIN cnt ON cnt.doc_id = bits.doc_id GROUP BY 1)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id AND $bandEq
         |WHERE bit_count(xor(a.sh, b.sh)) <= 8
         |ORDER BY id_a, id_b""".stripMargin
    },

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
        |ORDER BY doc_id""".stripMargin,

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
        |ORDER BY doc_id""".stripMargin,

    "snapshot_dedup" ->
      """WITH newsnap AS (
        |  SELECT doc_id + 10000 AS doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' xq7z' ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, md5(text) AS fp FROM newsnap
        |WHERE md5(text) NOT IN (SELECT DISTINCT md5(text) FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Cross-corpus twin of minhash_pairs_md5: both snapshots sign
    // with the shared md5 family, candidates are new×ref band
    // equality (the Spark side keys on xxhash64 of the slice —
    // equivalent up to ~2^-64), verification is exact sig similarity.
    "snapshot_neardup" -> {
      val bandEq = (0 until 8).map { b =>
        s"n.sg[${b * 4 + 1}:${b * 4 + 4}] = r.sg[${b * 4 + 1}:${b * 4 + 4}]"
      }.mkString("(", " OR ", ")")
      s"""WITH corpus AS (
         |  SELECT 'r' AS side, doc_id, text FROM documents WHERE doc_id < 50
         |  UNION ALL
         |  SELECT 'n', doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
         |  FROM documents WHERE doc_id < 50),
         |toks AS (SELECT side, doc_id,
         |    string_split_regex(trim(text), '\\s+') AS t FROM corpus),
         |sh AS (
         |  SELECT DISTINCT side, doc_id,
         |    array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
         |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
         |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
         |h AS (SELECT side, doc_id,
         |        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
         |      FROM sh),
         |seeds AS (SELECT unnest(range(0, 32)) AS seed),
         |sig AS (
         |  SELECT side, doc_id, seed,
         |    MIN(CAST(('0x' || substr(md5(CONCAT(seed, '_', CAST(h AS VARCHAR))), 1, 15)) AS BIGINT)) AS m
         |  FROM h, seeds GROUP BY 1, 2, 3),
         |sigs AS (SELECT side, doc_id, list(m ORDER BY seed) AS sg
         |         FROM sig GROUP BY 1, 2),
         |pairs AS (
         |  SELECT n.doc_id AS id_new, r.doc_id AS id_ref,
         |    CAST(len(list_filter(range(1, 33), i -> n.sg[i] = r.sg[i])) AS DOUBLE) / 32 AS sig_sim
         |  FROM sigs n JOIN sigs r
         |    ON n.side = 'n' AND r.side = 'r' AND $bandEq)
         |SELECT id_new, id_ref, sig_sim FROM pairs
         |WHERE sig_sim >= 0.5
         |ORDER BY id_new, id_ref""".stripMargin
    },

    // Verbatim the dedup_clusters oracle: the
    // recursive-CTE transitive closure is algorithm-independent.
    "cc_star" -> dedupClustersSql,

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
        |FROM r ORDER BY doc_id""".stripMargin,

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

    // The md5 sketch CTE of simhash_pairs_md5, with the wide kernel's
    // candidate rule — "either 30-bit half within Hamming <= 1" — in
    // place of the 15-bit band OR. 1073741823 = (1 << 30) - 1.
    "simhash_pairs_md5_wide" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 50
         |  UNION ALL
         |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
         |  FROM documents WHERE doc_id < 50),
         |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |        FROM corpus WHERE len(trim(text)) > 0),
         |h AS (SELECT doc_id,
         |        CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
         |      FROM tok),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY 1),
         |bits AS (
         |  SELECT doc_id, b.b AS bit, SUM((h >> b.b) & 1) AS c
         |  FROM h, (SELECT unnest(range(0, 60)) AS b) b GROUP BY 1, 2),
         |sk AS (
         |  SELECT bits.doc_id,
         |    SUM(CASE WHEN 2 * c > n THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sh
         |  FROM bits JOIN cnt ON cnt.doc_id = bits.doc_id GROUP BY 1)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id AND
         |  (bit_count(xor(a.sh & 1073741823, b.sh & 1073741823)) <= 1
         |   OR bit_count(xor(a.sh >> 30, b.sh >> 30)) <= 1)
         |WHERE bit_count(xor(a.sh, b.sh)) <= 8
         |ORDER BY id_a, id_b""".stripMargin,

    // all four salted 60-bit md5 words, per-bit majorities, the
    // some-word-matches candidate rule, summed xor popcounts
    "simhash_pairs_md5_256" -> {
      val hs = (0 until 4).map(w =>
        s"CAST(('0x' || substr(md5('sh256_${w}_' || tk), 1, 15)) " +
          s"AS BIGINT) AS h$w").mkString(",\n        |    ".stripMargin)
      val cs = (0 until 4).map(w =>
        s"SUM((h$w >> b.b) & 1) AS c$w").mkString(",\n        |    ".stripMargin)
      val ss = (0 until 4).map(w =>
        s"SUM(CASE WHEN 2 * c$w > n THEN (CAST(1 AS BIGINT) << bit) " +
          s"ELSE 0 END) AS s$w").mkString(",\n        |    ".stripMargin)
      val ham = (0 until 4).map(w => s"bit_count(xor(a.s$w, b.s$w))")
        .mkString(" + ")
      val bandEq = (0 until 4).map(w => s"a.s$w = b.s$w")
        .mkString("(", " OR ", ")")
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
        |  FROM documents WHERE doc_id < 50),
        |tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\\s+')) AS tk
        |  FROM corpus WHERE len(trim(text)) > 0),
        |h AS (SELECT doc_id,
        |    $hs
        |  FROM tok),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
        |bits AS (SELECT doc_id, b.b AS bit,
        |    $cs
        |  FROM h, (SELECT unnest(range(0, 60)) AS b) b GROUP BY 1, 2),
        |sk AS (SELECT bits.doc_id,
        |    $ss
        |  FROM bits JOIN cnt ON cnt.doc_id = bits.doc_id GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST($ham AS INTEGER) AS hamming
        |FROM sk a JOIN sk b ON a.doc_id < b.doc_id AND $bandEq
        |WHERE $ham <= 3
        |ORDER BY id_a, id_b""".stripMargin
    }
  )

  override val nljAllowed: Set[String] = Set(
    // levenshtein_pairs: a pair kernel bounded by construction (30 docs)
    "levenshtein_pairs",
    // line_dedup: the corpus doc count as a 1-row scalar broadcast
    "line_dedup")
}
