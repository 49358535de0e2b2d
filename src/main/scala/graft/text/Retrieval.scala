package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval over a document corpus — the data-selection
  * primitive of LLM pipelines ("keep pages similar to a high-quality
  * seed set", the retrieval dual of the perplexity filter in
  * [[LangModel]]; quality-signal family of gofast/utils/text.py:838).
  *
  * Standard Robertson BM25 with the Lucene idf variant
  * `ln(1 + (N − df + 0.5)/(df + 0.5))` — always positive, so a term
  * in more than half the corpus never SUBTRACTS from the score:
  *
  *   score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) /
  *                                (tf + k1·(1 − b + b·dl/avgdl))
  *
  * Query terms are DISTINCT per query (set semantics — the common
  * convention for short queries; a repeated query term does not
  * double-count).
  *
  * Scale shape:
  *  - one corpus explode → per-(doc, token) tf groupBy (map-side
  *    combined); df and dl re-aggregate THAT table, never the corpus;
  *  - (N, avgdl) ride as a 1-row broadcast scalar;
  *  - the candidate join is postings-bounded: each query term meets
  *    only the documents containing it (Σ_t df(t) candidate rows per
  *    query), keyed on token — AQE broadcasts the query side when it
  *    is small, which is the common retrieval shape;
  *  - top-k is the two-phase exact kernel of
  *    [[graft.rel.Sampling.topKPerGroup]]: per-(query, partition)
  *    local top-k first, so a hot query never serializes onto one
  *    task.
  *
  * Determinism: scores round to 6 dp BEFORE ranking (per-document sum
  * order is the only engine difference; the round-6 parity contract of
  * [[Quality.tokenEntropy]]), ties broken by ascending doc id.
  */
object Retrieval {

  /** Top-k documents per query by BM25. Output:
    * (query, doc, score, rank) with rank 1..k per query.
    * Documents or queries with no tokens simply match nothing. */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
               docId: String, textCol: String,
               queryId: String, queryText: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Rankings(docs, queries, docId, textCol, queryId, queryText,
      Seq((k1, b)), k).head

  /** One ranking per (k1, b) parameterization, ALL scored from a
    * single shared candidate table — one corpus pass, one candidate
    * join, then each parameterization is a pure arithmetic projection
    * + groupBy + top-k over the (checkpointed, postings-bounded)
    * candidates. The ensemble input of [[rrfFuse]]: K
    * parameterizations cost one retrieval plus K cheap scoring tails,
    * not K full retrievals. */
  def bm25Rankings(docs: DataFrame, queries: DataFrame,
                   docId: String, textCol: String,
                   queryId: String, queryText: String,
                   params: Seq[(Double, Double)],
                   k: Int = 10): Seq[DataFrame] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(params.nonEmpty, "need at least one (k1, b) parameterization")
    params.foreach { case (k1, b) =>
      require(k1 >= 0 && b >= 0 && b <= 1,
        s"need k1 >= 0 and 0 <= b <= 1, got k1=$k1 b=$b")
    }
    // one corpus pass: per-(doc, token) term frequencies, cut: df, dl
    // and the candidate join each read it through a different exchange
    // (their inferred join filters differ), so without the cut the
    // corpus explode+groupBy ran twice (measured at ×4: shuffleMB
    // 1.0 → 2.7, bm25_topk 0.95 → 1.32 s). A cut, not persist():
    // persist() pinned one columnar copy per call for the session
    // lifetime and regressed the bm25 family 18–40% in r18.
    val docTf = graft.core.Cut.of(docs.select(col(docId).as("doc"),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .groupBy("doc", "token").agg(count(lit(1)).as("tf")), graft.core.Cut.Reread)
    // document lengths and corpus scalars. N counts DISTINCT doc ids —
    // rows sharing a doc id merge their term frequencies into one
    // logical document and count once toward N (zero-token documents
    // can never match, but they are still part of the collection the
    // idf is defined over); avgdl averages over that same N so the two
    // constants stay mutually consistent.
    val dl = docTf.groupBy("doc").agg(sum("tf").as("dl"))
    val nDocs = docs.select(col(docId).as("doc")).distinct().count()
    require(nDocs > 0, "empty corpus: BM25 idf is undefined at N = 0")
    val scalars = dl.agg(
      (sum("dl").cast("double") / lit(nDocs.toDouble)).as("_avgdl"))
    val df_ = docTf.groupBy("token").agg(count(lit(1)).as("df"))
    // distinct query terms (set semantics) — PER QUERY ID, not per
    // input row: two rows sharing a queryId union their term sets
    // rather than double-counting shared terms, matching the
    // documented "DISTINCT per query" contract. (array_distinct alone
    // would only dedup within a row.)
    //
    // An ArrayType query column is taken AS the term list (caller has
    // already tokenized/normalized) — callers that construct queries
    // by slicing a token list must NOT round-trip through a joined
    // string, whose re-tokenization can drop tokens the slice kept
    // (e.g. an empty token from leading non-space whitespace).
    val qTok = queries.schema(queryText).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => col(queryText)
      case _ => TextFns.tokens(lower(col(queryText)))
    }
    val qTerms = queries.select(col(queryId).as("query"),
        explode(array_distinct(qTok)).as("token"))
      .dropDuplicates("query", "token")
    // the postings-bounded candidate table: one row per (query term,
    // containing doc), with every per-pair statistic scoring needs.
    val cand = qTerms
      .join(docTf, Seq("token"))
      .join(df_, Seq("token"))
      .join(dl, Seq("doc"))
      .crossJoin(broadcast(scalars))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    // ALL parameterizations score in ONE aggregation pass over the
    // candidates — one `_score_i` column per (k1, b). The candidate
    // table is traversed exactly once and NEVER materialized: it is
    // LARGER than its inputs (Σ_t df(t) wide rows), so the previous
    // design — localCheckpoint cand, re-read per ranking — inverted at
    // scale: at 40× corpus the checkpoint write + K re-reads cost more
    // than recomputing the whole retrieval per parameterization
    // (measured bisect: one-parameter bm25 stayed linear, the
    // multi-parameter rrf fusion went super-linear). What IS cut is
    // the grouped scored table — per-(query, doc), k-independent,
    // df-fold smaller: each of the K top-k tails reads one score
    // column, so Catalyst prunes the aggregate differently per tail,
    // no exchange matches, and without the cut a fused caller runs the
    // whole retrieval K times (rrf_fuse: 23 exchanges).
    val aggs = params.zipWithIndex.map { case ((k1, b), i) =>
      val contrib = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") /
            col("_avgdl")))
      round(sum(contrib), 6).as(s"_score$i")
    }
    val grouped = cand.groupBy("query", "doc").agg(aggs.head, aggs.tail: _*)
    val scoredAll =
      if (params.size > 1) graft.core.Cut.of(grouped, graft.core.Cut.Reread)
      else grouped
    params.indices.map { i =>
      graft.rel.Sampling.topKPerGroup(
          scoredAll.select(col("query"), col("doc"),
            col(s"_score$i").as("score")),
          Seq("query"), Seq(col("score").desc, col("doc").asc), k,
          rankName = "rank")
        .select("query", "doc", "score", "rank")
    }
  }

  /** The FITTED BM25 index of a corpus: one flat postings table
    * (token, doc, tf, df, dl, _n, _avgdl) — everything scoring needs,
    * keyed on token so a query side (batch OR stream-static) joins it
    * in one keyed equi-join. This is the "fit once, deploy anywhere"
    * artifact: persist it with [[graft.io.Catalog]] and both the batch
    * scorer and [[graft.stream.Streaming.bm25StreamScores]] run from
    * it without touching the corpus again. Statistics are identical to
    * [[bm25Rankings]] (distinct-id N, avgdl over that N). */
  def bm25Index(docs: DataFrame, docId: String, textCol: String): DataFrame = {
    val docTf = docs.select(col(docId).as("doc"),
        explode(TextFns.tokens(lower(col(textCol)))).as("token"))
      .groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val nDocs = docs.select(col(docId).as("doc")).distinct().count()
    require(nDocs > 0, "empty corpus: BM25 idf is undefined at N = 0")
    val dl = docTf.groupBy("doc").agg(sum("tf").as("dl"))
    val scalars = dl.agg(
      (sum("dl").cast("double") / lit(nDocs.toDouble)).as("_avgdl"))
    val df_ = docTf.groupBy("token").agg(count(lit(1)).as("df"))
    docTf.join(df_, Seq("token")).join(dl, Seq("doc"))
      .crossJoin(broadcast(scalars))
      .select(col("token"), col("doc"), col("tf"), col("df"), col("dl"),
        lit(nDocs.toDouble).as("_n"), col("_avgdl"))
  }

  /** The BM25 per-(query-term, doc) contribution as a pure column
    * expression over [[bm25Index]] columns — the scoring tree for
    * every index-fed path (streaming, reloaded-catalog). It evaluates
    * the same IEEE tree as [[bm25Rankings]]'s inline form (which reads
    * N from a driver literal instead of the `_n` column): StreamSpec
    * and the RetrievalSpec catalog round-trip assert bit-parity with
    * the batch scorer. */
  private[graft] def bm25Contrib(k1: Double, b: Double): Column =
    log(lit(1.0) + (col("_n") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))) *
      (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") /
          col("_avgdl")))

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    * of K retriever rankings — the standard hybrid-retrieval combiner
    * (lexical + dense, or an ensemble of parameterizations):
    *
    *   score(q, d) = Σ_k 1 / (c + rank_k(q, d))
    *
    * summed over the rankings that retrieved (q, d) at all; documents
    * a retriever missed simply contribute nothing for it. Output
    * (query, doc, score, rank), top-k per query.
    *
    * Scale shape: one unionByName of the (already top-k-bounded)
    * rankings, ONE map-side-combined groupBy(query, doc), then the
    * two-phase exact top-k kernel — input is K·depth rows per query,
    * never corpus-sized.
    *
    * Determinism: fused scores round to 6 dp BEFORE ranking, ties
    * break by ascending doc id. With two rankings the sum is a single
    * commutative IEEE add (bit-exact for any aggregation order); at
    * K ≥ 3 the round-6 contract absorbs ordering ulps. */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, docCol: String,
              rankCol: String, c: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(c >= 0, s"c must be >= 0, got $c")
    require(k >= 1, s"k must be >= 1, got $k")
    val uni = rankings.map(df => df.select(col(queryCol).as("query"),
        col(docCol).as("doc"), col(rankCol).cast("double").as("_rk")))
      .reduce(_ unionByName _)
    val fused = uni.groupBy("query", "doc")
      .agg(round(sum(lit(1.0) / (lit(c.toDouble) + col("_rk"))), 6)
        .as("score"))
    graft.rel.Sampling.topKPerGroup(fused, Seq("query"),
        Seq(col("score").desc, col("doc").asc), k, rankName = "rank")
      .select("query", "doc", "score", "rank")
  }

  /** Exact phrase search by positional-postings intersection — the
    * inverted-index plan every search engine runs for quoted queries,
    * and the lookup BM25 (bag-of-words) cannot express. Used in
    * pipeline work for benchmark decontamination by EXACT phrase
    * (e.g. "which question strings appear verbatim in the corpus?")
    * where n-gram-overlap decontam (Decontaminate.scala) is the fuzzy
    * sibling.
    *
    * Plan: ONE corpus pass builds positional postings
    * (doc, pos, token) under the [[TextFns.cleanText]] normalization;
    * the phrase list tokenizes driver-side into (phrase, offset,
    * term) rows that BROADCAST-join the postings on term. A posting
    * matching term `t` at phrase offset `o` votes for a match
    * starting at `pos − o`; a start position collecting exactly
    * `len(phrase)` votes is a full occurrence (each offset can vote
    * at most once per (doc, start) because postings are unique by
    * (doc, pos)). Join volume is Σ_term df_positional(term) — bounded
    * by the postings of the phrase's own terms, never corpus ×
    * phrases.
    *
    * Output: (phrase, doc, n_occurrences), one row per document that
    * contains the phrase at least once, phrase echoed in its
    * normalized form. Single-token phrases are allowed (they
    * degenerate to a postings count). Blank phrases are rejected.
    */
  def phraseSearch(docs: DataFrame, docId: String, textCol: String,
                   phrases: Seq[String]): DataFrame = {
    val normed = phrases.map(p => p.toLowerCase
        .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim)
      .filter(_.nonEmpty).distinct
    require(normed.nonEmpty, "phraseSearch needs at least one non-blank phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = normed.flatMap { p =>
      p.split(" ").zipWithIndex.map { case (t, o) => (p, o, t, p.split(" ").length) }
    }.toDF("phrase", "_off", "token", "_plen")
    val postings = docs.select(col(docId).as("doc"),
        posexplode(TextFns.tokens(TextFns.cleanText(col(textCol))))
          .as(Seq("pos", "token")))
    postings.join(broadcast(terms), Seq("token"))
      .select(col("phrase"), col("doc"), (col("pos") - col("_off")).as("_start"),
        col("_plen"))
      .filter(col("_start") >= 0)
      .groupBy("phrase", "doc", "_start", "_plen")
      .agg(count(lit(1)).as("_votes"))
      .filter(col("_votes") === col("_plen"))
      .groupBy("phrase", "doc")
      .agg(count(lit(1)).as("n_occurrences"))
  }
}
