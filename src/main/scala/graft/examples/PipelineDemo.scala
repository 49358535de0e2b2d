package graft.examples

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Reports, Tables => T}
import graft.core.GfFrame._
import graft.clean.{Missing, Outliers}
import graft.encode.{Encoders => E}
import graft.ml.Similarity
import graft.rel.{Joins, Sampling}
import graft.stats.{Descriptive, Inferential}
import graft.text.{Dedup, Quality}
import graft.ts.Windows

/** End-to-end tour of the engine on the driver testdata — the workflow
  * a reference (gofast) user runs daily, re-expressed on Spark. Run:
  * `sbt 'runMain graft.examples.PipelineDemo [sfDir]'`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    // 1. audit the raw data (audit_data + report objects)
    val orders = T.orders(spark, sfDir)
    println(Reports.audit(orders).render)

    // 2. clean + fluent chain: filter, dedup, clip, aggregate
    val revenue = T.lineitem(spark, sfDir).graft
      .filterExpr("l_quantity > 5")
      .smartGroup(Seq("l_returnflag"),
        Seq(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"), count(lit(1)).as("n")),
        sortBy = Seq(col("l_returnflag")))
      .result
    println("\nrevenue by returnflag:")
    revenue.show()

    // 3. enrich: broadcast dim join + encodings + window features
    val enriched = Joins.mergeDatasets(
      Seq(orders,
        T.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey")),
      on = Seq("o_custkey"), broadcastSmall = Set(1))
    val features = E.frequencyEncode(enriched, "o_orderpriority", "pri_freq")
    println(s"enriched columns: ${features.columns.length}")

    // 4. stats: hypothesis test + descriptive moments
    println("\nWelch t (AUTOMOBILE vs BUILDING acctbal):")
    Inferential.tTestWelch(T.customer(spark, sfDir), "c_acctbal",
      "c_mktsegment", "AUTOMOBILE", "BUILDING").show()

    // 5. documents: quality scores, language ID, near-dup candidates
    val docs = T.documents(spark, sfDir)
    val quality = Quality.qualityScores(docs, "text")
    println("docs failing a length/stopword filter: " +
      quality.filter(col("n_tokens") < 20 || col("stopword_ratio") < 0.02).count())
    val nearDups = Dedup.minhashPairs(
      docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))),
      "doc_id", "text", threshold = 0.5)
    println("near-duplicate candidate pairs: " + nearDups.count())
    // pairs -> duplicate clusters -> keep one canonical doc per cluster
    val clusters = Dedup.connectedComponents(nearDups)
    println("duplicate clusters: " +
      clusters.select("comp").distinct().count() +
      " (keep = min doc_id per cluster)")
    // repetition quality gate (Gopher-style) on the same corpus
    val rep = Quality.repetitionStats(docs, "doc_id", "text")
    println("docs with >40% duplicated token mass: " +
      rep.filter(col("dup_token_ratio") > 0.4).count())

    // 5c. corpus prep end-to-end: redact -> decontaminate (k-gram AND
    // short-eval containment) -> global token-budget mix
    // eval carries the same column name the train side is checked on
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id") + 90000 as "doc_id",
        array_join(slice(split(trim(col("text")), "\\s+"), 3, 3), " ")
          as "text_redacted")
    // rule-based quality gate first (Gopher table; synthetic corpus
    // carries one stopword, so the floor is 1)
    val gated = graft.text.Quality.gopherRules(docs, "doc_id", "text",
        minWords = 10, minStopHits = 1)
      .filter(col("kept")).select("doc_id").join(docs, "doc_id")
    val mixed = gated.graft
      .redactPii("text")
      .dropContaminated(evalSet, "doc_id", "text_redacted", k = 5,
        threshold = 0.6)
      .result
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("score", (col("n_chars") % 97).cast("double") / 97.0)
      .graft
      .selectByTokenBudgetGlobal("doc_id", "source", "score", "n_tokens",
        totalBudget = 2000L,
        weights = Map("src0" -> 0.5, "src1" -> 0.5))
      .result
    println("docs surviving redact -> decontam -> global mix: " + mixed.count())

    // 5c2. corpus restructuring: cut corpus-repeated 3-gram spans
    // (Lee-et-al exact-substring dedup), then window what survives
    // into overlapping 32-token chunks ready for tokenization
    val restructured = docs.graft
      .maskDuplicateSpans("doc_id", "text", k = 3, minOccur = 2)
      .result
      .filter(col("n_kept") > 0)
      .withColumnRenamed("text_deduped", "text")
      .graft
      .chunkByTokens("doc_id", "text", chunkTokens = 32, overlapTokens = 8)
      .result
    println("span-dedup survivors -> training chunks: " +
      restructured.count())

    // 5c3. the round-12 curation close: NFC-normalize (so composed vs
    // decomposed text can't evade the hash), score under a trigram
    // Stupid Backoff LM of the corpus itself, rank best-first and cut
    // at a token budget with the two-level-prefix-sum selection, then
    // pack survivors into ~2k-token output shards in a seeded order
    graft.functions.NativeFunctions.register(spark)
    val normed = docs.withColumn("text",
      call_function("unicode_norm", col("text"), lit("NFC")))
    val sbScored = graft.text.LangModel.scoreByStupidBackoff(
        normed, normed, "doc_id", "text")
      .select(col("doc").as("doc_id"), col("n_trigrams"), col("ppl"))
      .withColumn("src", lit("web")).withColumn("neg_ppl", -col("ppl"))
    val curated = graft.text.Quality.selectByTokenBudgetBucketed(
      sbScored, "doc_id", "src", "neg_ppl", "n_trigrams",
      budgetPerSource = 4000L, bucketExpr = floor(col("ppl") * 10))
    val sharded = graft.text.Shards.packShards(
      graft.text.Shards.shuffleOrder(curated, "doc_id", seed = 7L),
      "doc_id", "n_trigrams", shardTokens = 2000L,
      bucketExpr = floor(col("doc_id") / 1000L))
    println("curated docs -> output shards: " + sharded.count() + " docs, " +
      (sharded.agg(max(col("shard"))).head.getLong(0) + 1) + " shards")

    // 5c4. the round-12 gate-and-audit close: C4 blocklist removal
    // (auto-switches to the Aho-Corasick automaton on big lists),
    // winnowing screen against a licence-text reference set (local
    // guarantee: any shared >= 11-char normalized run is caught),
    // and the corpus dashboard (Zipf slope + Heaps beta + JS drift
    // between the kept and dropped halves)
    val blocked = docs.graft
      .dropBlocklisted("text", terms = Seq("dup", "stream"),
        phrases = Seq("batch batch"))
      .result
    val licenceRef = docs.filter(col("doc_id") % 101 === 0)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    val flaggedOverlap = graft.text.Winnow.crossPairs(
      blocked, licenceRef, "doc_id", "text", k = 8, w = 4, minShared = 10)
    println("blocklist survivors: " + blocked.count() +
      "; licence-overlap flags: " + flaggedOverlap.count())
    val zipf = blocked.graft.zipfFit("text").result.head()
    val heaps = blocked.graft.heapsFit("doc_id", "text").result.head()
    val drift = graft.text.CorpusStats.corpusDivergence(
      blocked, docs, "text", "text").head()
    println(f"corpus dashboard: zipf slope ${zipf.getDouble(2)}%.3f, " +
      f"heaps beta ${heaps.getDouble(1)}%.3f, " +
      f"JS(kept, all) ${drift.getDouble(5)}%.6f")

    // 5d. synthetic data on demand (datasets.Make): a regression frame
    // is a plan, not an allocation — generated distributed, no RNG state
    val synth = graft.datasets.Make.makeRegression(spark, 1000,
      nFeatures = 4, nInformative = 2, noise = 0.2, seed = 7L)
    println("synthetic regression corr(x1, y): " +
      synth.agg(corr(col("x1"), col("y"))).head.getDouble(0))

    // 5b. activations are SQL functions on any GraftSession (codegen'd,
    // no UDF; registered by GraftSession.local)
    docs.limit(3).createOrReplaceTempView("d3")
    spark.sql(
      "SELECT doc_id, gelu(n_chars / 300.0) AS g, swish(n_chars / 300.0) AS s FROM d3")
      .show()

    // 5e. retrieval: BM25 seed-set selection + hybrid RRF fusion —
    // "find corpus documents like my curated seeds" (round 11)
    val seeds = docs.filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 5), " ")
          .as("qtext"))
    val rankings = graft.text.Retrieval.bm25Rankings(docs, seeds,
      "doc_id", "text", "qid", "qtext", Seq((1.2, 0.75), (2.0, 0.5)), k = 10)
    println("RRF-fused seed-set matches:")
    graft.text.Retrieval.rrfFuse(rankings, "query", "doc", "rank", k = 3)
      .show(6)

    // 6. embeddings: ANN search — f32 exact scan and the 4×-memory
    // int8-quantized scan side by side
    val emb = T.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1).map(_.toDouble)
    println("\ntop-5 cosine neighbors of vec 0 (f32):")
    Similarity.cosineTopK(emb, "embedding", "vec_id", q, 5).show()
    println("top-5 neighbors over int8 codes (4× smaller scan):")
    Similarity.cosineI8TopK(Similarity.quantizeI8(emb, "embedding"),
      "vec_i8", "vec_id", q, 5).show()

    // 6b. multimodal dedup (round 13): perceptual dHash over REAL
    // decoded images, banded near-dup join — re-encoded/slightly-
    // edited copies collapse where byte-level dedup can't see them
    val mediaRows = (0 until 6).map { i =>
      val base = i % 3 // 3 distinct images, each with a near-copy
      (i.toLong, graft.mm.Multimodal.encodeBmp(16, 16, (x, y) =>
        (((x * 31 + y * 17 + base * 97) * 2654435761L >>> 13) & 0xff).toInt +
          (if (i >= 3 && x == 5 && y == 4) 90 else 0) & 0xff),
        "bmp", 16, 16, 0L)
    }
    val media = graft.mm.Multimodal.toMediaFrame(spark, mediaRows)
    println("\nimage near-duplicates (dHash bands, hamming <= 3):")
    graft.mm.Multimodal.imageNearDups(
      graft.mm.Multimodal.imageDHash(media)).show()

    // 6c. event analytics, batch AND streaming (round 13): the same
    // funnel semantics as an incremental per-user state deploy
    val funnelBatch = graft.ts.EventAnalytics.funnel(
      T.events(spark, sfDir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
    println("conversion funnel (batch — the streaming deploy " +
      "funnelStream lands on the same counts):")
    funnelBatch.show()

    // 7. orchestrate the whole flow as a named step DAG with a
    // conditional branch and retries (mlops PipelineManager semantics)
    val dag = new graft.pipeline.StepDag(Seq(
      graft.pipeline.Step("load", identity),
      graft.pipeline.Step("sample", df => df.sample(0.5, 42L)), // fallback
      graft.pipeline.Step("full_or_sample", identity,
        dependsOn = Seq("load"),
        condition = Some(_.count() < 1000000L), // small -> keep full
        fallback = Some("sample")),
      graft.pipeline.Step("aggregate",
        df => df.groupBy("o_orderpriority").count(),
        dependsOn = Seq("full_or_sample"), maxRetries = 2)))
    val report = dag.run(orders)
    println("\nstep DAG: " + report.states
      .map { case (n, s) => s"$n=${s.status}" }.mkString(", "))
    report.output.foreach(_.show(3))

    spark.stop()
  }
}
