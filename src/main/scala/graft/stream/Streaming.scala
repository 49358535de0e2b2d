package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.LongAccumulator
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming pipeline (SURVEY §2.12).
  *
  * The reference's only streaming surface is a Kafka micro-batch loop
  * (`StreamingInference`, gofast/mlops/inference.py:403): poll batch →
  * preprocess → model → postprocess → produce, with retry/backoff and a
  * claimed exactly-once. Here the same pipeline is declarative:
  * readStream → transform → writeStream with checkpointing (real
  * exactly-once to idempotent/transactional sinks), plus the event-time
  * semantics the reference lacks entirely: watermarks, tumbling/
  * sliding/session windows, and streaming dedup.
  */
object Streaming {

  /** Source option contract for the Kafka binding — pure, asserted by
    * StreamSpec without a broker. */
  def kafkaSourceOptions(bootstrap: String, topic: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap, "subscribe" -> topic)

  /** Sink option contract for the Kafka binding. */
  def kafkaSinkOptions(bootstrap: String, resultTopic: String,
                       checkpoint: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap, "topic" -> resultTopic,
      "checkpointLocation" -> checkpoint)

  /** Micro-batch pipeline kernel: source stream → transform → sink with
    * a processing-time trigger. Everything the engine owns (transform
    * plan, trigger cadence, sink options) lives here, exercised
    * end-to-end in StreamSpec over MemoryStream + memory sink; the
    * Kafka entry points below only bind source/sink formats. */
  def microBatch(source: DataFrame, sinkFormat: String,
                 sinkOptions: Map[String, String], batchInterval: String,
                 queryName: Option[String] = None)(
                 transform: DataFrame => DataFrame): StreamingQuery = {
    val w = transform(source)
      .writeStream.format(sinkFormat)
      .options(sinkOptions)
      .trigger(Trigger.ProcessingTime(batchInterval))
    queryName.fold(w)(w.queryName).start()
  }

  /** Kafka micro-batch pipeline — the `StreamingInference` shape.
    * (The Kafka connector itself isn't on this container's classpath;
    * the [[microBatch]] kernel and the option contracts above are the
    * tested surface, per COVERAGE.md.) */
  def kafkaPipeline(spark: SparkSession, bootstrap: String, topic: String,
                    resultTopic: String, checkpoint: String,
                    batchInterval: String = "10 seconds")(
                    transform: DataFrame => DataFrame): StreamingQuery = {
    val in = spark.readStream.format("kafka")
      .options(kafkaSourceOptions(bootstrap, topic))
      .load()
    microBatch(in, "kafka",
      kafkaSinkOptions(bootstrap, resultTopic, checkpoint),
      batchInterval)(transform)
  }

  /** Tumbling/sliding event-time counts with a watermark: late rows
    * beyond `watermark` are dropped, state is bounded. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     window: String, slide: Option[String] = None): DataFrame = {
    val w = slide.map(s => org.apache.spark.sql.functions.window(col(tsCol), window, s))
      .getOrElse(org.apache.spark.sql.functions.window(col(tsCol), window))
    events.withWatermark(tsCol, watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"))
  }

  /** Session windows (gap-based) per user — new design, absent in the
    * reference (SURVEY §2.12). */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
                    gap: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("sess"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("sess.start").as("sess_start"), col("sess.end").as("sess_end"),
        col("user_id"), col("n"))

  /** Streaming dedup on a key within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
                           keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming decontamination: ids of arriving docs that share ANY
    * k-gram with a static eval corpus. Shingles come from the
    * array-HOF constructor ([[graft.text.Dedup.shingles]]) — the
    * batch kernel's lead() windows are unsupported on streams — then
    * explode → semi-join the static distinct k-gram set (broadcast by
    * AQE when small) → per-id dedup within the watermark. Append-mode
    * compatible: no aggregation state beyond the dedup horizon. */
  def contaminatedIds(docs: DataFrame, eval: DataFrame,
                      idCol: String, textCol: String, tsCol: String,
                      watermark: String, k: Int = 8): DataFrame = {
    val evalShingles = graft.text.Dedup
      .shinglesExploded(eval, idCol, textCol, k)
      .select(col("_sh")).distinct()
    docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(graft.text.Dedup.shingles(col(textCol), k)).as("_sh"))
      .join(evalShingles, Seq("_sh"), "left_semi")
      .select(idCol, tsCol)
      .dropDuplicatesWithinWatermark(idCol)
  }

  /** Streaming quality scoring: arriving documents scored under a
    * STATIC pre-trained unigram model
    * ([[graft.text.LangModel.unigramVocab]]) — the deploy shape of a
    * perplexity filter: train once on the curated corpus, score the
    * crawl as it arrives. The corpus totals collapse to two fitted
    * scalars at stream SETUP (one tiny action on the static vocab —
    * the accepted fitted-model pattern), the per-token log-prob
    * lookup is a stream-static equi-join (broadcast by AQE for small
    * vocabs), and the per-document mean aggregates under an
    * event-time window + watermark, so append mode emits each
    * document's score exactly once when its window closes. Documents
    * with zero tokens produce no score row (a stream cannot left-join
    * its own absent aggregate).
    *
    * Output: (idCol, n_tokens, n_oov, mean_logprob, ppl) per
    * (window, document) — the same round-6 contract as the batch
    * scorer, which `StreamSpec` asserts it matches. */
  def scoredDocs(docs: DataFrame, vocab: DataFrame,
                 idCol: String, textCol: String, tsCol: String,
                 watermark: String, windowDur: String,
                 alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val r = vocab.agg(sum("tf").cast("double"),
      count(lit(1)).cast("double")).head()
    val denom = r.getDouble(0) + alpha * (r.getDouble(1) + 1.0)
    val oovLogp = math.log(alpha / denom)
    val lp = vocab.select(col("token"), col("logp").as("_lp"))
    docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(graft.text.TextFns.tokens(lower(col(textCol))))
          .as("token"))
      .join(lp, Seq("token"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_lp").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(coalesce(col("_lp"), lit(oovLogp))) /
          count(lit(1)).cast("double"), 6).as("mean_logprob"))
      .withColumn("ppl", round(exp(-col("mean_logprob")), 6))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        col("mean_logprob"), col("ppl"))
  }

  /** Streaming Kneser–Ney perplexity scoring: arriving documents
    * scored under a KN bigram model FITTED ONCE on a static reference
    * corpus ([[graft.text.LangModel.fitKneserNey]]) — the deploy face
    * of `scoreByKneserNey`, completing the streamed LM ladder next to
    * [[scoredDocs]] (unigram). Three stateless stream-static
    * equi-joins (bigram / context / continuation tables; AQE
    * broadcasts small models), the two type totals ride as fit-time
    * literals, and per-(window, doc) means aggregate under the
    * event-time watermark so append mode emits each document's score
    * exactly once when its window closes. Occurrence-level sum instead
    * of the batch scorer's (doc, w₁, w₂, tf) pre-aggregation — the
    * same mean by construction; round-6 absorbs the order difference
    * (the batch-parity contract StreamSpec asserts). */
  def knScoredDocs(docs: DataFrame, model: graft.text.LangModel.KnModel,
                   idCol: String, textCol: String, tsCol: String,
                   watermark: String, windowDur: String): DataFrame = {
    val d = model.discount
    val alpha = model.alpha
    val pc = (coalesce(col("_n1b"), lit(0L)).cast("double") +
        lit(alpha)) /
      (lit(model.nBigramTypes) + lit(alpha) * (lit(model.vSucc) + lit(1.0)))
    val c1 = col("_c1").cast("double")
    val p = when(col("_c1").isNotNull,
        greatest(coalesce(col("_c12"), lit(0L)).cast("double") -
          lit(d), lit(0.0)) / c1 +
          lit(d) * col("_n1f").cast("double") / c1 * pc)
      .otherwise(pc)
    docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        graft.text.TextFns.tokens(lower(col(textCol))).as("_toks"))
      .select(col(idCol), col(tsCol),
        explode(graft.text.LangModel.bigramsOf(col("_toks"))).as("_bg"))
      .select(col(idCol), col(tsCol),
        col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.ctx, Seq("w1"), "left")
      .join(model.pred, Seq("w2"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_c12").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(log(p)) / count(lit(1)).cast("double"), 6)
          .as("mean_logprob"))
      .withColumn("ppl", round(exp(-col("mean_logprob")), 6))
      .select(col(idCol), col("n_bigrams"), col("n_oov"),
        col("mean_logprob"), col("ppl"))
  }

  /** Streaming order-3 Kneser–Ney scoring: arriving documents scored
    * under the trigram KN model FITTED ONCE on a static reference
    * corpus ([[graft.text.LangModel.fitKneserNey3]]) — the deploy
    * face of `scoreByKneserNey3`. Five stateless stream-static
    * equi-joins, totals as fit-time literals, watermark + windowed
    * append; occurrence-level sum, round-6 batch parity asserted in
    * StreamSpec (the knScoredDocs conventions one order up). */
  def kn3ScoredDocs(docs: DataFrame, model: graft.text.LangModel.Kn3Model,
                    idCol: String, textCol: String, tsCol: String,
                    watermark: String, windowDur: String): DataFrame = {
    val d = model.discount
    val alpha = model.alpha
    val p1 = (coalesce(col("_n1b3"), lit(0L)).cast("double") + lit(alpha)) /
      (lit(model.nBigramContTypes) + lit(alpha) * (lit(model.vSucc) + lit(1.0)))
    val nmid = col("_nmid").cast("double")
    val p2 = when(col("_nmid").isNotNull,
        greatest(coalesce(col("_n1b23"), lit(0L)).cast("double") -
          lit(d), lit(0.0)) / nmid +
          lit(d) * col("_n1f2").cast("double") / nmid * p1)
      .otherwise(p1)
    val c12d = col("_c12d").cast("double")
    val p3 = when(col("_c12d").isNotNull,
        greatest(coalesce(col("_c123"), lit(0L)).cast("double") -
          lit(d), lit(0.0)) / c12d +
          lit(d) * col("_n1f12").cast("double") / c12d * p2)
      .otherwise(p2)
    docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        graft.text.TextFns.tokens(lower(col(textCol))).as("_toks"))
      .select(col(idCol), col(tsCol),
        explode(graft.text.LangModel.trigramsOf(col("_toks"))).as("_tg"))
      .select(col(idCol), col(tsCol), col("_tg.w1").as("w1"),
        col("_tg.w2").as("w2"), col("_tg.w3").as("w3"))
      .join(model.tri, Seq("w1", "w2", "w3"), "left")
      .join(model.ctx12, Seq("w1", "w2"), "left")
      .join(model.bgCont, Seq("w2", "w3"), "left")
      .join(model.ctx2, Seq("w2"), "left")
      .join(model.uniCont, Seq("w3"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("_c123").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(log(p3)) / count(lit(1)).cast("double"), 6)
          .as("mean_logprob"))
      .withColumn("ppl", round(exp(-col("mean_logprob")), 6))
      .select(col(idCol), col("n_trigrams"), col("n_oov"),
        col("mean_logprob"), col("ppl"))
  }

  /** Streaming Stupid Backoff perplexity scoring: arriving documents
    * scored under a trigram SB model FITTED ONCE on a static reference
    * corpus ([[graft.text.LangModel.fitStupidBackoff]]) — the deploy
    * face of `scoreByStupidBackoff`, topping out the streamed LM
    * ladder next to [[scoredDocs]] (unigram) and [[knScoredDocs]]
    * (KN bigram). Five stateless stream-static equi-joins (trigram,
    * both backoff bigram slots, both unigram slots; AQE broadcasts
    * small models), the token totals ride as fit-time literals, and
    * per-(window, doc) means aggregate under the event-time watermark
    * so append mode emits each document's score exactly once when its
    * window closes. Occurrence-level sum instead of the batch
    * scorer's (doc, w₁, w₂, w₃, tf) pre-aggregation — the same mean
    * by construction; round-6 absorbs the order difference (the
    * batch-parity contract StreamSpec asserts). */
  def sbScoredDocs(docs: DataFrame, model: graft.text.LangModel.SbModel,
                   idCol: String, textCol: String, tsCol: String,
                   watermark: String, windowDur: String): DataFrame = {
    val lambda = model.lambda
    val alpha = model.alpha
    val sUni = (coalesce(col("_c3"), lit(0L)).cast("double") +
        lit(alpha)) /
      (lit(model.nTokens) + lit(alpha) * (lit(model.vocab) + lit(1.0)))
    val sBi = when(col("_c23").isNotNull,
        col("_c23").cast("double") / col("_c2").cast("double"))
      .otherwise(lit(lambda) * sUni)
    val sTri = when(col("_c123").isNotNull,
        col("_c123").cast("double") / col("_c12").cast("double"))
      .otherwise(lit(lambda) * sBi)
    docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        graft.text.TextFns.tokens(lower(col(textCol))).as("_toks"))
      .select(col(idCol), col(tsCol),
        explode(graft.text.LangModel.trigramsOf(col("_toks"))).as("_tg"))
      .select(col(idCol), col(tsCol), col("_tg.w1").as("w1"),
        col("_tg.w2").as("w2"), col("_tg.w3").as("w3"))
      .join(model.tri, Seq("w1", "w2", "w3"), "left")
      .join(model.bi.select(col("w1"), col("w2"), col("_cb").as("_c12")),
        Seq("w1", "w2"), "left")
      .join(model.bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("_cb").as("_c23")), Seq("w2", "w3"), "left")
      .join(model.uni.select(col("w").as("w2"), col("_cu").as("_c2")),
        Seq("w2"), "left")
      .join(model.uni.select(col("w").as("w3"), col("_cu").as("_c3")),
        Seq("w3"), "left")
      .groupBy(window(col(tsCol), windowDur), col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("_c123").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(log(sTri)) / count(lit(1)).cast("double"), 6)
          .as("mean_logprob"))
      .withColumn("ppl", round(exp(-col("mean_logprob")), 6))
      .select(col(idCol), col("n_trigrams"), col("n_oov"),
        col("mean_logprob"), col("ppl"))
  }

  /** Streaming BM25 scoring: a QUERY stream scored against the FITTED
    * index of a static corpus ([[graft.text.Retrieval.bm25Index]]) —
    * the retrieval dual of [[scoredDocs]]: fit the postings once on
    * the curated corpus, score queries as they arrive (the alerting /
    * "which seed documents does this incoming query hit" shape).
    *
    * The stream side explodes each query row's DISTINCT terms (per
    * ROW — a stream cannot dedup terms across rows without state, so
    * the streaming contract is one row per query), stream-static
    * equi-joins the postings on token (AQE broadcasts small indexes),
    * and sums per-(window, query, doc) contributions under an
    * event-time watermark, so append mode emits each query's scores
    * exactly once when its window closes. Ranking stays a
    * batch/consumer concern: the stream emits SCORES; a top-k over a
    * closed window is one ordinary window function downstream.
    *
    * Output: (query, doc, score, window_start) per closed window,
    * score round-6 — the same contribution expression as the batch
    * scorer ([[graft.text.Retrieval.bm25Contrib]]), which StreamSpec
    * asserts it matches bit-for-bit. `window_start` identifies WHICH
    * window a score belongs to: a query id that recurs in a later
    * window emits a second row that would otherwise be
    * indistinguishable from the first. */
  def bm25StreamScores(queries: DataFrame, index: DataFrame,
                       queryId: String, queryText: String, tsCol: String,
                       watermark: String, windowDur: String,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"need k1 >= 0 and 0 <= b <= 1, got k1=$k1 b=$b")
    // ArrayType query column = caller-tokenized term list, used as-is
    // (the bm25Rankings contract — a joined-string round-trip can drop
    // tokens the caller's slice kept)
    val qTok = queries.schema(queryText).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => col(queryText)
      case _ => graft.text.TextFns.tokens(lower(col(queryText)))
    }
    queries.withWatermark(tsCol, watermark)
      .select(col(queryId).as("query"), col(tsCol),
        explode(array_distinct(qTok)).as("token"))
      .join(index, Seq("token"))
      .groupBy(window(col(tsCol), windowDur), col("query"), col("doc"))
      .agg(round(sum(graft.text.Retrieval.bm25Contrib(k1, b)), 6)
        .as("score"))
      .select(col("query"), col("doc"), col("score"),
        col("window").getField("start").as("window_start"))
  }

  /** Streaming quality-classifier deploy: score a document stream
    * against a FITTED [[graft.ml.QualityClassifier]] weights artifact
    * (reloaded from the Catalog like [[bm25StreamScores]]'s index).
    *
    * The model folds into a literal broadcast map
    * ([[graft.ml.QualityClassifier.marginExpr]]), so scoring is a
    * STATELESS projection — no state store, no watermark, append mode
    * exactly-once for free, and each micro-batch costs one codegen'd
    * pass. QualityClfSpec asserts the streamed scores match the batch
    * scorer on the round-6 contract. */
  def qualityStreamScores(docs: DataFrame, weights: DataFrame,
                          idCol: String, textCol: String,
                          numFeatures: Int,
                          portableHash: Boolean = true): DataFrame = {
    val (wmap, b0) = graft.ml.QualityClassifier.weightsMap(weights)
    val margin = graft.ml.QualityClassifier.marginExpr(
      graft.text.TextFns.tokens(lower(col(textCol))), wmap, b0, numFeatures,
      portableHash)
    docs.select(col(idCol).as("doc"), margin.as("margin"))
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6))
      .withColumn("label", (col("margin") > 0).cast("int"))
  }

  /** Streaming generation-eval deploy: score a stream of candidate
    * texts against a STATIC reference table with per-document ROUGE-N
    * and chrF — one stream-static join on the doc id plus the
    * row-local native overlap expressions
    * ([[graft.functions.NgramOverlapAll]] /
    * [[graft.functions.CharGramOverlapAll]]), so the whole metric is
    * STATELESS: no state store, no watermark, append mode trivially
    * exact. Bit-parity with the batch [[graft.text.EvalMetrics]]
    * kernels is asserted in StreamSpec (same expressions, same
    * integer sufficient statistics). Candidates without a reference
    * row score 0 everywhere (the batch convention). */
  def evalStreamScores(cands: DataFrame, refs: DataFrame,
                       idCol: String, candCol: String, refCol: String,
                       rougeMaxN: Int = 2, chrfMaxN: Int = 6,
                       chrfBeta: Double = 2.0): DataFrame = {
    graft.functions.NativeFunctions.register(refs.sparkSession)
    val empty = array().cast("array<string>")
    val c = cands.select(col(idCol).as("doc"),
      coalesce(graft.text.TextFns.tokens(lower(col(candCol))), empty)
        .as("_t"),
      coalesce(regexp_replace(lower(col(candCol)), "\\s+", ""), lit(""))
        .as("_s"))
    val r = broadcast(refs.select(col(idCol).as("doc"),
      coalesce(graft.text.TextFns.tokens(lower(col(refCol))), empty)
        .as("_rt"),
      coalesce(regexp_replace(lower(col(refCol)), "\\s+", ""), lit(""))
        .as("_rs")))
    val joined = c.join(r, Seq("doc"), "left")
      .select(col("doc"),
        call_function("ngram_overlap_all", col("_t"),
          coalesce(col("_rt"), empty), lit(rougeMaxN)).as("_ov"),
        call_function("chargram_overlap_all", col("_s"),
          coalesce(col("_rs"), lit("")), lit(chrfMaxN)).as("_cv"))
    def divL(a: Column, b: Column): Column = call_function("div", a, b)
    def micro(m: Column, d: Column): Column =
      when(d > 0, divL(lit(2L) * m * lit(1000000L) + d, lit(2L) * d))
        .otherwise(lit(0L))
    def meanOf(s: Column): Column =
      divL(lit(2L) * s + lit(chrfMaxN.toLong), lit(2L * chrfMaxN))
        .cast("double") / lit(1000000.0)
    val rougeCols = (1 to rougeMaxN).map { n =>
      val m = element_at(col("_ov"), 3 * n - 2)
      val rt = element_at(col("_ov"), 3 * n)
      when(rt > 0, round(m.cast("double") / rt.cast("double"), 6))
        .otherwise(lit(0.0)).as(s"rouge_$n")
    }
    val sp = (1 to chrfMaxN).map(n => micro(element_at(col("_cv"), 3 * n - 2),
      element_at(col("_cv"), 3 * n - 1))).reduce(_ + _)
    val sr = (1 to chrfMaxN).map(n => micro(element_at(col("_cv"), 3 * n - 2),
      element_at(col("_cv"), 3 * n))).reduce(_ + _)
    joined.select((col("doc") +: rougeCols) :+
        meanOf(sp).as("chrf_p") :+ meanOf(sr).as("chrf_r"): _*)
      .withColumn("chrf", {
        // β parameterized exactly as the batch kernel (EvalMetrics
        // .chrF): coefficients β² and 1+β², default β=2 — a deploy
        // needing batch/stream parity at β≠2 sets one argument
        val b2 = chrfBeta * chrfBeta
        when(lit(b2) * col("chrf_p") + col("chrf_r") > 0.0,
          round(lit(1.0 + b2) * col("chrf_p") * col("chrf_r") /
            (lit(b2) * col("chrf_p") + col("chrf_r")), 6))
          .otherwise(lit(0.0))
      })
  }

  /** Streaming blocklist deploy: the C4 bad-words page filter over an
    * arriving document stream. Stateless per-row codegen projection —
    * no watermark, no state store, no shuffle; the blocklist rides as
    * a plan literal exactly as in batch, so batch/stream parity is
    * structural (asserted in StreamSpec anyway). */
  def blocklistCleanStream(docs: DataFrame, textCol: String,
                           terms: Seq[String],
                           phrases: Seq[String] = Nil): DataFrame =
    graft.text.Blocklist.filterClean(docs, textCol, terms, phrases)

  /** Streaming winnowing screen: arriving documents checked for
    * content overlap against a FIXED reference fingerprint table
    * (built once with [[graft.text.Winnow.fingerprints]] and
    * broadcast-joined as the static side — the contamination /
    * licence-text gate at ingest time). Emits (idCol, id_b, n_shared)
    * for stream docs sharing >= minShared fingerprints with a
    * reference doc; the stream side's fingerprints run the native
    * row-local winnow_fps kernel, so the only stream-side shuffle is
    * the (doc, ref) count aggregation. */
  def winnowScreenStream(docs: DataFrame, refFps: DataFrame,
                         idCol: String, textCol: String, tsCol: String,
                         watermark: String, windowLen: String,
                         k: Int = 5, w: Int = 4,
                         minShared: Int = 2): DataFrame = {
    val fps = call_function("winnow_fps",
      regexp_replace(graft.text.TextFns.cleanText(col(textCol)), " ", ""),
      lit(k), lit(w))
    graft.functions.NativeFunctions.register(docs.sparkSession)
    docs.withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), explode(fps).as("fp"))
      .join(org.apache.spark.sql.functions.broadcast(
          refFps.select(col(idCol).as("id_b"), col("fp"))),
        Seq("fp"))
      .groupBy(window(col(tsCol), windowLen), col(idCol), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("window.start").as("window_start"), col(idCol),
        col("id_b"), col("n_shared"))
  }

  /** foreachBatch parquet sink: idempotent per-micro-batch overwrite
    * into a Catalog table partition keyed by batch id — with
    * checkpointing this is the standard exactly-once pattern for
    * non-transactional sinks (a replayed batch overwrites its own
    * partition instead of duplicating). */
  def toCatalogSink(df: DataFrame, warehouse: String, table: String,
                    checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$warehouse/$table/batch_id=$batchId")
      }

  /** Custom keyed state: running count + exponential moving average per
    * user (the `preprocess_fn → model` per-batch state the reference
    * keeps in process memory, here fault-tolerant in the state store). */
  case class UserEvent(user_id: Long, value: Double,
                       seq: Long = 0L)
  case class UserStat(user_id: Long, n: Long, ema: Double)

  case class CusumState(user_id: Long, n: Long, cusum: Double,
                        drift: Boolean)

  /** Streaming CUSUM drift monitor: arriving per-series values scored
    * against FITTED per-series (mean, sigma) — the fit/deploy split
    * of the batch [[graft.ts.Windows.cusumFlags]], with the fitted
    * scalars broadcast as a driver map (train on curated history,
    * monitor the stream). Keyed running state via mapGroupsWithState
    * (the runningEma pattern): each micro-batch folds its rows in
    * `seq` order into the running deviation sum; emits the series'
    * latest (n, cusum, drift). Series absent from the fitted map are
    * ignored (no baseline — nothing to monitor against). */
  def cusumStream(events: Dataset[UserEvent],
                  fitted: Map[Long, (Double, Double)],
                  threshold: Double = 5.0): Dataset[CusumState] = {
    import events.sparkSession.implicits._
    events.filter(e => fitted.contains(e.user_id))
      .groupByKey(_.user_id)
      .mapGroupsWithState[CusumState, CusumState](
          GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[CusumState]) =>
          val (mean, sigma) = fitted(uid)
          val prev = state.getOption.getOrElse(
            CusumState(uid, 0L, 0.0, drift = false))
          val ordered = rows.toSeq.sortBy(e => (e.seq, e.value))
          val next = ordered.foldLeft(prev) { (st, e) =>
            val c = st.cusum + (e.value - mean)
            CusumState(uid, st.n + 1, c,
              sigma > 0 && math.abs(c) > threshold * sigma)
          }
          state.update(next)
          next
      }
  }

  /** A typed product event for the stateful per-user deploys below —
    * the `events` table's (user, event, type, time) spine. */
  case class TypedEvent(user_id: Long, event_id: Long,
                        event_type: String, ts: java.sql.Timestamp)

  /** Epoch MICROseconds — `getTime` alone is millis and would collapse
    * events 1µs apart, flipping the funnel's `>=` qualification
    * relative to the batch operator's full-precision comparison. */
  def epochMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  // -----------------------------------------------------------------
  // Out-of-order tolerance (round 14): a watermarked per-user reorder
  // buffer shared by the whole event-analytics family. The in-order
  // deploys below document a per-user in-order-arrival contract that
  // real event buses violate constantly; the `*Ooo` variants drop that
  // contract — events buffer per user until the event-time watermark
  // passes them, then fold in exact global (ts, tie) order, so a
  // SHUFFLED replay still matches the batch operator bit-for-bit on
  // all in-watermark data. Arrivals behind the watermark are dropped
  // by the ENGINE (FlatMapGroupsWithStateExec filters late rows
  // before the user function runs under EventTimeTimeout) and show up
  // in the numRowsDroppedByWatermark progress metric — read it via
  // [[droppedByWatermark]]; reconciliation is the batch operator's
  // job. The caller-supplied accumulator is defense-in-depth for any
  // row that slips past the engine filter (normally zero — both cuts
  // use the batch-start watermark).
  // -----------------------------------------------------------------

  /** Total input rows the ENGINE's stateful operators dropped as
    * late-beyond-watermark across a query's recent progress. Under
    * EventTimeTimeout, FlatMapGroupsWithStateExec filters late rows
    * BEFORE the user function runs, so this metric — not the
    * in-function slip counter — is the real late-drop count for the
    * `*Ooo` deploys. Readable after `q.stop()`.
    *
    * RETENTION CAVEAT: recentProgress keeps only the last
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100)
    * micro-batches — a replay longer than that silently undercounts.
    * Callers asserting zero drops must either stay under the window
    * or raise the conf BEFORE starting the query, as
    * [[withReplayTuning]] does for every [[replay]]. */
  def droppedByWatermark(q: StreamingQuery): Long =
    q.recentProgress.iterator
      .flatMap(_.stateOperators.iterator)
      .map(_.numRowsDroppedByWatermark).sum

  /** State partitions for a stateful replay whose expected state row
    * count is known at deploy time: enough partitions to keep per-
    * partition state near the target, never more than the cluster's
    * parallelism. Every state partition costs a fixed commit floor
    * per micro-batch (state-store provider load + delta file + commit
    * — ~0.2 s each on local disk even with checksums off), so sizing
    * partitions to the CORE COUNT when the state is small pays that
    * floor times cores for nothing: the r18 scaling artifact showed
    * the four `*_ooo` replays (1.5k state rows spread over 32
    * partitions) running FASTER at 8 cores than 32 purely because
    * state partitions tracked the core count. The rule is scale-
    * adaptive, not a constant: corpus-scale state (rows ≥ target ×
    * parallelism) still gets the full parallelism, and the target is
    * a conf (`spark.graft.stream.stateRowsPerPartition`) so a real
    * deployment can tune it to its state-store and batch-interval
    * economics. */
  def statePartitionsFor(spark: SparkSession, stateRows: Long): Int = {
    val target = spark.conf
      .getOption("spark.graft.stream.stateRowsPerPartition")
      .flatMap(_.toLongOption).filter(_ > 0L).getOrElse(4096L)
    val want = math.ceil(stateRows.max(1L).toDouble / target).toLong
    want.min(spark.sparkContext.defaultParallelism.toLong).max(1L).toInt
  }

  /** Scope a TEMP-checkpoint replay deploy's session tuning to ONE
    * query: inside `run` — which must contain the query's WHOLE
    * lifetime, `.start()` through `stop()`, because the stream's
    * cloned session picks the confs up on the query thread, i.e.
    * asynchronously after `start()` returns (restoring right after
    * `start()` measurably re-enabled checksums on the first batches) —
    * the session runs with per-file checkpoint CHECKSUMS off and,
    * when `stateRows` is given, shuffle/state partitions sized by
    * [[statePartitionsFor]]; every touched conf is restored
    * afterwards, so a DURABLE-checkpoint query started later in the
    * same session keeps the corruption guard ON (the r18 helper set
    * the conf session-globally and never restored it).
    *
    * Why checksums off: Spark 4.1 writes and await-verifies a checksum
    * file next to every state/offset/commit file to detect durable-
    * storage corruption; on a throwaway local checkpoint that guard is
    * pure fixed cost — thread dumps show every stateful task blocked
    * in ChecksumCheckpointFileManager.awaitResult (~0.4 s per state
    * partition per micro-batch). Durable deploys (kill-restart
    * recovery tests, real clusters) keep the default ON.
    *
    * The progress-retention window is raised for the duration too —
    * scoped the same way — so [[droppedByWatermark]] sums over EVERY
    * micro-batch of the replay, not just the last 100. */
  def withReplayTuning[A](spark: SparkSession, stateRows: Long = -1L)
                         (run: => A): A = {
    val ckKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val prKey = "spark.sql.streaming.numRecentProgressUpdates"
    val before = Seq(ckKey, spKey, prKey).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(ckKey, "false")
    if (stateRows >= 0L)
      spark.conf.set(spKey, statePartitionsFor(spark, stateRows).toString)
    spark.conf.set(prKey, "100000")
    try run
    finally before.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Memory-sink names must be unique per replay: a bench pass or a
    * test suite replays the same entry many times in one session. */
  private val replaySeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bounded replay of a streaming deploy — the one path every
    * registry stream entry goes through.
    *
    * `deploy` is applied to a fresh MemoryStream and started into a
    * memory sink with `outputMode`, inside [[withReplayTuning]] (with
    * `stateRows` sizing the state partitions; -1 keeps the session's
    * partition count). Each element of `chunks` is added as ONE
    * micro-batch and drained with `processAllAvailable` before the
    * next, so the chunk list IS the micro-batch layout. A watermarked
    * deploy that must release everything it buffers ends `chunks`
    * with flush sentinels (see [[shuffledReplay]]): rows far past
    * every real event that advance the watermark, which updates at
    * batch END, so the last sentinel's batch fires the timeouts.
    *
    * The query is stopped even when a batch fails. The replay then
    * `require`s that the engine dropped ZERO rows as late-beyond-
    * watermark, so an oracle match is exact, not survivorship. The
    * sink's rows come back as a DataFrame and the sink's temp view is
    * dropped: a replay leaves no view, active query or conf behind. */
  def replay[A: Encoder](spark: SparkSession, chunks: Seq[Seq[A]],
                         outputMode: String, stateRows: Long = -1L)
                        (deploy: Dataset[A] => DataFrame): DataFrame = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val in = MemoryStream[A]
    val name = s"replay_sink_${replaySeq.incrementAndGet()}"
    try {
      val dropped = withReplayTuning(spark, stateRows) {
        val q = deploy(in.toDS()).writeStream.format("memory")
          .queryName(name).outputMode(outputMode).start()
        try chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
        finally q.stop()
        droppedByWatermark(q)
      }
      require(dropped == 0L,
        s"replay dropped $dropped rows behind the watermark")
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** `xs` cut into `n` contiguous micro-batches of `xs.length / n + 1`
    * rows each (fewer batches when `xs` is short). */
  def microBatches[A](xs: Seq[A], n: Int): Seq[Seq[A]] =
    xs.grouped(xs.length / n + 1).toSeq

  /** The chunks and watermark delay of a [[shuffledReplay]]. */
  case class ShuffledReplay(chunks: Seq[Seq[TypedEvent]], delay: String)

  /** A deterministic out-of-order replay of `evs` (given in event-time
    * order) for the `*Ooo` deploys. Event i moves to sort position
    * i + `disp(e)`, so the disorder is bounded by the largest
    * displacement; `disp` is called once per event, in order. The
    * watermark `delay` is the replay's own observed max lateness plus
    * a 2 s margin, so no event is late. The shuffled events come as
    * `batches` micro-batches, then two flush batches: user_id -1 /
    * event_type "__flush__" rows, dropped by the deploys' own filters
    * after they pass the watermark node. The first moves the
    * watermark past every real event; the second fires the event-time
    * timeouts that drain every reorder buffer. */
  def shuffledReplay(evs: Array[TypedEvent], batches: Int)
                    (disp: TypedEvent => Int): ShuffledReplay = {
    // keys precomputed: sortBy re-evaluates its key per comparison
    val shuffled = evs.zipWithIndex
      .map { case (e, i) => (e, i + disp(e)) }
      .sortBy { case (e, k) => (k, e.event_id) }
      .map(_._1)
    var runMax = Long.MinValue
    var lateMax = 0L
    shuffled.foreach { e =>
      val m = epochMicros(e.ts)
      if (runMax > m) lateMax = math.max(lateMax, runMax - m)
      runMax = math.max(runMax, m)
    }
    val delayMs = lateMax / 1000L + 2000L
    val t1 = shuffled.map(_.ts.getTime).max + delayMs + 10000L
    val flush = Seq(
      Seq(TypedEvent(-1L, -1L, "__flush__", new java.sql.Timestamp(t1))),
      Seq(TypedEvent(-1L, -2L, "__flush__",
        new java.sql.Timestamp(t1 + 1000L))))
    ShuffledReplay(microBatches(shuffled.toSeq, batches) ++ flush,
      s"$delayMs milliseconds")
  }

  /** Reorder-buffer state: the held not-yet-ripe events plus the
    * wrapped operator's own state. The buffer is bounded by the
    * watermark horizon — only events within `delay` of the stream's
    * max event time can be held — never by stream length. */
  case class OooBuf[S](user_id: Long, buffer: Seq[TypedEvent], inner: Option[S])

  /** Max-merging accumulator — a gauge for the PEAK per-user reorder
    * buffer size, the honest skew metric (a sum would conflate many
    * small buffers with one hot one). Register before use. */
  final class MaxAccumulator
      extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var _v = 0L
    override def isZero: Boolean = _v == 0L
    override def copy(): MaxAccumulator = {
      val c = new MaxAccumulator; c._v = _v; c
    }
    override def reset(): Unit = _v = 0L
    override def add(v: Long): Unit = _v = math.max(_v, v)
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
      _v = math.max(_v, o.value)
    override def value: Long = _v
  }

  /** Watermarked out-of-order fold kernel. `keep` filters the typed
    * stream AFTER the watermark is attached (so flush/heartbeat rows
    * still advance it); `fold` is the operator's pure per-user kernel
    * over ripe events in exact (sortKey) order, chaining `S` across
    * invocations. Ripe = event time strictly behind the watermark —
    * equal-micros events always land on the same side of the cut, so
    * the tie rule inside one fold is the batch operator's tie rule.
    * State cleanup piggybacks on the event-time timeout: a user whose
    * buffer drains keeps only the inner state (same retention as the
    * in-order family); a user holding events re-arms a timeout at the
    * earliest held event so the buffer drains even if the user goes
    * quiet. The shuffle is the groupByKey on user only.
    *
    * SKEW GUARD: the buffer is bounded by the watermark horizon but
    * PER USER — a power-law hot user can hold millions of in-horizon
    * events in one group's state. `maxBufferPerUser` caps that held
    * set and refuses LOUDLY on overflow (the maxHamming convention: a
    * wrong-tool refusal beats a silent executor OOM) — the message
    * says which user and what to do (shorten the delay so events
    * ripen sooner, or route the hot key to the batch operator).
    * The knee was measured by the retired ScaleProbe's user-skew axis;
    * SCALE.md keeps the numbers in its historical record ("OOO reorder
    * buffer under user skew"). */
  def reorderedStream[S <: Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[TypedEvent],
      delay: String,
      keep: TypedEvent => Boolean,
      sortKey: TypedEvent => (Long, Long, Long),
      fold: (Long, Option[S], Seq[TypedEvent]) => (S, Seq[O]),
      lateCounter: Option[LongAccumulator] = None,
      maxBufferPerUser: Int = 1 << 20,
      heldGauge: Option[MaxAccumulator] = None): Dataset[O] = {
    implicit val bufEnc: Encoder[OooBuf[S]] = Encoders.product[OooBuf[S]]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    events.withWatermark("ts", delay)
      .filter(keep)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OooBuf[S], O](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[OooBuf[S]]) =>
          val st = state.getOption.getOrElse(OooBuf[S](uid, Nil, None))
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          // an arrival already behind the watermark can't be folded in
          // order. The engine normally filters these before we run
          // (see droppedByWatermark); this partition is the slip net.
          val (late, fresh) = rows.toSeq
            .partition(e => epochMicros(e.ts) < wmMicros)
          if (late.nonEmpty) lateCounter.foreach(_.add(late.size.toLong))
          val all = st.buffer ++ fresh
          val (ripe, hold) = all.partition(e => epochMicros(e.ts) < wmMicros)
          val (inner2, out) =
            if (ripe.isEmpty) (st.inner, Seq.empty[O])
            else {
              val (s2, o) = fold(uid, st.inner, ripe.sortBy(sortKey))
              (Some(s2), o)
            }
          heldGauge.foreach(_.add(hold.size.toLong))
          if (hold.size > maxBufferPerUser)
            throw new IllegalStateException(
              s"reorderedStream: user $uid holds ${hold.size} not-yet-ripe " +
                s"events > maxBufferPerUser=$maxBufferPerUser. A single key " +
                "is carrying more in-horizon volume than one group's state " +
                "should buffer — shorten the watermark delay so events " +
                "ripen sooner, raise the cap explicitly, or run the batch " +
                "operator for this key.")
          state.update(OooBuf(uid, hold, inner2))
          if (hold.nonEmpty) {
            // wake when the watermark passes the earliest held event
            // (floor-ms: wm > floor(m/1000) implies wm*1000 > m)
            val tMs = Math.floorDiv(hold.map(e => epochMicros(e.ts)).min, 1000L)
            state.setTimeoutTimestamp(math.max(tMs, wmMs + 1L))
          }
          out.iterator
      }
  }

  /** Per-user funnel state: the earliest qualifying epoch-micros per
    * step (Long.MinValue = step not reached — chained, so set-ness is
    * prefix-monotone). */
  case class FunnelTimes(user_id: Long, times: Seq[Long])

  case class FunnelUserState(user_id: Long, max_step: Int)

  /** Streaming deploy of the ordered conversion funnel
    * ([[graft.ts.EventAnalytics.funnel]]): per-user step-state via
    * mapGroupsWithState, emitting the user's deepest step reached
    * after each micro-batch (update mode; max_step is monotone
    * non-decreasing, so the latest row per user == max over rows).
    *
    * Exactness contract (the cusumStream convention): each user's
    * events must arrive in non-decreasing `ts` order ACROSS
    * micro-batches; within a batch the fold sorts by (ts, step index,
    * event_id), so equal-ts events resolve with the earlier funnel
    * step first — exactly the batch funnel's min-over-qualifying
    * semantics (an s_i and s_{i+1} event at the same instant qualify
    * in step order there too, since the comparison is `>=`). Late
    * cross-batch data would need the full per-user event history to
    * re-qualify — that's the batch operator's job, not a stream's.
    *
    * State is k longs per user — bounded by |steps|, never by event
    * volume; the shuffle is the groupByKey on user only. */
  def funnelStream(events: Dataset[TypedEvent],
                   steps: Seq[String]): Dataset[FunnelUserState] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    import events.sparkSession.implicits._
    val idx = steps.zipWithIndex.toMap
    val k = steps.size
    events.filter(e => idx.contains(e.event_type))
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelTimes, FunnelUserState](
          GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[FunnelTimes]) =>
          val ordered = rows.toSeq.sortBy(funnelKey(idx))
          val (st2, out) = funnelFold(idx, k, uid, state.getOption, ordered)
          state.update(st2)
          out
      }
  }

  /** The funnel's per-user tie rule: (ts, step index, event_id) — an
    * s_i and s_{i+1} event at the same instant qualify in step order,
    * the batch funnel's `>=` semantics. */
  private def funnelKey(idx: Map[String, Int])(e: TypedEvent): (Long, Long, Long) =
    (epochMicros(e.ts), idx(e.event_type).toLong, e.event_id)

  /** Pure per-user funnel fold over already-ordered events — shared by
    * the in-order deploy (per-batch sort) and the out-of-order deploy
    * (watermark-released ripe events). */
  private def funnelFold(idx: Map[String, Int], k: Int, uid: Long,
                         prior: Option[FunnelTimes], ordered: Seq[TypedEvent])
      : (FunnelTimes, FunnelUserState) = {
    val t = prior.map(_.times.toArray).getOrElse(Array.fill(k)(Long.MinValue))
    ordered.foreach { e =>
      val i = idx(e.event_type)
      val qualifies =
        (i == 0 || (t(i - 1) != Long.MinValue && epochMicros(e.ts) >= t(i - 1)))
      // sorted ascending: the first qualifying event IS the min
      if (qualifies && t(i) == Long.MinValue) t(i) = epochMicros(e.ts)
    }
    (FunnelTimes(uid, t.toSeq),
      FunnelUserState(uid, t.lastIndexWhere(_ != Long.MinValue) + 1))
  }

  /** Out-of-order funnel deploy: [[funnelStream]] without the in-order
    * arrival contract — [[reorderedStream]] holds each user's events
    * until the `delay` watermark passes them, then folds with the SAME
    * kernel. Emits the (monotone) deepest-step row per fold, so the
    * [[funnelStreamCounts]] collapse is unchanged. */
  def funnelStreamOoo(events: Dataset[TypedEvent], steps: Seq[String],
                      delay: String,
                      lateCounter: Option[LongAccumulator] = None)
      : Dataset[FunnelUserState] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val idx = steps.zipWithIndex.toMap
    val k = steps.size
    reorderedStream[FunnelTimes, FunnelUserState](
      events, delay,
      keep = e => idx.contains(e.event_type),
      sortKey = funnelKey(idx),
      fold = (uid, prior, ordered) => {
        val (st2, out) = funnelFold(idx, k, uid, prior, ordered)
        (st2, Seq(out))
      },
      lateCounter = lateCounter)
  }

  /** Collapse a [[funnelStream]] sink table (update-mode rows, possibly
    * several per user) to the batch funnel's (step, step_name,
    * n_users) — max over the monotone max_step per user, then k
    * one-row counts. Batch-side: runs over the sink, not the stream. */
  def funnelStreamCounts(perUser: DataFrame, steps: Seq[String]): DataFrame = {
    val latest = perUser.groupBy("user_id")
      .agg(max(col("max_step")).as("_ms"))
    steps.zipWithIndex.map { case (name, i) =>
      latest.filter(col("_ms") >= i + 1)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("step_name"),
          col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** Per-user conversion state: earliest fromStep micros (MinValue =
    * unseen) and whether the conversion delay was already emitted. */
  case class ConvState(user_id: Long, t0: Long, emitted: Boolean)

  case class Conversion(user_id: Long, dt_s: Long)

  /** Streaming deploy of the funnel's time-to-convert
    * ([[graft.ts.EventAnalytics.conversionTime]]): per-user state is
    * TWO fields — the earliest `fromStep` time and an emitted flag —
    * and each user emits exactly one (user, seconds) row the first
    * time a `toStep` event lands at-or-after it (append mode; the
    * distribution summary is the sink side's one aggregation over
    * #converted rows). Ordering contract as [[funnelStream]]; seconds
    * floor from epoch micros exactly like the batch operator's
    * `cast(long)` on timestamps. */
  def conversionTimeStream(events: Dataset[TypedEvent], fromStep: String,
                           toStep: String): Dataset[Conversion] = {
    import events.sparkSession.implicits._
    events.filter(e => e.event_type == fromStep || e.event_type == toStep)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ConvState, Conversion](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[ConvState]) =>
          val ordered = rows.toSeq.sortBy(convKey(fromStep))
          val (st2, out) = convFold(fromStep, toStep, uid, state.getOption, ordered)
          state.update(st2)
          out.iterator
      }
  }

  /** Equal-ts ties: fromStep processes first (the >= rule qualifies a
    * same-instant toStep, exactly like the batch join's e.ts >= f.t0). */
  private def convKey(fromStep: String)(e: TypedEvent): (Long, Long, Long) =
    (epochMicros(e.ts), if (e.event_type == fromStep) 0L else 1L, e.event_id)

  /** Pure per-user conversion fold over already-ordered events —
    * shared by the in-order and out-of-order deploys. */
  private def convFold(fromStep: String, toStep: String, uid: Long,
                       prior: Option[ConvState], ordered: Seq[TypedEvent])
      : (ConvState, Seq[Conversion]) = {
    var st = prior.getOrElse(ConvState(uid, Long.MinValue, emitted = false))
    val out = List.newBuilder[Conversion]
    ordered.foreach { e =>
      val m = epochMicros(e.ts)
      if (e.event_type == fromStep && st.t0 == Long.MinValue)
        st = st.copy(t0 = m)
      else if (e.event_type == toStep && !st.emitted &&
          st.t0 != Long.MinValue && m >= st.t0) {
        // batch parity: floor(epoch seconds) difference, i.e.
        // floorDiv of each micros to seconds, then subtract
        out += Conversion(uid, Math.floorDiv(m, 1000000L) -
          Math.floorDiv(st.t0, 1000000L))
        st = st.copy(emitted = true)
      }
    }
    (st, out.result())
  }

  /** Out-of-order conversion-time deploy: [[conversionTimeStream]]
    * without the in-order arrival contract (same kernel, watermarked
    * reorder buffer). */
  def conversionTimeStreamOoo(events: Dataset[TypedEvent], fromStep: String,
                              toStep: String, delay: String,
                              lateCounter: Option[LongAccumulator] = None)
      : Dataset[Conversion] =
    reorderedStream[ConvState, Conversion](
      events, delay,
      keep = e => e.event_type == fromStep || e.event_type == toStep,
      sortKey = convKey(fromStep),
      fold = (uid, prior, ordered) => convFold(fromStep, toStep, uid, prior, ordered),
      lateCounter = lateCounter)

  /** Collapse a [[conversionTimeStream]] sink (one row per converted
    * user) to the batch operator's one-row quantile summary. */
  def conversionTimeSummary(conversions: DataFrame): DataFrame =
    conversions.agg(count(lit(1)).as("n_converted"),
      min("dt_s").as("min_s"),
      round(expr("percentile(dt_s, 0.25)"), 6).as("p25_s"),
      round(expr("percentile(dt_s, 0.5)"), 6).as("median_s"),
      round(expr("percentile(dt_s, 0.75)"), 6).as("p75_s"),
      max("dt_s").as("max_s"),
      round(sum("dt_s").cast("double") / count(lit(1)).cast("double"), 6)
        .as("mean_s"))

  /** Per-user cohort state: the first-seen period (epoch day of its
    * Monday/day start) and the offsets already emitted. The offsets
    * list is bounded by the DISTINCT periods the user was active in —
    * timeline-bounded, never event-volume-bounded. */
  case class CohortState(user_id: Long, cohort_day: Long,
                         seen_offsets: Seq[Long])

  case class CohortHit(user_id: Long, cohort_day: Long, period_offset: Long)

  /** Streaming deploy of cohort retention
    * ([[graft.ts.EventAnalytics.cohortRetention]]), day|week periods:
    * each user emits exactly one (cohort, offset) row the first time
    * they are active in a period (append mode); the sink side's one
    * groupBy count is the batch operator's (cohort, period_offset,
    * n_users). Period truncation replays Spark's UTC
    * `date_trunc(period, ts)` (weeks start Monday, the ISO rule both
    * engines share); offsets are exact integer day counts / period
    * length. Ordering contract as [[funnelStream]] — in-order arrival
    * makes the first-seen period the min period, matching the batch
    * cohort assignment. (`month` needs months_between and stays a
    * batch-only period.) */
  def cohortRetentionStream(events: Dataset[TypedEvent],
                            period: String = "week"): Dataset[CohortHit] = {
    require(Set("week", "day").contains(period),
      s"stream period must be week|day, got $period")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CohortState, CohortHit](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[CohortState]) =>
          val ordered = rows.toSeq.sortBy(tsIdKey)
          if (ordered.isEmpty) Iterator.empty
          else {
            val (st2, out) = cohortFold(period, uid, state.getOption, ordered)
            state.update(st2)
            out.iterator
          }
      }
  }

  /** Ties by (ts, event_id) — the family's default total order. */
  private def tsIdKey(e: TypedEvent): (Long, Long, Long) =
    (epochMicros(e.ts), e.event_id, 0L)

  /** Replays Spark's UTC `date_trunc(period, ts)` in epoch days
    * (weeks start Monday, the ISO rule both engines share). */
  private def cohortPeriodDay(period: String, micros: Long): Long = {
    val day = Math.floorDiv(micros, 86400000000L) // UTC epoch day
    if (period == "day") day
    else day - Math.floorMod(day + 3L, 7L) // Monday: epoch day 0 is a Thursday
  }

  /** Pure per-user cohort fold over already-ordered NONEMPTY events —
    * shared by the in-order and out-of-order deploys. The first folded
    * event fixes the cohort, so order-correct delivery (in-order
    * contract or watermark release) makes it the min-ts event. */
  private def cohortFold(period: String, uid: Long,
                         prior: Option[CohortState], ordered: Seq[TypedEvent])
      : (CohortState, Seq[CohortHit]) = {
    val perLen = if (period == "week") 7L else 1L
    val st = prior.getOrElse(
      CohortState(uid, cohortPeriodDay(period, epochMicros(ordered.head.ts)), Nil))
    val seen = scala.collection.mutable.LinkedHashSet[Long](st.seen_offsets: _*)
    val out = List.newBuilder[CohortHit]
    ordered.foreach { e =>
      val off = (cohortPeriodDay(period, epochMicros(e.ts)) - st.cohort_day) / perLen
      if (!seen.contains(off)) {
        seen += off
        out += CohortHit(uid, st.cohort_day, off)
      }
    }
    (st.copy(seen_offsets = seen.toSeq), out.result())
  }

  /** Out-of-order cohort-retention deploy: [[cohortRetentionStream]]
    * without the in-order arrival contract (same kernel, watermarked
    * reorder buffer — the watermark release guarantees the first
    * folded event IS the user's min-ts event, fixing the cohort
    * exactly as the batch operator's MIN(period)). */
  def cohortRetentionStreamOoo(events: Dataset[TypedEvent],
                               period: String, delay: String,
                               lateCounter: Option[LongAccumulator] = None)
      : Dataset[CohortHit] = {
    require(Set("week", "day").contains(period),
      s"stream period must be week|day, got $period")
    reorderedStream[CohortState, CohortHit](
      events, delay,
      keep = _ => true,
      sortKey = tsIdKey,
      fold = (uid, prior, ordered) => cohortFold(period, uid, prior, ordered),
      lateCounter = lateCounter)
  }

  /** Collapse a [[cohortRetentionStream]] sink (one row per (user,
    * period) activity) to the batch operator's (cohort,
    * period_offset, n_users). */
  def cohortRetentionCounts(hits: DataFrame): DataFrame =
    hits.select(expr("date_from_unix_date(cast(cohort_day as int))")
        .as("cohort"), col("period_offset"))
      .groupBy("cohort", "period_offset")
      .agg(count(lit(1)).as("n_users"))

  /** Per-user last-event state for [[transitionsStream]]. */
  case class LastEvent(user_id: Long, ts_ms: Long, event_id: Long,
                       event_type: String)

  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming deploy of the first-order event-type transition matrix
    * ([[graft.ts.EventAnalytics.eventTransitions]]): per-user
    * last-event state via flatMapGroupsWithState (append mode),
    * emitting one (from, to) pair per consecutive event — the stored
    * last event chains across micro-batches, so batch boundaries
    * never drop a transition. Same ordering contract as
    * [[funnelStream]]: per-user in-order arrival across batches;
    * within a batch the fold sorts by (ts, event_id), the batch
    * operator's exact tie rule. State is ONE event per user; counting
    * and row-normalizing the emitted pairs is a downstream aggregation
    * (the sink side owns it — pairs append exactly once). */
  def transitionsStream(events: Dataset[TypedEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TypedEvent], state: GroupState[LastEvent]) =>
          val ordered = rows.toSeq.sortBy(tsIdKey)
          if (ordered.isEmpty) Iterator.empty
          else {
            val (st2, out) = transFold(uid, state.getOption, ordered)
            state.update(st2)
            out.iterator
          }
      }
  }

  /** Pure per-user transition fold over already-ordered NONEMPTY
    * events — shared by the in-order and out-of-order deploys. */
  private def transFold(uid: Long, prior: Option[LastEvent],
                        ordered: Seq[TypedEvent]): (LastEvent, Seq[Transition]) = {
    val types = prior.map(_.event_type).toSeq ++ ordered.map(_.event_type)
    val out = types.sliding(2).collect {
      case Seq(a, b) => Transition(uid, a, b)
    }.toVector
    val last = ordered.last
    (LastEvent(uid, epochMicros(last.ts), last.event_id, last.event_type), out)
  }

  /** Out-of-order transition-matrix deploy: [[transitionsStream]]
    * without the in-order arrival contract (same kernel, watermarked
    * reorder buffer — consecutive-pair emission is order-critical, so
    * this is the family member that breaks WORST under shuffled
    * arrival without the buffer). */
  def transitionsStreamOoo(events: Dataset[TypedEvent], delay: String,
                           lateCounter: Option[LongAccumulator] = None,
                           maxBufferPerUser: Int = 1 << 20,
                           heldGauge: Option[MaxAccumulator] = None)
      : Dataset[Transition] =
    reorderedStream[LastEvent, Transition](
      events, delay,
      keep = _ => true,
      sortKey = tsIdKey,
      fold = (uid, prior, ordered) => transFold(uid, prior, ordered),
      lateCounter = lateCounter,
      maxBufferPerUser = maxBufferPerUser,
      heldGauge = heldGauge)

  /** EMA is order-sensitive; mapGroupsWithState delivers a batch's
    * rows in shuffle order, so events carry a caller-assigned `seq`
    * (event time / offset) and each batch folds in `seq` order —
    * without it the same input could yield different state across
    * runs. Events within one batch sharing a seq fold by value for a
    * total, deterministic order. */
  def runningEma(events: Dataset[UserEvent], alpha: Double = 0.1)
      : Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(uid, 0L, 0.0))
          val ordered = rows.toSeq.sortBy(e => (e.seq, e.value))
          val next = ordered.foldLeft(prev) { (st, e) =>
            val ema = if (st.n == 0) e.value
                      else alpha * e.value + (1 - alpha) * st.ema
            UserStat(uid, st.n + 1, ema)
          }
          state.update(next)
          next
      }
  }
}
