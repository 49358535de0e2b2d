package graft

import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import graft.stream.Streaming
import scala.jdk.CollectionConverters._

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class DocEv(ts: Timestamp, doc_id: Long, text: String)

class StreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedCounts aggregates by tumbling event-time window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.windowedCounts(in.toDF(), "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append)
      .start()
    in.addData(Ev(t(0), 1, "click", 1.0), Ev(t(1), 2, "click", 1.0),
               Ev(t(6), 1, "view", 1.0))
    q.processAllAvailable()
    // advance watermark far so earlier windows close and emit
    in.addData(Ev(t(59), 9, "click", 1.0))
    q.processAllAvailable()
    val out = spark.table("wc").select("event_type", "n").as[(String, Long)]
      .collect().toMap
    q.stop()
    assert(out("click") == 2 && out("view") == 1)
  }

  test("dedupWithinWatermark drops re-deliveries of the same key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.dedupWithinWatermark(in.toDF(), "ts", "30 minutes",
        Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dd").outputMode(OutputMode.Append)
      .start()
    in.addData(Ev(t(0), 1, "click", 1.0), Ev(t(1), 1, "click", 99.0),
               Ev(t(2), 2, "click", 1.0))
    q.processAllAvailable()
    val n = spark.table("dd").count()
    q.stop()
    assert(n == 2) // the duplicate (1, click) was suppressed
  }

  test("sessionCounts merges events within the gap into one session") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.sessionCounts(in.toDF(), "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("sc").outputMode(OutputMode.Append)
      .start()
    // user 1: events at 0,3,6 -> one session (gaps < 5m); user 2: 0 and 20 -> two
    in.addData(Ev(t(0), 1, "c", 1), Ev(t(3), 1, "c", 1), Ev(t(6), 1, "c", 1),
               Ev(t(0), 2, "c", 1), Ev(t(20), 2, "c", 1))
    q.processAllAvailable()
    in.addData(Ev(t(59), 9, "c", 1)) // close sessions via watermark
    q.processAllAvailable()
    val rows = spark.table("sc").select("user_id", "n").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    q.stop()
    assert(rows(1L) == Seq(3))
    assert(rows(2L) == Seq(1, 1))
  }

  test("stream-static join enriches a stream with a dimension table") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = in.toDF().join(broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("ssj").outputMode(OutputMode.Append)
      .start()
    in.addData(Ev(t(0), 1, "click", 1.0), Ev(t(1), 3, "click", 1.0))
    q.processAllAvailable()
    val out = spark.table("ssj").select("user_id", "tier")
      .as[(Long, Option[String])].collect().toMap
    q.stop()
    assert(out(1L).contains("gold"))
    assert(out(3L).isEmpty) // unknown user passes through with null tier
  }

  test("sliding windows emit overlapping window counts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.windowedCounts(in.toDF(), "ts", "10 minutes",
        "10 minutes", slide = Some("5 minutes"))
      .writeStream.format("memory").queryName("slw").outputMode(OutputMode.Append)
      .start()
    in.addData(Ev(t(7), 1, "click", 1.0))
    q.processAllAvailable()
    in.addData(Ev(t(59), 9, "view", 1.0))
    q.processAllAvailable()
    // one event at minute 7 belongs to windows [0,10) and [5,15)
    val n = spark.table("slw").where("event_type = 'click'").count()
    q.stop()
    assert(n == 2)
  }

  test("foreachBatch sink writes idempotent per-batch partitions") {
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_cp").toString
    val in = MemoryStream[Ev]
    val q = Streaming.toCatalogSink(in.toDF(), wh, "events_out", cp).start()
    in.addData(Ev(t(0), 1, "click", 1.0), Ev(t(1), 2, "view", 2.0))
    q.processAllAvailable()
    in.addData(Ev(t(2), 3, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$wh/events_out")
    assert(out.count() == 3)
    assert(out.select("batch_id").distinct().count() >= 2)
  }

  test("microBatch kernel runs transform + trigger + sink; Kafka binding " +
      "reuses it with the asserted option contract") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.microBatch(in.toDF(), "memory", Map.empty,
      "1 second", queryName = Some("mb_out")) { df =>
      df.withColumn("etype_uc", upper(col("event_type")))
    }
    in.addData(Ev(t(0), 1, "click", 1.0), Ev(t(1), 2, "view", 2.0))
    q.processAllAvailable()
    val out = spark.table("mb_out").select("etype_uc").as[String]
      .collect().toSet
    q.stop()
    assert(out === Set("CLICK", "VIEW"))
    // the Kafka entry point binds exactly these source/sink options
    // around the kernel (no broker in this container; see COVERAGE.md)
    assert(Streaming.kafkaSourceOptions("broker:9092", "in_topic") ===
      Map("kafka.bootstrap.servers" -> "broker:9092", "subscribe" -> "in_topic"))
    assert(Streaming.kafkaSinkOptions("broker:9092", "out_topic", "/cp") ===
      Map("kafka.bootstrap.servers" -> "broker:9092", "topic" -> "out_topic",
        "checkpointLocation" -> "/cp"))
  }

  test("runningEma keeps per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.UserEvent]
    val q = Streaming.runningEma(in.toDS(), alpha = 0.5)
      .writeStream.format("memory").queryName("ema").outputMode(OutputMode.Update)
      .start()
    in.addData(Streaming.UserEvent(1, 10.0))
    q.processAllAvailable()
    in.addData(Streaming.UserEvent(1, 20.0))
    q.processAllAvailable()
    val last = spark.table("ema").filter(col("n") === 2).as[Streaming.UserStat]
      .collect()
    q.stop()
    assert(last.length == 1 && last.head.ema == 15.0) // 0.5*20 + 0.5*10
  }

  test("redactPii composes with a stream: pure projection, append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
      .withColumn("redacted", graft.text.Redact.redactPii(col("text")))
    val q = df.writeStream.format("memory").queryName("redact_stream")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, "ping a@b.io now"), (2L, "see https://x.y/z ok"))
    q.processAllAvailable()
    val out = spark.table("redact_stream")
      .select("doc_id", "redacted").as[(Long, String)].collect().toMap
    q.stop()
    assert(out(1L) == "ping [EMAIL] now")
    assert(out(2L) == "see [URL] ok")
  }

  test("intervalJoin composes with a stream: banded stream-static " +
      "equi-join, append mode") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    val in = MemoryStream[(Long, Timestamp)]
    val ivals = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:30:00")),
      (11L, ts("2024-01-01 04:00:00"), ts("2024-01-01 07:00:00")))
      .toDF("iid", "start", "end")
    // the band column is a pure projection and the static side is
    // bounded, so the live enrichment is a stateless stream-static
    // equi-join — no watermark, exact append
    val df = graft.rel.Joins.intervalJoin(
      in.toDF().toDF("pid", "ts"), "ts", ivals, "start", "end", 3600L)
    val q = df.writeStream.format("memory").queryName("ij_stream")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, ts("2024-01-01 00:30:00")), (2L, ts("2024-01-01 02:00:00")),
      (3L, ts("2024-01-01 05:00:00")))
    q.processAllAvailable()
    val out = spark.table("ij_stream").select("pid", "iid")
      .as[(Long, Long)].collect().sorted.toSeq
    q.stop()
    assert(out == Seq((1L, 10L), (3L, 11L)))
  }

  test("gopherRules composes with a stream: pure projection, append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // the whole Gopher rule table is one codegen projection — no
    // shuffle, no explode — so it runs unchanged on an unbounded
    // stream: the rule-based quality gate a live ingest pipeline runs
    val df = graft.text.Quality.gopherRules(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minWords = 3, minStopHits = 1)
    val q = df.writeStream.format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, "the quick brown fox jumps"), (2L, "# # #"))
    q.processAllAvailable()
    val out = spark.table("gopher_stream")
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    q.stop()
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("chunkByTokens and normalizeUrl compose with a stream: generator/projection, append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    // chunking is scan -> generate -> project and URL canonicalization a
    // pure projection, so both run unchanged on an unbounded stream —
    // no state store, no watermark, append mode
    val df = graft.text.Chunk.chunkByTokens(
        in.toDF().toDF("doc_id", "text", "url"),
        "doc_id", "text", chunkTokens = 4, overlapTokens = 1)
    val q = df.writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append).start()
    val urls = in.toDF().toDF("doc_id", "text", "url")
      .withColumn("url_norm", graft.text.Urls.normalizeUrl(col("url")))
    val q2 = urls.writeStream.format("memory").queryName("url_stream")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, "a b c d e f", "HTTPS://www.E.com/x?utm_s=1#f"))
    q.processAllAvailable(); q2.processAllAvailable()
    val chunks = spark.table("chunk_stream")
      .select("chunk_id", "chunk_text").as[(Long, String)].collect().toMap
    val norm = spark.table("url_stream").select("url_norm").as[String].head()
    q.stop(); q2.stop()
    assert(chunks == Map(0L -> "a b c d", 1L -> "d e f")) // stride 3
    assert(norm == "https://e.com/x")
  }

  test("contaminatedIds flags streaming docs overlapping the eval set") {
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq(
      (900L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = Streaming.contaminatedIds(docs, eval, "doc_id", "text", "ts",
        "30 minutes", k = 4)
      .writeStream.format("memory").queryName("contam_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(
      (1L, t(0), "beta gamma delta epsilon tail words here"), // overlaps
      (2L, t(1), "completely unrelated content flows past now"),
      (3L, t(2), "alpha beta gamma delta front overlap"))     // overlaps
    q.processAllAvailable()
    val flagged = spark.table("contam_stream")
      .select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(flagged == Set(1L, 3L))
  }

  test("streaming quality scoring matches the batch unigram scorer") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "alpha beta beta gamma"), (2L, "alpha delta"))
      .toDF("doc_id", "text")
    val vocab = graft.text.LangModel.unigramVocab(ref, "text")
    val in = MemoryStream[DocEv]
    val q = Streaming.scoredDocs(in.toDF(), vocab, "doc_id", "text", "ts",
        "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("squal")
      .outputMode(OutputMode.Append).start()
    in.addData(DocEv(t(0), 10L, "alpha beta"),
      DocEv(t(1), 11L, "alpha zzz unseen"))
    q.processAllAvailable()
    in.addData(DocEv(t(59), 99L, "alpha")) // advance watermark, close window
    q.processAllAvailable()
    val streamed = spark.table("squal")
      .select("doc_id", "n_tokens", "n_oov", "mean_logprob", "ppl")
      .as[(Long, Long, Long, Double, Double)].collect()
      .filter(r => r._1 == 10L || r._1 == 11L).sortBy(_._1)
    q.stop()
    val batch = graft.text.LangModel.scoreByUnigram(
        Seq((10L, "alpha beta"), (11L, "alpha zzz unseen"))
          .toDF("doc_id", "text"),
        ref, "doc_id", "text")
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    assert(streamed.length == 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s._1 == b._1 && s._2 == b._2 && s._3 == b._3)
      assert(math.abs(s._4 - b._4) < 1e-6, s"mean_logprob $s vs $b")
      assert(math.abs(s._5 - b._5) < 1e-5, s"ppl $s vs $b")
    }
  }

  test("streaming KN scoring matches the batch Kneser-Ney scorer") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "a b a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val model = graft.text.LangModel.fitKneserNey(ref, "text")
    val in = MemoryStream[DocEv]
    val q = Streaming.knScoredDocs(in.toDF(), model, "doc_id", "text",
        "ts", "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("skn")
      .outputMode(OutputMode.Append).start()
    in.addData(DocEv(t(0), 10L, "a b c"),    // seen pairs + ctx-only
      DocEv(t(1), 11L, "z q a"))             // unseen ctx + backoff
    q.processAllAvailable()
    in.addData(DocEv(t(59), 99L, "a b"))     // advance watermark
    q.processAllAvailable()
    val streamed = spark.table("skn")
      .select("doc_id", "n_bigrams", "n_oov", "mean_logprob", "ppl")
      .as[(Long, Long, Long, Double, Double)].collect()
      .filter(r => r._1 == 10L || r._1 == 11L).sortBy(_._1)
    q.stop()
    val batch = graft.text.LangModel.scoreByKneserNey(
        Seq((10L, "a b c"), (11L, "z q a")).toDF("doc_id", "text"),
        ref, "doc_id", "text")
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    assert(streamed.length == 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s._1 == b._1 && s._2 == b._2 && s._3 == b._3, s"$s vs $b")
      assert(math.abs(s._4 - b._4) < 1e-6, s"mean_logprob $s vs $b")
      assert(math.abs(s._5 - b._5) < 1e-5, s"ppl $s vs $b")
    }
  }

  test("streaming SB scoring matches the batch Stupid Backoff scorer") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "a b c a b d"), (2L, "c a b e")).toDF("doc_id", "text")
    val model = graft.text.LangModel.fitStupidBackoff(ref, "text")
    val in = MemoryStream[DocEv]
    val q = Streaming.sbScoredDocs(in.toDF(), model, "doc_id", "text",
        "ts", "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("ssb")
      .outputMode(OutputMode.Append).start()
    in.addData(DocEv(t(0), 10L, "a b c d"),  // seen tri + bigram backoff
      DocEv(t(1), 11L, "z q a b"))           // unigram floor + OOV
    q.processAllAvailable()
    in.addData(DocEv(t(59), 99L, "a b c"))   // advance watermark
    q.processAllAvailable()
    val streamed = spark.table("ssb")
      .select("doc_id", "n_trigrams", "n_oov", "mean_logprob", "ppl")
      .as[(Long, Long, Long, Double, Double)].collect()
      .filter(r => r._1 == 10L || r._1 == 11L).sortBy(_._1)
    q.stop()
    val batch = graft.text.LangModel.scoreByStupidBackoff(
        Seq((10L, "a b c d"), (11L, "z q a b")).toDF("doc_id", "text"),
        ref, "doc_id", "text")
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    assert(streamed.length == 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s._1 == b._1 && s._2 == b._2 && s._3 == b._3, s"$s vs $b")
      assert(math.abs(s._4 - b._4) < 1e-6, s"mean_logprob $s vs $b")
      assert(math.abs(s._5 - b._5) < 1e-5, s"ppl $s vs $b")
    }
  }

  test("streaming eval scoring matches the batch ROUGE/chrF kernels") {
    implicit val sqlCtx = spark.sqlContext
    val refs = Seq((10L, "the cat sat on the mat"), (11L, "a b c d"),
      (13L, "zz")).toDF("doc_id", "text")
    val in = MemoryStream[DocEv]
    val q = Streaming.evalStreamScores(in.toDF(), refs, "doc_id", "text",
        "text", rougeMaxN = 2, chrfMaxN = 6)
      .writeStream.format("memory").queryName("sev")
      .outputMode(OutputMode.Append).start()
    in.addData(
      DocEv(t(0), 10L, "the cat sat on a mat"),
      DocEv(t(1), 11L, "a b x d"),
      DocEv(t(2), 12L, "no reference here")) // missing ref -> zeros
    q.processAllAvailable()
    val streamed = spark.table("sev")
      .as[(Long, Double, Double, Double, Double, Double)].collect()
      .sortBy(_._1)
    q.stop()
    val cands = Seq((10L, "the cat sat on a mat"), (11L, "a b x d"),
      (12L, "no reference here")).toDF("doc_id", "text")
    val rouge = graft.text.EvalMetrics.rougeN(cands, refs, "doc_id",
      "text", "text", maxN = 2)
    val chrf = graft.text.EvalMetrics.chrF(cands, refs, "doc_id",
      "text", "text", maxN = 6)
    val batch = rouge.join(chrf, Seq("doc")).orderBy("doc")
      .select("doc", "rouge_1", "rouge_2", "chrf_p", "chrf_r", "chrf")
      .as[(Long, Double, Double, Double, Double, Double)].collect()
    assert(streamed.length === 3)
    assert(streamed.toSeq === batch.toSeq) // bit parity, same kernels
    assert(streamed(2)._2 === 0.0 && streamed(2)._6 === 0.0) // no ref
  }

  test("streaming eval scoring at chrF beta != 2 matches the batch kernel") {
    implicit val sqlCtx = spark.sqlContext
    val refs = Seq((10L, "the cat sat on the mat")).toDF("doc_id", "text")
    val in = MemoryStream[DocEv]
    val q = Streaming.evalStreamScores(in.toDF(), refs, "doc_id", "text",
        "text", rougeMaxN = 2, chrfMaxN = 6, chrfBeta = 0.5)
      .writeStream.format("memory").queryName("sevb")
      .outputMode(OutputMode.Append).start()
    in.addData(DocEv(t(0), 10L, "the cat sat on a mat"))
    q.processAllAvailable()
    val streamed = spark.table("sevb")
      .as[(Long, Double, Double, Double, Double, Double)].head()
    q.stop()
    val batch = graft.text.EvalMetrics.chrF(
        Seq((10L, "the cat sat on a mat")).toDF("doc_id", "text"), refs,
        "doc_id", "text", "text", maxN = 6, beta = 0.5)
      .as[(Long, Double, Double, Double)].head()
    assert(streamed._6 === batch._4)
    assert(batch._4 !== 0.0)
  }

  test("funnelStream matches the batch funnel across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.TypedEvent
    // u1 full funnel; u2 click-before-view (click must NOT count);
    // u3 view only; u4 equal-ts view+click (click qualifies via >=);
    // u5 purchase before click (purchase must not count at step 3)
    val evs = Seq(
      TypedEvent(1L, 1L, "view", t(0)), TypedEvent(1L, 2L, "click", t(2)),
      TypedEvent(1L, 3L, "purchase", t(5)),
      TypedEvent(2L, 4L, "click", t(0)), TypedEvent(2L, 5L, "view", t(3)),
      TypedEvent(3L, 6L, "view", t(1)),
      TypedEvent(4L, 7L, "view", t(4)), TypedEvent(4L, 8L, "click", t(4)),
      TypedEvent(5L, 9L, "view", t(0)), TypedEvent(5L, 10L, "purchase", t(1)),
      TypedEvent(5L, 11L, "click", t(3)))
    val steps = Seq("view", "click", "purchase")
    val stepIdx = steps.zipWithIndex.toMap
    val ordered = evs.sortBy(e =>
      (Streaming.epochMicros(e.ts), stepIdx(e.event_type), e.event_id))
    val in = MemoryStream[TypedEvent]
    val q = Streaming.funnelStream(in.toDS(), steps).toDF()
      .writeStream.format("memory").queryName("fst")
      .outputMode(OutputMode.Update).start()
    // two micro-batches: state must chain across the boundary
    ordered.grouped(6).foreach { chunk =>
      in.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = Streaming.funnelStreamCounts(spark.table("fst"), steps)
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    val batch = graft.ts.EventAnalytics.funnel(
        evs.toDF(), "user_id", "event_type", "ts", steps)
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    assert(streamed === batch)
    assert(batch === Seq((1, "view", 5L), (2, "click", 3L),
      (3, "purchase", 1L)))
  }

  test("funnelStreamCounts collapses its k steps in one aggregate") {
    val perUser = Seq((1L, 1), (1L, 3), (2L, 2), (3L, 1), (3L, 1))
      .toDF("user_id", "max_step")
    val counts = Streaming.funnelStreamCounts(perUser,
      Seq("view", "click", "purchase"))
    assert(counts.as[(Int, String, Long)].collect().sortBy(_._1).toSeq ===
      Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
    // the user shuffle plus one single-partition exchange, not one
    // filtered count (and exchange) per step
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(counts.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
    assert(exchanges.size === 2, exchanges)
    assert(exchanges.count(_ == SinglePartition) === 1, exchanges)
  }

  test("transitionsStream matches batch eventTransitions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.TypedEvent
    val evs = Seq(
      TypedEvent(1L, 1L, "view", t(0)), TypedEvent(1L, 2L, "click", t(1)),
      TypedEvent(1L, 3L, "view", t(2)), TypedEvent(1L, 4L, "purchase", t(3)),
      TypedEvent(2L, 5L, "view", t(0)), TypedEvent(2L, 6L, "view", t(5)),
      TypedEvent(3L, 7L, "click", t(2)))
    val ordered = evs.sortBy(e => (Streaming.epochMicros(e.ts), e.event_id))
    val in = MemoryStream[TypedEvent]
    val q = Streaming.transitionsStream(in.toDS()).toDF()
      .writeStream.format("memory").queryName("tst")
      .outputMode(OutputMode.Append).start()
    // three micro-batches: the stored last event must chain the
    // cross-boundary transitions (u1's view->purchase spans batches)
    ordered.grouped(3).foreach { chunk =>
      in.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("tst")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
      .as[(String, String, Long)].collect().toSeq
    val batch = graft.ts.EventAnalytics.eventTransitions(
        evs.toDF(), "user_id", "event_type", "ts", tieCols = Seq("event_id"))
      .orderBy("from_type", "to_type")
      .select("from_type", "to_type", "n")
      .as[(String, String, Long)].collect().toSeq
    assert(streamed === batch)
    assert(streamed.map(_._3).sum === 4L) // 3 (u1) + 1 (u2)
  }

  test("conversionTimeStream matches batch conversionTime across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.TypedEvent
    // u1 converts (view t0 -> purchase t5, dt=300s); u2 purchase
    // before view (never converts); u3 equal-ts view+purchase
    // (dt=0 via the >= rule); u4 view only; u1's second purchase
    // must NOT emit twice
    val evs = Seq(
      TypedEvent(1L, 1L, "view", t(0)), TypedEvent(1L, 2L, "purchase", t(5)),
      TypedEvent(1L, 3L, "purchase", t(9)),
      TypedEvent(2L, 4L, "purchase", t(1)),
      TypedEvent(3L, 5L, "view", t(2)), TypedEvent(3L, 6L, "purchase", t(2)),
      TypedEvent(4L, 7L, "view", t(3)))
    val ordered = evs.sortBy(e => (Streaming.epochMicros(e.ts),
      if (e.event_type == "view") 0 else 1, e.event_id))
    val in = MemoryStream[TypedEvent]
    val q = Streaming.conversionTimeStream(in.toDS(), "view", "purchase")
      .toDF()
      .writeStream.format("memory").queryName("cvt")
      .outputMode(OutputMode.Append).start()
    ordered.grouped(3).foreach { chunk =>
      in.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val perUser = spark.table("cvt").as[(Long, Long)].collect().toMap
    assert(perUser === Map(1L -> 300L, 3L -> 0L))
    val streamed = Streaming.conversionTimeSummary(spark.table("cvt"))
      .as[(Long, Long, Double, Double, Double, Long, Double)].head()
    val batch = graft.ts.EventAnalytics.conversionTime(
        evs.toDF(), "user_id", "event_type", "ts", "view", "purchase")
      .as[(Long, Long, Double, Double, Double, Long, Double)].head()
    assert(streamed === batch)
  }

  test("cohortRetentionStream matches batch cohortRetention across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.TypedEvent
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 first seen week of Jan 1 (Mon 2024-01-01), active weeks 0,1,3
    // (duplicate activity in week 1 must NOT double-count); u2 first
    // seen week 1, active weeks 0,1 relative to its own cohort
    val evs = Seq(
      TypedEvent(1L, 1L, "view", ts("2024-01-02 10:00:00")),
      TypedEvent(1L, 2L, "click", ts("2024-01-09 10:00:00")),
      TypedEvent(1L, 3L, "view", ts("2024-01-10 10:00:00")),
      TypedEvent(1L, 4L, "view", ts("2024-01-23 10:00:00")),
      TypedEvent(2L, 5L, "view", ts("2024-01-08 10:00:00")),
      TypedEvent(2L, 6L, "view", ts("2024-01-16 10:00:00")))
    val ordered = evs.sortBy(e => (Streaming.epochMicros(e.ts), e.event_id))
    val in = MemoryStream[TypedEvent]
    val q = Streaming.cohortRetentionStream(in.toDS(), "week").toDF()
      .writeStream.format("memory").queryName("cht")
      .outputMode(OutputMode.Append).start()
    ordered.grouped(2).foreach { chunk =>
      in.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = Streaming.cohortRetentionCounts(spark.table("cht"))
      .orderBy("cohort", "period_offset")
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    val batch = graft.ts.EventAnalytics.cohortRetention(
        evs.toDF(), "user_id", "ts", period = "week")
      .orderBy("cohort", "period_offset")
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    assert(streamed === batch)
    // u1 cohort = Mon 2024-01-01 with offsets 0,1,3; u2 = Mon
    // 2024-01-08 with offsets 0,1
    assert(batch === Seq(
      (java.sql.Date.valueOf("2024-01-01"), 0L, 1L),
      (java.sql.Date.valueOf("2024-01-01"), 1L, 1L),
      (java.sql.Date.valueOf("2024-01-01"), 3L, 1L),
      (java.sql.Date.valueOf("2024-01-08"), 0L, 1L),
      (java.sql.Date.valueOf("2024-01-08"), 1L, 1L)))
  }

  test("streaming event-analytics family: randomized batch parity") {
    // 300 random events over 25 users / 28 days with deliberate
    // timestamp collisions — every deploy must land on the batch
    // answer when replayed in its documented order across 5
    // micro-batches. Catches tie-rule and cross-batch-chaining bugs
    // no hand-built case thought of.
    implicit val sqlCtx = spark.sqlContext
    import Streaming.TypedEvent
    val rnd = new scala.util.Random(123)
    val steps = Seq("view", "click", "purchase")
    val types = steps :+ "signup"
    def dayTs(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${1 + d}%02d $h%02d:00:00")
    val evs = (1 to 300).map { i =>
      TypedEvent(rnd.nextInt(25).toLong, i.toLong,
        types(rnd.nextInt(types.size)), dayTs(rnd.nextInt(28), rnd.nextInt(4)))
    }
    val stepIdx = steps.zipWithIndex.toMap
    def replayChunks[A](ordered: Seq[TypedEvent],
                        mk: MemoryStream[TypedEvent] => (org.apache.spark.sql.streaming.StreamingQuery)): Unit = {
      val in = MemoryStream[TypedEvent]
      val q = mk(in)
      ordered.grouped(ordered.size / 5 + 1).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      q.stop()
    }
    // funnel
    replayChunks(
      evs.filter(e => stepIdx.contains(e.event_type)).sortBy(e =>
        (Streaming.epochMicros(e.ts), stepIdx(e.event_type), e.event_id)),
      in => Streaming.funnelStream(in.toDS(), steps).toDF()
        .writeStream.format("memory").queryName("rfu")
        .outputMode(OutputMode.Update).start())
    assert(Streaming.funnelStreamCounts(spark.table("rfu"), steps)
        .orderBy("step").as[(Int, String, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.funnel(evs.toDF(), "user_id", "event_type",
          "ts", steps)
        .orderBy("step").as[(Int, String, Long)].collect().toSeq)
    // transitions
    replayChunks(
      evs.sortBy(e => (Streaming.epochMicros(e.ts), e.event_id)),
      in => Streaming.transitionsStream(in.toDS()).toDF()
        .writeStream.format("memory").queryName("rtr")
        .outputMode(OutputMode.Append).start())
    assert(spark.table("rtr")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
        .as[(String, String, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.eventTransitions(evs.toDF(), "user_id",
          "event_type", "ts", Seq("event_id"))
        .orderBy("from_type", "to_type").select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSeq)
    // conversion time
    replayChunks(
      evs.filter(e => e.event_type == "view" || e.event_type == "purchase")
        .sortBy(e => (Streaming.epochMicros(e.ts),
          if (e.event_type == "view") 0 else 1, e.event_id)),
      in => Streaming.conversionTimeStream(in.toDS(), "view", "purchase")
        .toDF().writeStream.format("memory").queryName("rcv")
        .outputMode(OutputMode.Append).start())
    assert(Streaming.conversionTimeSummary(spark.table("rcv"))
        .as[(Long, Long, Double, Double, Double, Long, Double)].head() ===
      graft.ts.EventAnalytics.conversionTime(evs.toDF(), "user_id",
          "event_type", "ts", "view", "purchase")
        .as[(Long, Long, Double, Double, Double, Long, Double)].head())
    // cohort retention
    replayChunks(
      evs.sortBy(e => (Streaming.epochMicros(e.ts), e.event_id)),
      in => Streaming.cohortRetentionStream(in.toDS(), "week").toDF()
        .writeStream.format("memory").queryName("rco")
        .outputMode(OutputMode.Append).start())
    assert(Streaming.cohortRetentionCounts(spark.table("rco"))
        .orderBy("cohort", "period_offset")
        .as[(java.sql.Date, Long, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.cohortRetention(evs.toDF(), "user_id", "ts",
          period = "week")
        .orderBy("cohort", "period_offset")
        .as[(java.sql.Date, Long, Long)].collect().toSeq)
  }

  // ---------------------------------------------------------------
  // Out-of-order deploys (round 14): shuffled replay + reorder buffer
  // ---------------------------------------------------------------

  /** Replay `shuffled` in 4 micro-batches, then two flush sentinels
    * (user -1): the first advances the watermark past every real
    * event, the second fires the event-time timeouts that drain the
    * reorder buffers. The delay (ms) that keeps every event
    * in-watermark is computed from the replay's own observed disorder;
    * zero engine late-drops are asserted. */
  private def replayOoo(shuffled: Seq[Streaming.TypedEvent],
                        mk: (MemoryStream[Streaming.TypedEvent], String) =>
                          org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    implicit val sqlCtx = spark.sqlContext
    var runMax = Long.MinValue; var lateMax = 0L
    shuffled.foreach { e =>
      val m = Streaming.epochMicros(e.ts)
      if (runMax > m) lateMax = math.max(lateMax, runMax - m)
      runMax = math.max(runMax, m)
    }
    val delayMs = lateMax / 1000L + 2000L
    val maxTsMs = shuffled.map(_.ts.getTime).max
    val in = MemoryStream[Streaming.TypedEvent]
    val q = mk(in, s"$delayMs milliseconds")
    try {
      shuffled.grouped(shuffled.size / 4 + 1).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      val t1 = maxTsMs + delayMs + 10000L
      in.addData(Streaming.TypedEvent(-1L, -1L, "__flush__",
        new Timestamp(t1)))
      q.processAllAvailable()
      in.addData(Streaming.TypedEvent(-1L, -2L, "__flush__",
        new Timestamp(t1 + 1000L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(Streaming.droppedByWatermark(q) === 0L)
  }

  test("out-of-order event-analytics family: shuffled replay matches batch") {
    // The r13 family's randomized-parity corpus, but the replay is
    // SHUFFLED (seeded full permutation within a bounded window) —
    // the in-order arrival contract is violated everywhere, and every
    // OOO deploy must still land on the batch answer with ZERO late
    // drops. Timestamp collisions are deliberate: the tie rules must
    // survive reordering too.
    import Streaming.TypedEvent
    val rnd = new scala.util.Random(456)
    val steps = Seq("view", "click", "purchase")
    val types = steps :+ "signup"
    def dayTs(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${1 + d}%02d $h%02d:00:00")
    val evs = (1 to 300).map { i =>
      TypedEvent(rnd.nextInt(25).toLong, i.toLong,
        types(rnd.nextInt(types.size)), dayTs(rnd.nextInt(28), rnd.nextInt(4)))
    }
    val base = evs.sortBy(e => (Streaming.epochMicros(e.ts), e.event_id))
    // precompute displaced keys — sortBy re-evaluates its key function
    // during comparisons, so a stateful RNG inside it violates the
    // sort contract
    val shuffled = base.zipWithIndex
      .map { case (e, i) => (e, i + rnd.nextInt(60)) }
      .sortBy { case (e, k) => (k, e.event_id) }
      .map(_._1)
    assert(shuffled !== base, "shuffle must actually reorder")
    // funnel
    val fLate = spark.sparkContext.longAccumulator("ooo_f")
    replayOoo(shuffled, (in, d) =>
      Streaming.funnelStreamOoo(in.toDS(), steps, d, Some(fLate)).toDF()
        .writeStream.format("memory").queryName("ofu")
        .outputMode(OutputMode.Append).start())
    assert(fLate.value === 0L)
    assert(Streaming.funnelStreamCounts(spark.table("ofu"), steps)
        .orderBy("step").as[(Int, String, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.funnel(evs.toDF(), "user_id", "event_type",
          "ts", steps)
        .orderBy("step").as[(Int, String, Long)].collect().toSeq)
    // transitions — order-critical: a shuffled replay WITHOUT the
    // buffer would emit wrong consecutive pairs
    val tLate = spark.sparkContext.longAccumulator("ooo_t")
    replayOoo(shuffled, (in, d) =>
      Streaming.transitionsStreamOoo(in.toDS(), d, Some(tLate)).toDF()
        .writeStream.format("memory").queryName("otr")
        .outputMode(OutputMode.Append).start())
    assert(tLate.value === 0L)
    assert(spark.table("otr").filter($"user_id" >= 0)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
        .as[(String, String, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.eventTransitions(evs.toDF(), "user_id",
          "event_type", "ts", Seq("event_id"))
        .orderBy("from_type", "to_type").select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSeq)
    // conversion time
    val cLate = spark.sparkContext.longAccumulator("ooo_c")
    replayOoo(shuffled, (in, d) =>
      Streaming.conversionTimeStreamOoo(in.toDS(), "view", "purchase", d,
          Some(cLate)).toDF()
        .writeStream.format("memory").queryName("ocv")
        .outputMode(OutputMode.Append).start())
    assert(cLate.value === 0L)
    assert(Streaming.conversionTimeSummary(spark.table("ocv"))
        .as[(Long, Long, Double, Double, Double, Long, Double)].head() ===
      graft.ts.EventAnalytics.conversionTime(evs.toDF(), "user_id",
          "event_type", "ts", "view", "purchase")
        .as[(Long, Long, Double, Double, Double, Long, Double)].head())
    // cohort retention — the first ARRIVAL per user is often not the
    // min-ts event; the watermark release must still fix the cohort
    // at the true min
    val hLate = spark.sparkContext.longAccumulator("ooo_h")
    replayOoo(shuffled, (in, d) =>
      Streaming.cohortRetentionStreamOoo(in.toDS(), "week", d, Some(hLate))
        .toDF()
        .writeStream.format("memory").queryName("oco")
        .outputMode(OutputMode.Append).start())
    assert(hLate.value === 0L)
    assert(Streaming.cohortRetentionCounts(
          spark.table("oco").filter($"user_id" >= 0))
        .orderBy("cohort", "period_offset")
        .as[(java.sql.Date, Long, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.cohortRetention(evs.toDF(), "user_id", "ts",
          period = "week")
        .orderBy("cohort", "period_offset")
        .as[(java.sql.Date, Long, Long)].collect().toSeq)
  }

  test("OOO event-analytics deploys survive a query KILL + checkpoint " +
      "restart: recovered reorder-buffer state lands on the batch answer") {
    // The four mapGroupsWithState deploys' durability story rests on
    // the state store restoring each user's watermark-bounded buffer
    // (+ fold state). This kills each query CLEANLY between
    // micro-batches and restarts a FRESH query (new memory sink) on
    // the same checkpoint; the union of both lives' append-mode sinks
    // must land on the batch operator's answer — duplicated or lost
    // emissions across the restart would break the counts exactly.
    import Streaming.TypedEvent
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(789)
    val steps = Seq("view", "click", "purchase")
    val types = steps :+ "signup"
    def dayTs(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-02-${1 + d}%02d $h%02d:00:00")
    val evs = (1 to 300).map { i =>
      TypedEvent(rnd.nextInt(25).toLong, i.toLong,
        types(rnd.nextInt(types.size)), dayTs(rnd.nextInt(27), rnd.nextInt(4)))
    }
    val base = evs.sortBy(e => (Streaming.epochMicros(e.ts), e.event_id))
    val shuffled = base.zipWithIndex
      .map { case (e, i) => (e, i + rnd.nextInt(60)) }
      .sortBy { case (e, k) => (k, e.event_id) }
      .map(_._1)
    assert(shuffled !== base, "shuffle must actually reorder")
    var runMax = Long.MinValue; var lateMax = 0L
    shuffled.foreach { e =>
      val m = Streaming.epochMicros(e.ts)
      if (runMax > m) lateMax = math.max(lateMax, runMax - m)
      runMax = math.max(runMax, m)
    }
    val delayMs = lateMax / 1000L + 2000L
    val maxTsMs = shuffled.map(_.ts.getTime).max
    val chunks = shuffled.grouped(shuffled.size / 4 + 1).toSeq

    def killRestart(name: String,
                    mk: (MemoryStream[TypedEvent], String) =>
                      org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      // the memory sink refuses append-mode checkpoint recovery, so
      // the kill-test rides the production sink shape: foreachBatch →
      // idempotent per-batchId parquet partitions (toCatalogSink) —
      // a batch replayed after the crash OVERWRITES its own partition,
      // which is exactly the exactly-once story under test
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_ooo_ckpt_$name").toString
      val wh = java.nio.file.Files
        .createTempDirectory(s"graft_ooo_wh_$name").toString
      val in = MemoryStream[TypedEvent]
      def start() = Streaming.toCatalogSink(
          mk(in, s"$delayMs milliseconds"), wh, name, ckpt)
        .outputMode(OutputMode.Append).start()
      val q1 = start()
      try chunks.take(2).foreach { c =>
        in.addData(c: _*); q1.processAllAvailable()
      } finally q1.stop() // the "crash" between micro-batches
      val q2 = start()
      try {
        chunks.drop(2).foreach { c =>
          in.addData(c: _*); q2.processAllAvailable()
        }
        val t1 = maxTsMs + delayMs + 10000L
        in.addData(TypedEvent(-1L, -1L, "__flush__", new Timestamp(t1)))
        q2.processAllAvailable()
        in.addData(TypedEvent(-1L, -2L, "__flush__",
          new Timestamp(t1 + 1000L)))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(Streaming.droppedByWatermark(q2) === 0L, name)
      spark.read.parquet(s"$wh/$name").drop("batch_id")
    }

    // funnel
    val fLate = spark.sparkContext.longAccumulator("kill_f")
    val fu = killRestart("kfu", (in, d) =>
      Streaming.funnelStreamOoo(in.toDS(), steps, d, Some(fLate)).toDF())
    assert(fLate.value === 0L)
    assert(Streaming.funnelStreamCounts(fu, steps)
        .orderBy("step").as[(Int, String, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.funnel(evs.toDF(), "user_id", "event_type",
          "ts", steps)
        .orderBy("step").as[(Int, String, Long)].collect().toSeq)
    // transitions — exactly-once emission across the restart is
    // load-bearing: a re-emitted pair would inflate its count
    val tLate = spark.sparkContext.longAccumulator("kill_t")
    val tr = killRestart("ktr", (in, d) =>
      Streaming.transitionsStreamOoo(in.toDS(), d, Some(tLate)).toDF())
    assert(tLate.value === 0L)
    assert(tr.filter($"user_id" >= 0)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
        .as[(String, String, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.eventTransitions(evs.toDF(), "user_id",
          "event_type", "ts", Seq("event_id"))
        .orderBy("from_type", "to_type").select("from_type", "to_type", "n")
        .as[(String, String, Long)].collect().toSeq)
    // conversion time — one row per converted user, so n_converted
    // pins exactly-once across the restart too
    val cLate = spark.sparkContext.longAccumulator("kill_c")
    val cv = killRestart("kcv", (in, d) =>
      Streaming.conversionTimeStreamOoo(in.toDS(), "view", "purchase", d,
        Some(cLate)).toDF())
    assert(cLate.value === 0L)
    assert(Streaming.conversionTimeSummary(cv)
        .as[(Long, Long, Double, Double, Double, Long, Double)].head() ===
      graft.ts.EventAnalytics.conversionTime(evs.toDF(), "user_id",
          "event_type", "ts", "view", "purchase")
        .as[(Long, Long, Double, Double, Double, Long, Double)].head())
    // cohort retention — the recovered buffer must still fix each
    // user's cohort at the true min-ts event
    val hLate = spark.sparkContext.longAccumulator("kill_h")
    val co = killRestart("kco", (in, d) =>
      Streaming.cohortRetentionStreamOoo(in.toDS(), "week", d,
        Some(hLate)).toDF())
    assert(hLate.value === 0L)
    assert(Streaming.cohortRetentionCounts(co.filter($"user_id" >= 0))
        .orderBy("cohort", "period_offset")
        .as[(java.sql.Date, Long, Long)].collect().toSeq ===
      graft.ts.EventAnalytics.cohortRetention(evs.toDF(), "user_id", "ts",
          period = "week")
        .orderBy("cohort", "period_offset")
        .as[(java.sql.Date, Long, Long)].collect().toSeq)
  }

  test("out-of-order deploy counts and drops arrivals behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.TypedEvent
    val late = spark.sparkContext.longAccumulator("ooo_late_drop")
    val in = MemoryStream[TypedEvent]
    val q = Streaming.transitionsStreamOoo(in.toDS(), "1 second", Some(late))
      .toDF()
      .writeStream.format("memory").queryName("old")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 view@10:00 and click@11:00 — watermark after this
      // batch is 10:59:59, so both stay buffered? no: view is ripe
      // only once wm passes it; nothing folds yet this batch (wm=0)
      in.addData(TypedEvent(1L, 1L, "view", t(0)),
        TypedEvent(1L, 2L, "click",
          Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // batch 2: a purchase@10:30 arrives BEHIND the watermark
      // (10:59:59) — the ENGINE drops it before the fold function ever
      // runs (FlatMapGroupsWithStateExec's late-row filter under
      // EventTimeTimeout), counted in numRowsDroppedByWatermark; it
      // must NOT be spliced into the transition order
      in.addData(TypedEvent(1L, 3L, "purchase",
        Timestamp.valueOf("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // flush: advance watermark past 11:00, then fire timeouts
      in.addData(TypedEvent(-1L, -4L, "__flush__",
        Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      in.addData(TypedEvent(-1L, -5L, "__flush__",
        Timestamp.valueOf("2024-01-01 12:00:01")))
      q.processAllAvailable()
    } finally q.stop()
    assert(Streaming.droppedByWatermark(q) === 1L)
    // the engine filter ran first, so the in-function slip net saw 0
    assert(late.value === 0L)
    val pairs = spark.table("old").filter($"user_id" >= 0)
      .select("from_type", "to_type").as[(String, String)].collect().toSeq
    // the late purchase is GONE: the only pair is view -> click
    assert(pairs === Seq(("view", "click")))
  }

  test("reorder buffer refuses a hot user past maxBufferPerUser loudly; " +
      "the gauge reports the peak held size") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.TypedEvent
    // 10 events for ONE user, all ahead of the (still-unset) watermark
    // under a 1-hour delay: the whole set is held after batch 1
    val evs = (0 until 10).map(i => TypedEvent(7L, i.toLong, "view",
      Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")))
    def run(cap: Int, name: String,
            gauge: Option[Streaming.MaxAccumulator]): Unit = {
      val in = MemoryStream[TypedEvent]
      val q = Streaming.transitionsStreamOoo(in.toDS(), "1 hour",
          maxBufferPerUser = cap, heldGauge = gauge).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try { in.addData(evs: _*); q.processAllAvailable() } finally q.stop()
    }
    // AT the boundary: held == cap — no refusal, peak measured
    val g = new Streaming.MaxAccumulator
    spark.sparkContext.register(g, "held_peak")
    run(10, "cap_ok", Some(g))
    assert(g.value === 10L)
    // ONE past the boundary: loud refusal naming the user and the knob
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(9, "cap_over", None)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("maxBufferPerUser=9") && msgs.contains("user 7"),
      s"refusal message missing: $msgs")
  }

  test("streaming media dedup collapses perceptual duplicates across containers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.mm.Multimodal
    def pix(x: Int, y: Int): Int = (x * 19 + y * 7) % 256
    def pix2(x: Int, y: Int): Int = (x * 23 + y * 5 + 11) % 256
    val bmp = Multimodal.encodeBmp(16, 16, pix)
    val png = Multimodal.encodePng(16, 16, pix) // same pixels, other codec
    val other = Multimodal.encodeBmp(16, 16, pix2)
    val corrupt = Array[Byte](1, 2, 3)
    // batch/stream bit parity first: the UDF column equals the RDD path
    val media = Multimodal.toMediaFrame(spark, Seq(
      (1L, bmp, "bmp", 16, 16, 0L), (2L, png, "png", 16, 16, 0L),
      (3L, other, "bmp", 16, 16, 0L)))
    val viaUdf = media.select(col("media_id"),
        Multimodal.imageDHashColumn(col("content")).as("fp"))
      .selectExpr("media_id", "fp._1 b0", "fp._2 b1", "fp._3 b2", "fp._4 b3")
      .orderBy("media_id").collect().map(r => (1 to 4).map(r.getInt))
    val viaRdd = Multimodal.imageDHash(media).orderBy("media_id")
      .collect().map(r => (2 to 5).map(r.getInt))
    assert(viaUdf.toSeq == viaRdd.toSeq)
    assert(viaUdf(0) == viaUdf(1)) // container-independent fingerprint
    // stream: bmp + its png twin + a distinct image + a corrupt blob
    val in = MemoryStream[(Timestamp, Long, Array[Byte])]
    val q = Multimodal.mediaDedupStream(
        in.toDF().toDF("ts", "media_id", "content"), "ts", "10 minutes")
      .select("media_id")
      .writeStream.format("memory").queryName("mdd")
      .outputMode(OutputMode.Append).start()
    in.addData((t(0), 1L, bmp), (t(1), 2L, png), (t(2), 3L, other),
      (t(3), 4L, corrupt))
    q.processAllAvailable()
    val kept = spark.table("mdd").as[Long].collect().toSet
    q.stop()
    // one of {1, 2} survives, 3 survives, corrupt 4 passes through
    assert(kept.size == 3 && kept.contains(3L) && kept.contains(4L))
    assert(kept.contains(1L) ^ kept.contains(2L))
    // audio modality through the SAME gate: a clip and its 2x-gain
    // twin share the energy-gradient fingerprint and collapse
    val samples = Array.tabulate(650)(i => ((i * 13) % 301) - 150)
    val wav = Multimodal.encodeWav(samples, 8000)
    val wavGain = Multimodal.encodeWav(samples.map(_ * 2), 8000)
    val in2 = MemoryStream[(Timestamp, Long, Array[Byte])]
    val q2 = Multimodal.mediaDedupStream(
        in2.toDF().toDF("ts", "media_id", "content"), "ts", "10 minutes",
        Multimodal.audioFingerprintColumn)
      .select("media_id")
      .writeStream.format("memory").queryName("mdda")
      .outputMode(OutputMode.Append).start()
    in2.addData((t(0), 1L, wav), (t(1), 2L, wavGain))
    q2.processAllAvailable()
    val kept2 = spark.table("mdda").as[Long].collect().toSet
    q2.stop()
    assert(kept2.size == 1)
  }

  test("streaming KN3 scoring matches the batch order-3 scorer") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "a b c a b d"), (2L, "c a b e")).toDF("doc_id", "text")
    val model = graft.text.LangModel.fitKneserNey3(ref, "text")
    val in = MemoryStream[DocEv]
    val q = Streaming.kn3ScoredDocs(in.toDF(), model, "doc_id", "text",
        "ts", "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("skn3")
      .outputMode(OutputMode.Append).start()
    in.addData(DocEv(t(0), 10L, "a b c d"),  // seen tri + ctx12-unseen
      DocEv(t(1), 11L, "z q a b"))           // full backoff + OOV
    q.processAllAvailable()
    in.addData(DocEv(t(59), 99L, "a b c"))   // advance watermark
    q.processAllAvailable()
    val streamed = spark.table("skn3")
      .select("doc_id", "n_trigrams", "n_oov", "mean_logprob", "ppl")
      .as[(Long, Long, Long, Double, Double)].collect()
      .filter(r => r._1 == 10L || r._1 == 11L).sortBy(_._1)
    q.stop()
    val batch = graft.text.LangModel.scoreByKneserNey3(
        Seq((10L, "a b c d"), (11L, "z q a b")).toDF("doc_id", "text"),
        ref, "doc_id", "text")
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    assert(streamed.length == 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s._1 == b._1 && s._2 == b._2 && s._3 == b._3, s"$s vs $b")
      assert(math.abs(s._4 - b._4) < 1e-6, s"mean_logprob $s vs $b")
      assert(math.abs(s._5 - b._5) < 1e-5, s"ppl $s vs $b")
    }
  }

  test("streaming BM25 scores match the batch scorer bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry apple")).toDF("doc_id", "text")
    val index = graft.text.Retrieval.bm25Index(corpus, "doc_id", "text")
    val in = MemoryStream[DocEv] // reuse the (ts, id, text) event shape
    val q = Streaming.bm25StreamScores(in.toDF(), index, "doc_id", "text",
        "ts", "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sbm25")
      .outputMode(OutputMode.Append).start()
    in.addData(DocEv(t(0), 10L, "apple cherry apple"),
      DocEv(t(1), 11L, "zzz unseen"))
    q.processAllAvailable()
    in.addData(DocEv(t(59), 99L, "apple")) // advance watermark, close window
    q.processAllAvailable()
    val streamed = spark.table("sbm25")
      .filter(col("query") === 10L)
      .select("query", "doc", "score")
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    q.stop()
    // batch twin: scores BEFORE ranking equal the stream's emitted rows
    val batch = graft.text.Retrieval.bm25TopK(corpus,
        Seq((10L, "apple cherry apple")).toDF("qid", "qtext"),
        "doc_id", "text", "qid", "qtext", k = 10)
      .select("query", "doc", "score")
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    assert(streamed.toSeq == batch.toSeq)
    // a query with no indexed terms emits nothing
    assert(spark.table("sbm25").filter(col("query") === 11L).count() == 0)
  }

  test("streaming blocklist filter matches the batch page removal") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[DocEv]
    val q = Streaming.blocklistCleanStream(in.toDF(), "text",
        terms = Seq("spam"), phrases = Seq("buy now"))
      .writeStream.format("memory").queryName("sblock")
      .outputMode(OutputMode.Append).start()
    in.addData(DocEv(t(0), 1L, "clean prose here"),
      DocEv(t(1), 2L, "pure Spam! content"),
      DocEv(t(2), 3L, "please buy now today"),
      DocEv(t(3), 4L, "buy nowhere else")) // phrase needs word bounds
    q.processAllAvailable()
    val kept = spark.table("sblock").select("doc_id").as[Long]
      .collect().toSet
    q.stop()
    assert(kept === Set(1L, 4L))
  }

  test("streaming CUSUM monitor tracks the batch running deviation sum") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streaming.UserEvent]
    // fitted baseline: mean 2, sigma 1 for series 1; series 9 unfitted
    val fitted = Map(1L -> (2.0, 1.0))
    val q = Streaming.cusumStream(in.toDS(), fitted, threshold = 0.5)
      .writeStream.format("memory").queryName("scusum")
      .outputMode(OutputMode.Update).start()
    in.addData(Streaming.UserEvent(1L, 1.0, seq = 1),
      Streaming.UserEvent(9L, 100.0, seq = 1)) // unfitted: ignored
    q.processAllAvailable()
    in.addData(Streaming.UserEvent(1L, 2.0, seq = 2),
      Streaming.UserEvent(1L, 3.0, seq = 3))
    q.processAllAvailable()
    val rows = spark.table("scusum")
      .select("user_id", "n", "cusum", "drift")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._2)
    q.stop()
    // after batch 1: cusum -1 (drift, |−1| > .5); after batch 2:
    // -1 + 0 + 1 = 0 -> no drift. Unfitted series emits nothing.
    assert(rows.map(_._1).toSet === Set(1L))
    assert(rows.head === ((1L, 1L, -1.0, true)))
    assert(rows.last === ((1L, 3L, 0.0, false)))
  }

  test("streaming winnow screen flags content overlap against a static reference") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((900L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val refFps = graft.text.Winnow.fingerprints(ref, "doc_id", "text",
      k = 8, w = 4)
    val in = MemoryStream[DocEv]
    val q = Streaming.winnowScreenStream(in.toDF(), refFps, "doc_id",
        "text", "ts", "5 minutes", "10 minutes", k = 8, w = 4,
        minShared = 3)
      .writeStream.format("memory").queryName("swinnow")
      .outputMode(OutputMode.Append).start()
    in.addData(
      DocEv(t(0), 1L, "beta gamma delta epsilon zeta padding words"),
      DocEv(t(1), 2L, "completely unrelated crawl content today"))
    q.processAllAvailable()
    in.addData(DocEv(t(59), 99L, "advance the watermark")) // close window
    q.processAllAvailable()
    val flagged = spark.table("swinnow")
      .select("doc_id", "id_b").as[(Long, Long)].collect().toSet
    q.stop()
    assert(flagged === Set((1L, 900L)))
    // batch twin agrees
    val batch = graft.text.Winnow.crossPairs(
        Seq((1L, "beta gamma delta epsilon zeta padding words"),
          (2L, "completely unrelated crawl content today"))
          .toDF("doc_id", "text"),
        ref, "doc_id", "text", k = 8, w = 4, minShared = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batch === Set((1L, 900L)))
  }

  test("statePartitionsFor sizes state partitions from state volume") {
    val par = spark.sparkContext.defaultParallelism
    // tiny state → one partition; grows with rows; capped at parallelism
    assert(Streaming.statePartitionsFor(spark, 0L) === 1)
    assert(Streaming.statePartitionsFor(spark, 4096L) === 1)
    assert(Streaming.statePartitionsFor(spark, 4097L) === math.min(2, par))
    assert(Streaming.statePartitionsFor(spark, Long.MaxValue) === par)
    // the target is a conf, not a constant (scale-dependent settings
    // stay parameterised)
    spark.conf.set("spark.graft.stream.stateRowsPerPartition", "10")
    try assert(Streaming.statePartitionsFor(spark, 25L) === math.min(3, par))
    finally spark.conf.unset("spark.graft.stream.stateRowsPerPartition")
  }

  test("withReplayTuning scopes replay confs to one query (r18 leak fix)") {
    val keys = Seq(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.numRecentProgressUpdates",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val before = keys.map(k => k -> spark.conf.get(k))
    // inside the scope the tuned values are live (the started query's
    // cloned session captures them)
    Streaming.withReplayTuning(spark, stateRows = 1L) {
      assert(spark.conf.get(keys(0)) === "false")
      assert(spark.conf.get(keys(1)) === "1")
      assert(spark.conf.get(keys(2)) === "100000")
      assert(spark.conf.get(keys(3)) === "false")
    }
    assert(keys.map(k => k -> spark.conf.get(k)) === before)
    // and every REAL replay entry (temp checkpoint, memory sink, scoped
    // tuning inside), run twice, leaves the session exactly as it found
    // it: the same confs — durable-checkpoint queries started
    // afterwards keep the corruption guard ON — no memory-sink temp
    // view and no active query
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    // a stopped query's micro-batch thread must be gone too, not left
    // running behind a quiet `streams.active`
    def streamThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("stream execution thread"))
      .map(_.getName).toSet
    val viewsBefore = views
    val activeBefore = spark.streams.active.map(_.id).toSet
    val threadsBefore = streamThreads
    val entries = Seq("funnel_stream", "conversion_stream", "cohort_stream",
      "transitions_stream", "funnel_stream_ooo", "conversion_stream_ooo",
      "cohort_stream_ooo", "transitions_stream_ooo", "stream_dedup",
      "bm25_stream", "drift_psi_cat_stream", "drift_psi_stream",
      "media_dedup_stream")
    for (_ <- 1 to 2; e <- entries)
      graft.SparkEntry.queries(e)(spark, sf).collect()
    assert(views === viewsBefore, "a replay entry leaked temp views")
    assert(spark.streams.active.map(_.id).toSet === activeBefore,
      "a replay entry left a query running")
    assert(streamThreads === threadsBefore,
      "a replay entry left a stream execution thread running")
    assert(keys.map(k => k -> spark.conf.get(k)) === before,
      "a replay entry leaked session confs")
  }
  test("one chunk is one micro-batch: each replay runs exactly its chunks") {
    // chunks per replay entry at sf: the in-order family, the drift
    // monitors and media dedup cut their input into 3; each `*_ooo`
    // adds shuffledReplay's 2 flush chunks to its 3; stream_dedup is
    // one chunk; bm25_stream ends with its watermark-advance chunk
    val chunks = Map(
      "stream_dedup" -> 1, "bm25_stream" -> 2,
      "funnel_stream" -> 3, "conversion_stream" -> 3,
      "cohort_stream" -> 3, "transitions_stream" -> 3,
      "drift_psi_cat_stream" -> 3, "drift_psi_stream" -> 3,
      "media_dedup_stream" -> 3,
      "funnel_stream_ooo" -> 5, "conversion_stream_ooo" -> 5,
      "cohort_stream_ooo" -> 5, "transitions_stream_ooo" -> 5)
    val started = ConcurrentHashMap.newKeySet[UUID]()
    val terminated = ConcurrentHashMap.newKeySet[UUID]()
    val progress = new ConcurrentHashMap[UUID, Integer]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.merge(e.progress.runId, 1, (a: Integer, b: Integer) => a + b)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.add(e.runId)
    }
    spark.streams.addListener(listener)
    try for ((entry, n) <- chunks.toSeq.sortBy(_._1)) {
      started.clear(); terminated.clear(); progress.clear()
      graft.SparkEntry.queries(entry)(spark, sf)
      // drain: listener events arrive asynchronously but in order, so
      // once a run's termination has landed so have all its progresses
      val deadline = System.currentTimeMillis() + 30000
      while (!(started.size == 1 && terminated.containsAll(started)) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(started.size === 1, s"$entry should run one replay")
      val run = started.iterator.next()
      assert(terminated.contains(run), s"$entry: termination never arrived")
      assert(progress.getOrDefault(run, 0).intValue === n,
        s"$entry ran ${progress.getOrDefault(run, 0)} micro-batches for $n chunks")
    } finally spark.streams.removeListener(listener)
  }
}
