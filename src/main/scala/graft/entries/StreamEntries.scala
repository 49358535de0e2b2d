package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Tables => T, Fixtures}
import graft.mm.Multimodal
import graft.stream.Streaming
import graft.stream.Streaming.TypedEvent

/** Registry queries for `graft.stream`: the 13 streaming deploys,
  * each replayed end-to-end through a MemoryStream inside the
  * correctness loop (see [[graft.stream.Streaming.replay]]).
  *
  * The event-analytics deploys (funnel / transitions / conversion time
  * / cohort retention) keep incremental per-user state via
  * mapGroupsWithState / flatMapGroupsWithState and share their BATCH
  * operator's oracle verbatim. The `*_ooo` twins drop the in-order
  * arrival contract, which real event buses violate constantly: they
  * feed the SAME kernels through [[Streaming.reorderedStream]] (a
  * watermarked per-user reorder buffer drained by event-time timeouts)
  * with a deliberately SHUFFLED replay, hash-match the batch oracles
  * verbatim, and assert ZERO late drops (the watermark delay is
  * computed from the replay's own observed disorder), so the match is
  * exact, not survivorship.
  */
object StreamEntries extends Entries {

  /** Fitted BM25 index per sf dir, cut once (every run reads it, and
    * a cut survives `clearCache()`) — the deploy contract IS
    * fit-once/score-anywhere, so the bm25_stream entry measures
    * scoring a stream against an EXISTING index, not a refit per
    * iteration (bm25_topk already measures the fit+retrieve path). */
  private def bm25Index(s: SparkSession, dir: String): DataFrame =
    Fixtures.cached(s"bm25_index:$dir")(
      graft.core.Cut.of(
        graft.text.Retrieval.bm25Index(T.documents(s, dir), "doc_id", "text"),
        graft.core.Cut.Reread))

  private val funnelSteps = Seq("view", "click", "purchase")

  /** Per-(from, to) transition counts and each pair's share of its
    * source type: the batch `event_transitions` tail over a replay's
    * memory sink. The per-source total is a window over the counts,
    * not a self-join, which a memory-sink relation cannot dedup. */
  private def transitionShares(pairs: DataFrame): DataFrame =
    pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("_tot", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("_tot").cast("double"), 6)
          .as("p"))
      .orderBy("from_type", "to_type")

  /** Replay order: the exactness contract is per-user non-decreasing
    * ts across micro-batches with equal-ts ties resolved earlier-step
    * first — sorting the whole replay by (ts, step index, event_id)
    * and chunking preserves exactly the in-batch fold order across
    * any chunk boundary. */
  private def orderedEvents(s: SparkSession, dir: String,
                            stepIdx: Map[String, Int]): Array[TypedEvent] = {
    import s.implicits._
    T.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[TypedEvent].collect()
      .sortBy(e => (Streaming.epochMicros(e.ts),
        stepIdx.getOrElse(e.event_type, Int.MaxValue), e.event_id))
  }

  /** Expected state rows of every per-user stateful deploy here: one
    * state entry per distinct user in the (already driver-collected)
    * replay — the known-at-deploy-time quantity
    * [[Streaming.statePartitionsFor]] sizes state partitions from. */
  private def nUsers(evs: Array[TypedEvent]): Long =
    evs.iterator.map(_.user_id).toSet.size.toLong

  /** Deterministic bounded shuffle of the events table: each event is
    * displaced from its (ts, event_id) position by an md5 draw of up
    * to 200 slots — the per-user in-order contract is violated
    * all over the replay, but the disorder stays watermark-bounded.
    * Replayed in 3 micro-batches (the in-order family's convention —
    * the 200-slot disorder window straddles every batch boundary
    * densely, so cross-batch buffering is exercised throughout) plus
    * [[Streaming.shuffledReplay]]'s two flush batches. */
  /** The shuffled replay and its state rows (one OooBuf row per
    * distinct user). A fixture: it is a pure function of the immutable
    * testdata dir, so all four OOO entries (and every timed pass) share
    * one collect+shuffle; the deployed operators' cost is untouched. */
  private def shuffledEvents(s: SparkSession, dir: String)
      : (Streaming.ShuffledReplay, Long) =
    Fixtures.cached(s"shuffled_events:$dir")(buildShuffled(s, dir))

  private def buildShuffled(s: SparkSession, dir: String)
      : (Streaming.ShuffledReplay, Long) = {
    import s.implicits._
    val base = T.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[TypedEvent].collect()
      .sortBy(e => (Streaming.epochMicros(e.ts), e.event_id))
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val replay = Streaming.shuffledReplay(base, 3) { e =>
      val md = md5.digest(
        s"ooo-${e.event_id}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (((md(0) & 0xff) << 8) | (md(1) & 0xff)) % 200
    }
    (replay, nUsers(base))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3 geo nearest over the FULL customer×supplier (no pre-filter):
    // proves the internally-banded search returns the exact global
    // nearest while every join in the plan stays a keyed equi-join —
    // the DuckDB oracle brute-forces all pairs.
    // §2.12 streaming dedup throughput probe: 120k events (2 identical
    // arrivals per key) through MemoryStream → watermarked
    // dropDuplicatesWithinWatermark → memory sink, run to completion.
    // Duplicate rows are bit-identical, so the surviving row per key is
    // deterministic regardless of which arrival wins — fully
    // oracle-checkable, and the one streaming north-star with a bench
    // number. (State scales by distinct keys inside the watermark
    // horizon; eviction is what makes this viable on an unbounded
    // stream.)
    "stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val n = 120000
      val rows = (0 until n).map { i =>
        val k = (i % (n / 2)).toLong
        (k, (i / 1000).toLong, k.toDouble)
      }
      // one micro-batch; state = one row per distinct key inside the
      // watermark horizon
      Streaming.replay(s, Seq(rows), "append", stateRows = n / 2) { in =>
        val df = in.toDF("k", "toff", "v")
          .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("toff")))
        Streaming.dedupWithinWatermark(df, "ts", "60 seconds", Seq("k"))
          .select("k", "v")
      }.orderBy("k")
    }),

    // Streaming.bm25StreamScores replayed END-TO-END: the bm25_topk
    // query set (every 97th doc's first 5 tokens, fed as token ARRAYS)
    // arrives on a MemoryStream, scores against the FITTED bm25Index
    // under a watermark, and the closed window's append-mode output is
    // the result — the streaming deploy path inside the driver's
    // correctness loop. FULL oracle: the stream emits per-(query, doc)
    // round-6 scores, which is bm25_topk's scored CTE without the
    // rank filter. StreamSpec asserts the batch scorer parity;
    // RetrievalSpec asserts this entry contains bm25_topk's top-k.
    "bm25_stream" -> ((s, dir) => {
      import s.implicits._
      val docs = T.documents(s, dir)
      val index = bm25Index(s, dir)
      // driver-bounded: |corpus| / 97 query rows
      val qRows = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          slice(graft.text.TextFns.tokens(lower(col("text"))), 1, 5)
            .as("toks"))
        .as[(Long, Seq[String])].collect()
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      // one micro-batch: the queries plus a watermark-advancing tail
      // row — tokenless, matches nothing, but pushes event time far
      // enough that the 10:00 window closes
      val batch = qRows.toSeq.map { case (qid, tk) => (t0, qid, tk) } :+
        ((java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), -1L,
          Seq.empty[String]))
      // no stateRows: the window-agg state here is per (query, doc)
      // candidate pair — Σ_t df(t), CORPUS-proportional and unknown at
      // deploy time — so state partitions keep the session default
      // (the scale-honest choice; only the checksum toggle is scoped)
      graft.stream.Streaming.replay(s, Seq(batch), "append") { in =>
        graft.stream.Streaming.bm25StreamScores(
            in.toDF("ts", "qid", "qtoks"), index,
            "qid", "qtoks", "ts", "5 minutes", "10 minutes")
          .select(col("query"), col("doc"), col("score"))
      }.orderBy("query", "doc")
    }),

    // Streaming.funnelStream replayed END-TO-END: the events table
    // arrives in event-time order on a MemoryStream in three
    // micro-batches; per-user step-state (k longs) advances via
    // mapGroupsWithState, the update-mode sink keeps the monotone
    // max_step trail, and funnelStreamCounts collapses it to the
    // batch funnel's (step, step_name, n_users). FULL oracle — the
    // batch funnel's SQL verbatim. StreamSpec asserts batch parity
    // on hand-built multi-batch sequences (including the equal-ts
    // tie rule and cross-batch chaining).
    "funnel_stream" -> ((s, dir) => {
      import s.implicits._
      val stepIdx = funnelSteps.zipWithIndex.toMap
      val evs = orderedEvents(s, dir, stepIdx)
        .filter(e => stepIdx.contains(e.event_type))
      // three micro-batches: state must chain across micro-batch
      // boundaries, not just within one batch
      val sink = Streaming.replay(s, Streaming.microBatches(evs.toSeq, 3),
          "update", nUsers(evs))(
        Streaming.funnelStream(_, funnelSteps).toDF())
      Streaming.funnelStreamCounts(sink, funnelSteps).orderBy("step")
    }),

    // Streaming.conversionTimeStream replayed END-TO-END: per-user
    // (t0, emitted) state appends one conversion-delay row per user;
    // the sink side owns the quantile summary. FULL oracle — the
    // batch conversion_time's SQL verbatim.
    "conversion_stream" -> ((s, dir) => {
      import s.implicits._
      val evs = orderedEvents(s, dir, Map("view" -> 0, "purchase" -> 1))
        .filter(e => e.event_type == "view" || e.event_type == "purchase")
      Streaming.conversionTimeSummary(
        Streaming.replay(s, Streaming.microBatches(evs.toSeq, 3), "append",
            nUsers(evs))(
          Streaming.conversionTimeStream(_, "view", "purchase").toDF()))
    }),

    // Streaming.cohortRetentionStream replayed END-TO-END: per-user
    // (cohort, seen-offsets) state appends one row per (user, period)
    // activity; the sink side's one groupBy is the batch operator's
    // count. FULL oracle — the batch cohort_retention's SQL verbatim.
    // With this the WHOLE event-analytics family (funnel, transitions,
    // conversion time, cohort retention) has a streaming deploy in the
    // correctness loop.
    "cohort_stream" -> ((s, dir) => {
      import s.implicits._
      val evs = orderedEvents(s, dir, Map.empty)
      Streaming.cohortRetentionCounts(
          Streaming.replay(s, Streaming.microBatches(evs.toSeq, 3), "append",
              nUsers(evs))(
            Streaming.cohortRetentionStream(_, "week").toDF()))
        .orderBy("cohort", "period_offset")
    }),

    // Streaming.transitionsStream replayed END-TO-END: one
    // (from, to) pair appended per consecutive per-user event, the
    // stored last event chaining across the three micro-batches; the
    // sink side owns the count + row-normalize (pairs append exactly
    // once). FULL oracle — event_transitions' SQL verbatim.
    "transitions_stream" -> ((s, dir) => {
      import s.implicits._
      val evs = orderedEvents(s, dir, Map.empty)
      val sink = Streaming.replay(s, Streaming.microBatches(evs.toSeq, 3),
          "append", nUsers(evs))(Streaming.transitionsStream(_).toDF())
      transitionShares(sink)
    }),

    // Streaming.funnelStreamOoo replayed END-TO-END on SHUFFLED
    // events: the reorder buffer holds each user's events until the
    // watermark passes them, then folds with the batch funnel's exact
    // kernel; the update-trail collapse is unchanged. FULL oracle —
    // the batch funnel's SQL verbatim — plus a zero-late-drop
    // assertion inside the entry.
    "funnel_stream_ooo" -> ((s, dir) => {
      import s.implicits._
      val (r, stateRows) = shuffledEvents(s, dir)
      val late = s.sparkContext.longAccumulator("funnel_ooo_late")
      val sink = Streaming.replay(s, r.chunks, "append", stateRows)(
        Streaming.funnelStreamOoo(_, funnelSteps, r.delay, Some(late)).toDF())
      require(late.value == 0L,
        s"funnel_stream_ooo dropped ${late.value} late events")
      Streaming.funnelStreamCounts(sink, funnelSteps).orderBy("step")
    }),

    // Streaming.conversionTimeStreamOoo on the same shuffled replay:
    // per-user (t0, emitted) state behind the reorder buffer — the
    // first qualifying toStep event folds at its true event-time
    // position, so out-of-order arrival can't emit a wrong delay.
    // FULL oracle — the batch conversion_time's SQL verbatim.
    "conversion_stream_ooo" -> ((s, dir) => {
      import s.implicits._
      val (r, stateRows) = shuffledEvents(s, dir)
      val late = s.sparkContext.longAccumulator("conversion_ooo_late")
      val sink = Streaming.replay(s, r.chunks, "append", stateRows)(
        Streaming.conversionTimeStreamOoo(_, "view", "purchase", r.delay,
          Some(late)).toDF())
      require(late.value == 0L,
        s"conversion_stream_ooo dropped ${late.value} late events")
      Streaming.conversionTimeSummary(sink)
    }),

    // Streaming.cohortRetentionStreamOoo on the same shuffled replay:
    // the watermark release guarantees the first folded event IS the
    // user's min-ts event, so the cohort assignment matches the batch
    // MIN(period) even though the first ARRIVAL may be a later event.
    // FULL oracle — the batch cohort_retention's SQL verbatim.
    "cohort_stream_ooo" -> ((s, dir) => {
      import s.implicits._
      val (r, stateRows) = shuffledEvents(s, dir)
      val late = s.sparkContext.longAccumulator("cohort_ooo_late")
      val sink = Streaming.replay(s, r.chunks, "append", stateRows)(
        Streaming.cohortRetentionStreamOoo(_, "week", r.delay, Some(late))
          .toDF())
      require(late.value == 0L,
        s"cohort_stream_ooo dropped ${late.value} late events")
      Streaming.cohortRetentionCounts(sink.filter(col("user_id") >= 0))
        .orderBy("cohort", "period_offset")
    }),

    // Streaming.transitionsStreamOoo on the same shuffled replay —
    // the family member that breaks WORST without the buffer, since
    // consecutive-pair emission is order-critical. FULL oracle —
    // event_transitions' SQL verbatim.
    "transitions_stream_ooo" -> ((s, dir) => {
      import s.implicits._
      val (r, stateRows) = shuffledEvents(s, dir)
      val late = s.sparkContext.longAccumulator("transitions_ooo_late")
      val sink = Streaming.replay(s, r.chunks, "append", stateRows)(
        Streaming.transitionsStreamOoo(_, r.delay, Some(late)).toDF())
      require(late.value == 0L,
        s"transitions_stream_ooo dropped ${late.value} late events")
      transitionShares(sink.filter(col("user_id") >= 0))
    }),

    // Streaming PSI drift monitor: edges fitted once from the even
    // half (the fitted-scalar pattern), the odd half replayed through
    // a MemoryStream in 3 micro-batches, bin counts maintained by the
    // ENGINE in Complete mode (state = 10 rows, shuffle keyed on 10
    // bins), PSI computed from the accumulated sink with the batch
    // kernel — drift_psi's oracle verbatim. FULL oracle.
    // The categorical monitor as the same fit/deploy split: reference
    // category counts fitted once, the current stream's per-category
    // counts maintained by the ENGINE (Complete mode, one state row
    // per live category), PSI off the accumulated sink with the batch
    // arithmetic verbatim — drift_psi_cat's oracle verbatim. FULL
    // oracle.
    "drift_psi_cat_stream" -> ((s, dir) => {
      import s.implicits._
      val o = T.orders(s, dir)
      val refCounts = graft.stats.DataAudit.categoryCounts(
        o.filter(col("o_orderkey") % 2 === 0), "o_orderpriority", "_cr")
      val cur = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderpriority").cast("string")).as[String].collect()
      // state = one count row per live category (exact, driver-known)
      val counts = graft.stream.Streaming.replay(s,
          graft.stream.Streaming.microBatches(cur.toSeq, 3), "complete",
          stateRows = cur.distinct.length.toLong)(in =>
        graft.stats.DataAudit.psiCatStreamCounts(
          in.toDF("o_orderpriority"), "o_orderpriority"))
      graft.stats.DataAudit.psiCatOfCounts(refCounts, counts)
        .orderBy("category")
    }),

    // The PSI monitor as a continuous deploy: reference quantile edges
    // fitted once, per-bin counts maintained by the engine (Complete mode,
    // state = bins rows), PSI read off the sink with the batch arithmetic
    // verbatim (gofast/dataops/quality.py:1863).
    "drift_psi_stream" -> ((s, dir) => {
      import s.implicits._
      val li = T.lineitem(s, dir)
      val ref = li.filter(col("l_orderkey") % 2 === 0)
        .select("l_extendedprice")
      val edges = graft.stats.DataAudit.psiFitEdges(ref, "l_extendedprice")
      val cur = li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_extendedprice").cast("double")).as[Double].collect()
      // state = one count row per PSI bin (the fitted decile grid)
      val counts = graft.stream.Streaming.replay(s,
          graft.stream.Streaming.microBatches(cur.toSeq, 3), "complete",
          stateRows = 10L)(in =>
        graft.stats.DataAudit.psiStreamCounts(
          in.toDF("l_extendedprice"), "l_extendedprice", edges))
      graft.stats.DataAudit.psiOfCounts(
          graft.stats.DataAudit.binCounts(ref, "l_extendedprice", edges, "_cr"),
          counts, bins = 10)
        .orderBy("bin")
    }),

    // Streaming media dedup-on-ingest, oracle-anchored: the 32-image
    // closed-form corpus + 16 byte-identical clones + 2 corrupt blobs
    // replayed over a MemoryStream through mediaDedupStream
    // (dropDuplicatesWithinWatermark on the exact 64-bit dHash), then
    // the SURVIVORS are re-fingerprinted. Exactly one survivor per
    // distinct fingerprint must remain (which clone of a tie survives
    // is arrival-order dependent, so the entry projects the
    // fingerprints, not the ids) and both undecodable rows must pass
    // through un-deduped. DuckDB replays the fingerprints analytically
    // from the same closed-form pixels — a dedup that dropped nothing
    // (dup fingerprint rows) or too much (a missing fingerprint, an
    // eaten corrupt row) breaks the row set.
    "media_dedup_stream" -> ((s, dir) => {
      import s.implicits._
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      // 50 bounded fixture rows: the closed-form corpus collected once
      val base = MediaEntries.dhashBmps(s)
        .select("media_id", "content")
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val rows: Seq[(java.sql.Timestamp, Long, Array[Byte])] =
        (base.map { case (id, c) => (ts, id, c) } ++
          base.filter(_._1 < 16).map { case (id, c) => (ts, 100L + id, c) } ++
          Seq(200L, 201L).map(id => (ts, id, Array[Byte](9, 9, 9)))).toSeq
      // three micro-batches of 17, 17 and 16 rows; state = one row
      // per distinct fingerprint in the horizon, bounded by the
      // replay's row count (driver-known)
      val kept = graft.stream.Streaming.replay(s,
          graft.stream.Streaming.microBatches(rows, 3), "append",
          stateRows = rows.length.toLong)(in =>
        graft.mm.Multimodal.mediaDedupStream(
            in.toDF("ts", "media_id", "content"), "ts", "10 minutes")
          .select("media_id", "content"))
      graft.mm.Multimodal.imageDHash(kept)
        .select(col("ok"), col("b0"), col("b1"), col("b2"), col("b3"))
        .orderBy(col("ok").desc, col("b0"), col("b1"), col("b2"),
          col("b3"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "stream_dedup" ->
      """SELECT i AS k, CAST(i AS DOUBLE) AS v
        |FROM (SELECT unnest(range(0, 60000)) AS i)
        |ORDER BY k""".stripMargin,

    // The streamed scores are exactly bm25_topk's scored CTE with no
    // rank filter: per-(query, doc) contribution sums, round-6.
    "bm25_stream" ->
      """WITH dt AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE len(trim(text)) > 0),
        |dtf AS (SELECT doc, token, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
        |dl AS (SELECT doc, SUM(tf) AS dl FROM dtf GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
        |       FROM documents),
        |avg_dl AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT n FROM nn)
        |             AS avgdl FROM dl),
        |dfx AS (SELECT token, COUNT(*) AS df FROM dtf GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT query, token FROM (
        |    SELECT doc_id AS query, unnest(list_slice(
        |        string_split_regex(trim(lower(text)), '\s+'), 1, 5)) AS token
        |    FROM documents WHERE doc_id % 97 = 0 AND len(trim(text)) > 0)),
        |scored AS (
        |  SELECT q.query, dtf.doc,
        |    ROUND(SUM(
        |      LN(1.0 + ((SELECT n FROM nn) - dfx.df + 0.5) / (dfx.df + 0.5))
        |      * (CAST(dtf.tf AS DOUBLE) * 2.2)
        |      / (CAST(dtf.tf AS DOUBLE) + 1.2 * (0.25 +
        |          0.75 * CAST(dl.dl AS DOUBLE) / (SELECT avgdl FROM avg_dl)))
        |    ), 6) AS score
        |  FROM q
        |  JOIN dtf ON q.token = dtf.token
        |  JOIN dfx ON q.token = dfx.token
        |  JOIN dl ON dtf.doc = dl.doc
        |  GROUP BY 1, 2)
        |SELECT query, doc, score FROM scored
        |ORDER BY query, doc""".stripMargin,

    // cohort_retention's oracle, verbatim.
    "cohort_stream" -> TsEntries.cohortRetentionSql,

    // conversion_time's oracle, verbatim.
    "conversion_stream" -> TsEntries.conversionTimeSql,

    // The batch funnel's oracle, verbatim — the streaming deploy must
    // reach the identical counts.
    "funnel_stream" -> TsEntries.funnelSql,

    // event_transitions' oracle, verbatim.
    "transitions_stream" -> TsEntries.eventTransitionsSql,

    // The batch operators' oracles, verbatim (shared with the in-order
    // deploys): out-of-order delivery must land on the identical answers.
    "funnel_stream_ooo" -> TsEntries.funnelSql,

    "conversion_stream_ooo" -> TsEntries.conversionTimeSql,
    "cohort_stream_ooo" -> TsEntries.cohortRetentionSql,
    "transitions_stream_ooo" -> TsEntries.eventTransitionsSql,

    // accumulated-stream PSI == batch PSI on the same split
    "drift_psi_stream" -> StatsEntries.driftPsiSql,

    "drift_psi_cat_stream" -> StatsEntries.driftPsiCatSql,

    // one row per DISTINCT closed-form fingerprint (the clones add no
    // new groups) + the two pass-through undecodables; the 9×8
    // thumbnail bits replayed analytically, image_hash's band packing
    "media_dedup_stream" ->
      s"""WITH ${MediaEntries.dhashPixCte},
        |hv AS (SELECT media_id,
        |  CAST(SUM(CASE WHEN idx // 16 = 0
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b0,
        |  CAST(SUM(CASE WHEN idx // 16 = 1
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b1,
        |  CAST(SUM(CASE WHEN idx // 16 = 2
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b2,
        |  CAST(SUM(CASE WHEN idx // 16 = 3
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b3
        |  FROM bits GROUP BY media_id)
        |SELECT TRUE AS ok, b0, b1, b2, b3
        |  FROM (SELECT DISTINCT b0, b1, b2, b3 FROM hv)
        |UNION ALL
        |SELECT FALSE AS ok, CAST(NULL AS INT) AS b0,
        |  CAST(NULL AS INT) AS b1, CAST(NULL AS INT) AS b2,
        |  CAST(NULL AS INT) AS b3 FROM range(2)
        |ORDER BY ok DESC, b0, b1, b2, b3""".stripMargin
  )

  override val nljAllowed: Set[String] = Set(
    // drift_psi_stream / drift_psi_cat_stream deploy the batch
    // psiOfCounts arithmetic over the engine-maintained sink counts:
    // the (total_ref, total_cur) 1-row share-normalizing broadcast
    "drift_psi_stream", "drift_psi_cat_stream")
}
