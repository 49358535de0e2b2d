package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.stream.Streaming
import graft.stream.Streaming.TypedEvent

/** Round-13 batch: (1) streaming deploys for the WHOLE event-analytics
  * family — funnel / transitions / conversion time / cohort retention
  * as incremental per-user state via mapGroupsWithState /
  * flatMapGroupsWithState, replayed end-to-end through a MemoryStream
  * inside the correctness loop (the bm25_stream pattern), each sharing
  * its BATCH operator's oracle verbatim; (2) the count-min
  * heavy-hitters sketch twin; (3) the makeDomain generator presets;
  * (4) perceptual image dHash + audio energy fingerprints with the
  * banded near-dup kernel, over closed-form decoded fixtures.
  */
object Batch40Entries extends Entries {

  private[entries] val funnelSteps = Seq("view", "click", "purchase")

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
  private[entries] def nUsers(evs: Array[TypedEvent]): Long =
    evs.iterator.map(_.user_id).toSet.size.toLong
  /** dHash fixture: 32 real 16×16 BMPs in 4 pixel-pattern groups
    * (g = id % 4; luma = (x·(37+26g) + 11y) mod 256 — the multiplier
    * wraps several times across x, so the gradient-sign pattern
    * differs per group). Images 16..31 are NEAR-duplicates of their
    * id−16 sibling: one perturbed pixel at (5,4) — a site the 9×8
    * thumbnail samples — flipping at most 2 dHash bits. The oracle
    * recomputes every bit from this closed form; the Spark side must
    * really decode the BMP container to match. */
  private[graft] def dhashBmps(s: SparkSession): DataFrame = {
    val rows = (0 until 32).map { id =>
      val m = 37 + (id % 4) * 26
      (id.toLong,
        graft.mm.Multimodal.encodeBmp(16, 16, (x, y) =>
          (x * m + y * 11 +
            (if (id >= 16 && x == 5 && y == 4) 96 else 0)) % 256),
        "bmp", 16, 16, 0L)
    }
    graft.mm.Multimodal.toMediaFrame(s, rows)
  }

  /** Audio-fingerprint fixture: 16 real 16-bit WAVs of 1300 samples
    * (65 frames × exactly 20 samples), 4 sawtooth groups (g = id % 4;
    * s(i) = ((i·(7+6g)) mod 2001) − 1000). Clips 8..15 are
    * NEAR-duplicates of their id−8 sibling: samples [200, 210) — 10
    * samples inside frame 10 — shifted by +500, flipping at most the
    * two gradient bits that touch frame 10. The oracle recomputes
    * every frame energy from this closed form; the Spark side must
    * really decode the WAV container to match. */
  private[graft] def fingerprintWavs(s: SparkSession): DataFrame = {
    val rows = (0 until 16).map { id =>
      val m = 7 + (id % 4) * 6
      val samples = Array.tabulate(1300) { i =>
        (i * m) % 2001 - 1000 +
          (if (id >= 8 && i >= 200 && i < 210) 500 else 0)
      }
      (id.toLong, graft.mm.Multimodal.encodeWav(samples, 8000),
        "wav", 0, 0, 1300L * 1000 / 8000)
    }
    graft.mm.Multimodal.toMediaFrame(s, rows)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Energy-envelope audio fingerprint over real decoded WAVs: 64
    // frame-energy gradient bits as four 16-bit bands. FULL oracle —
    // the analytic sample replay, the image_features convention.
    "audio_fingerprint" -> ((s, dir) => {
      graft.mm.Multimodal.audioFingerprint(fingerprintWavs(s))
        .orderBy("media_id")
    }),

    // Audio near-duplicates: the SAME bandedNearDups kernel as the
    // image path over the audio fingerprint — multimodal dedup covers
    // text, embeddings, images AND audio. FULL oracle — DuckDB
    // brute-forces all 120 pairs from the same bits.
    "audio_near_dups" -> ((s, dir) => {
      graft.mm.Multimodal.bandedNearDups(
          graft.mm.Multimodal.audioFingerprint(fingerprintWavs(s)),
          maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Perceptual dHash over real decoded BMPs: gradient bits from the
    // 9×8 thumbnail, emitted as four 16-bit bands. FULL oracle — the
    // analytic pixel replay, the image_features convention.
    "image_hash" -> ((s, dir) => {
      graft.mm.Multimodal.imageDHash(dhashBmps(s)).orderBy("media_id")
    }),

    // Image near-duplicates: banded equi-join on the dHash bands
    // (pigeonhole: hamming <= 3 shares a band), exact bit_count
    // verify — multimodal dedup joining the text dedup family. FULL
    // oracle — DuckDB brute-forces all 496 pairs from the same bits.
    "image_near_dups" -> ((s, dir) => {
      graft.mm.Multimodal.imageNearDups(
          graft.mm.Multimodal.imageDHash(dhashBmps(s)), maxHamming = 3)
        .orderBy("id_a", "id_b")
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

    // datasets.Make.makeDomain presets — the reference's domain-
    // flavored generator tail (make_african_demo / make_gadget_sales /
    // make_medical_diagnosis and the other re-skins) closed by ONE
    // parameterized entity×period grid kernel. All FULL oracle:
    // deterministic md5 draws replayed from range() — no input table,
    // no RNG state.
    "make_demo" -> ((s, dir) => {
      graft.datasets.Make.makeAfricanDemo(s, portableHash = true)
        .orderBy("country", "year")
    }),

    "make_sales" -> ((s, dir) => {
      graft.datasets.Make.makeGadgetSales(s, portableHash = true)
        .orderBy("device", "day")
    }),

    "make_medical" -> ((s, dir) => {
      graft.datasets.Make.makeMedicalDiagnosis(s, nPatients = 1000L,
          portableHash = true)
        .orderBy("patient_id")
    }),

    // Population Stability Index — the numeric-feature drift monitor
    // next to corpus_js's token axis: reference = even-order prices,
    // current = odd-order prices (a stable split, so PSI lands near 0
    // — the monitoring fixture a healthy pipeline reports). Edges are
    // exact reference deciles (the iqr_range-proven quantile parity),
    // shares floored at 1e-6, terms round-6 after the one ln crossing.
    "drift_psi" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      graft.stats.DataAudit.psi(
          li.filter(col("l_orderkey") % 2 === 0).select("l_extendedprice"),
          li.filter(col("l_orderkey") % 2 === 1).select("l_extendedprice"),
          "l_extendedprice", bins = 10)
        .orderBy("bin")
    }),

    // Count-min approximate heavy hitters — the third sketch of the
    // trio (HLL++ unique_stats_approx, GK quantiles_approx): per-
    // partition Misra-Gries candidates, one count-min estimate pass,
    // no exact-count shuffle at all. Rows-only by design (sketch
    // internals are engine-specific); heavy_hitters_exact is the
    // green full-oracle twin and RelSpec asserts the superset +
    // eps*N error bounds. capacity 1024 >= N/minCount at every sf
    // here (600k/620 at sf0.1), so the no-false-negative guarantee
    // holds on this data.
    "heavy_hitters_approx" -> ((s, dir) => {
      graft.rel.Sketches.heavyHittersApprox(T.lineitem(s, dir),
          "l_suppkey", minCount = 620L, capacity = 1024)
        .orderBy("l_suppkey")
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
      // snapshot the memory sink: a MemoryPlan View can't dedup its
      // references across the counts-vs-totals self-join
      val pairs = sink.localCheckpoint()
      val counts = pairs
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum("n").as("_tot"))
      counts.join(totals, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("_tot").cast("double"), 6)
            .as("p"))
        .orderBy("from_type", "to_type")
    })
  )

  /** The md5 60-bit integer draw — the Make portable hash family. */
  private[entries] def h(tag: Int): String =
    s"CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-$tag'), 1, 15) AS BIGINT)"

  /** The md5 uniform in [0,1) (the make_walk oracle's spelling). */
  private[entries] def u(tag: Int): String = s"${h(tag)} / 1152921504606846976.0"

  /** The dHash fixture's analytic thumbnail-pixel CTE (shared by both
    * image oracles): v(media_id, tx, ty) for the 9×8 grid. */
  private[entries] val dhashPixCte =
    """ids AS (SELECT unnest(range(0, 32)) AS media_id),
      |t AS (SELECT g.media_id, tx.i AS tx, ty.i AS ty,
      |    ((tx.i * 16 // 9) * (37 + (g.media_id % 4) * 26)
      |      + (ty.i * 2) * 11
      |      + CASE WHEN g.media_id >= 16 AND tx.i * 16 // 9 = 5
      |          AND ty.i * 2 = 4 THEN 96 ELSE 0 END) % 256 AS v
      |  FROM ids g,
      |    (SELECT unnest(range(0, 9)) AS i) tx,
      |    (SELECT unnest(range(0, 8)) AS i) ty),
      |bits AS (SELECT a.media_id, a.ty * 8 + a.tx AS idx,
      |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
      |  FROM t a JOIN t b ON a.media_id = b.media_id AND a.ty = b.ty
      |    AND b.tx = a.tx + 1
      |  WHERE a.tx < 8)""".stripMargin

  /** The audio fixture's analytic frame-energy bits CTE (shared by
    * both audio oracles). */
  private val audioBitsCte =
    """ids AS (SELECT unnest(range(0, 16)) AS media_id),
      |sm AS (SELECT g.media_id, i.i AS i,
      |    (i.i * (7 + (g.media_id % 4) * 6)) % 2001 - 1000
      |      + CASE WHEN g.media_id >= 8 AND i.i >= 200 AND i.i < 210
      |          THEN 500 ELSE 0 END AS s
      |  FROM ids g, (SELECT unnest(range(0, 1300)) AS i) i),
      |en AS (SELECT media_id, i // 20 AS k,
      |    SUM(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS e
      |  FROM sm GROUP BY 1, 2),
      |bits AS (SELECT a.media_id, a.k AS idx,
      |    CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
      |  FROM en a JOIN en b ON a.media_id = b.media_id AND b.k = a.k + 1
      |  WHERE a.k < 64)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // Replays audioFingerprint from the closed-form samples: same
    // 20-sample frames, same energy gradients, same band packing.
    "audio_fingerprint" ->
      s"""WITH $audioBitsCte
        |SELECT media_id, TRUE AS ok,
        |  CAST(SUM(CASE WHEN idx // 16 = 0
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b0,
        |  CAST(SUM(CASE WHEN idx // 16 = 1
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b1,
        |  CAST(SUM(CASE WHEN idx // 16 = 2
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b2,
        |  CAST(SUM(CASE WHEN idx // 16 = 3
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b3
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin,

    // Brute-forces all 120 pairs from the same bits.
    "audio_near_dups" ->
      s"""WITH $audioBitsCte
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
        |    AS hamming
        |FROM bits a JOIN bits b ON a.idx = b.idx
        |  AND a.media_id < b.media_id
        |GROUP BY 1, 2 HAVING SUM(CASE WHEN a.bit <> b.bit
        |  THEN 1 ELSE 0 END) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Replays imageDHash from the closed-form pixels: same thumbnail
    // floor-sampling, same gradient bits, same 16-bit band packing.
    "image_hash" ->
      s"""WITH $dhashPixCte
        |SELECT media_id, TRUE AS ok,
        |  CAST(SUM(CASE WHEN idx // 16 = 0
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b0,
        |  CAST(SUM(CASE WHEN idx // 16 = 1
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b1,
        |  CAST(SUM(CASE WHEN idx // 16 = 2
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b2,
        |  CAST(SUM(CASE WHEN idx // 16 = 3
        |    THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b3
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin,

    // Brute-forces all 496 pairs from the same bits — the banded join
    // must reproduce exactly the pairs at hamming <= 3.
    "image_near_dups" ->
      s"""WITH $dhashPixCte
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT)
        |    AS hamming
        |FROM bits a JOIN bits b ON a.idx = b.idx
        |  AND a.media_id < b.media_id
        |GROUP BY 1, 2 HAVING SUM(CASE WHEN a.bit <> b.bit
        |  THEN 1 ELSE 0 END) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // Replays psi: quantile_cont deciles over the reference, bin =
    // 1 + #edges strictly below, floored shares, round-6 terms.
    "drift_psi" ->
      """WITH r AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_orderkey % 2 = 0),
        |c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_orderkey % 2 = 1),
        |e AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
        |    0.6, 0.7, 0.8, 0.9]) AS edges FROM r),
        |rc AS (SELECT 1 + len(list_filter((SELECT edges FROM e),
        |    x -> v > x)) AS bin, COUNT(*) AS cr FROM r GROUP BY 1),
        |cc AS (SELECT 1 + len(list_filter((SELECT edges FROM e),
        |    x -> v > x)) AS bin, COUNT(*) AS cn FROM c GROUP BY 1),
        |d AS (SELECT unnest(range(1, 11)) AS bin),
        |j AS (SELECT d.bin,
        |    CAST(COALESCE(rc.cr, 0) AS DOUBLE) AS cr,
        |    CAST(COALESCE(cc.cn, 0) AS DOUBLE) AS cn
        |  FROM d LEFT JOIN rc ON d.bin = rc.bin
        |  LEFT JOIN cc ON d.bin = cc.bin),
        |t AS (SELECT CAST(SUM(cr) AS DOUBLE) AS tr,
        |    CAST(SUM(cn) AS DOUBLE) AS tc FROM j),
        |s AS (SELECT bin,
        |    GREATEST(cr / (SELECT tr FROM t), 1e-6) AS p,
        |    GREATEST(cn / (SELECT tc FROM t), 1e-6) AS q
        |  FROM j)
        |SELECT CAST(bin AS INT) AS bin,
        |  round(p, 6) AS ref_share, round(q, 6) AS cur_share,
        |  round((q - p) * ln(q / p), 6) AS psi_term
        |FROM s ORDER BY bin""".stripMargin,

    // Replays makeAfricanDemo: 7 countries x 61 years off range(427),
    // country = id // 61, year = 1960 + id % 61, fields on tags
    // 910000..910004 with the same affine maps.
    "make_demo" ->
      s"""WITH ids AS (SELECT unnest(range(0, 427)) AS id)
        |SELECT
        |  (['nigeria', 'egypt', 'south_africa', 'ethiopia', 'kenya',
        |    'ghana', 'morocco'])[CAST(id // 61 + 1 AS INT)] AS country,
        |  1960 + id % 61 AS year,
        |  1000000 + ${h(910000)} % 199000000 AS population,
        |  ROUND(20.0 + ${u(910001)} * 30.0, 6) AS birth_rate,
        |  ROUND(5.0 + ${u(910002)} * 15.0, 6) AS death_rate,
        |  ROUND(10.0 + ${u(910003)} * 75.0, 6) AS urbanization_rate,
        |  ROUND(500.0 + ${u(910004)} * 19500.0, 6) AS gdp_per_capita
        |FROM ids ORDER BY country, year""".stripMargin,

    // Replays makeGadgetSales: 5 devices x 120 days off range(600).
    "make_sales" ->
      s"""WITH ids AS (SELECT unnest(range(0, 600)) AS id)
        |SELECT
        |  (['smartphone', 'laptop', 'tablet', 'smartwatch',
        |    'camera'])[CAST(id // 120 + 1 AS INT)] AS device,
        |  id % 120 AS day,
        |  10 + ${h(910000)} % 490 AS units_sold,
        |  ROUND(50.0 + ${u(910001)} * 1450.0, 6) AS unit_price,
        |  ROUND(0.0 + ${u(910002)} * 0.3, 6) AS discount_pct,
        |  (['north', 'south', 'east',
        |    'west'])[CAST(1 + ${h(910003)} % 4 AS INT)] AS region
        |FROM ids ORDER BY device, day""".stripMargin,

    // Replays makeMedicalDiagnosis: flat per-patient draws off
    // range(1000).
    "make_medical" ->
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id)
        |SELECT id AS patient_id,
        |  18 + ${h(910000)} % 72 AS age,
        |  ROUND(36.0 + ${u(910001)} * 5.5, 6) AS temperature_c,
        |  90 + ${h(910002)} % 90 AS systolic_bp,
        |  120 + ${h(910003)} % 180 AS cholesterol,
        |  (['healthy', 'hypertension', 'diabetes',
        |    'flu'])[CAST(1 + ${h(910004)} % 4 AS INT)] AS diagnosis
        |FROM ids ORDER BY patient_id""".stripMargin,

    // cohort_retention's oracle, verbatim.
    "cohort_stream" ->
      """WITH c AS (SELECT user_id AS u,
        |    MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS p
        |  FROM events)
        |SELECT c.cohort,
        |  CAST(date_diff('day', c.cohort, a.p) / 7 AS BIGINT)
        |    AS period_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN c ON a.u = c.u
        |GROUP BY 1, 2 ORDER BY cohort, period_offset""".stripMargin,

    // conversion_time's oracle, verbatim.
    "conversion_stream" ->
      """WITH f AS (SELECT user_id AS u, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id AS u,
        |    MIN(CAST(FLOOR(epoch(e.ts)) AS BIGINT))
        |      - MIN(CAST(FLOOR(epoch(f.t0)) AS BIGINT)) AS dt
        |  FROM events e JOIN f ON e.user_id = f.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= f.t0
        |  GROUP BY 1)
        |SELECT COUNT(*) AS n_converted,
        |  MIN(dt) AS min_s,
        |  round(quantile_cont(dt, 0.25), 6) AS p25_s,
        |  round(quantile_cont(dt, 0.5), 6) AS median_s,
        |  round(quantile_cont(dt, 0.75), 6) AS p75_s,
        |  MAX(dt) AS max_s,
        |  round(CAST(SUM(dt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mean_s
        |FROM c""".stripMargin,

    // The batch funnel's oracle, verbatim — the streaming deploy must
    // reach the identical counts.
    "funnel_stream" ->
      """WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, MIN(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id AS u, MIN(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
        |UNION ALL
        |SELECT 2, 'click', COUNT(*) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', COUNT(*) FROM s3
        |ORDER BY step""".stripMargin,

    // event_transitions' oracle, verbatim.
    "transitions_stream" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin
  )
}
