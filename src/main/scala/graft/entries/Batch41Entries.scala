package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Tables => T}
import graft.stream.Streaming
import graft.stream.Streaming.TypedEvent

/** Round-14 batch, four fronts:
  *  - the streaming event-analytics family WITHOUT the in-order
  *    arrival contract: the round-13 deploys (Batch40Entries) replay
  *    the events table in per-user event-time order — a contract real
  *    event buses violate constantly. The `*_ooo` entries feed the
  *    SAME kernels through [[Streaming.reorderedStream]] (a
  *    watermarked per-user reorder buffer drained by event-time
  *    timeouts) with a deliberately SHUFFLED replay, hash-match the
  *    batch oracles verbatim, and assert ZERO late drops (the
  *    watermark delay is computed from the replay's own observed
  *    disorder), so the match is exact, not survivorship;
  *  - the wide-band near-dup kernels past the 16-bit birthday knee
  *    (`image_near_dups_wide`, `simhash_pairs_md5_wide`);
  *  - fit/merge/deploy sketch artifacts with in-entry merge laws
  *    (`heavy_hitters_merge`, `unique_stats_merge`, `quantiles_merge`);
  *  - the generator preset tail (`make_erp`, `make_retail_store`) and
  *    the categorical PSI drift twin (`drift_psi_cat`).
  */
object Batch41Entries extends Entries {

  import Batch40Entries.{funnelSteps, h, u}

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
    (replay, Batch40Entries.nUsers(base))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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
      // snapshot the memory sink: a MemoryPlan View can't dedup its
      // references across the counts-vs-totals self-join
      val pairs = sink.filter(col("user_id") >= 0).localCheckpoint()
      val counts = pairs
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum("n").as("_tot"))
      counts.join(totals, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("_tot").cast("double"), 6)
            .as("p"))
        .orderBy("from_type", "to_type")
    }),

    // The wide (2×32-bit multi-index, radius-1 ball) near-dup kernel
    // over the SAME decoded-BMP dHash fixture as image_near_dups —
    // the scale path past the 16-bit bands' birthday knee at ~2^16
    // items (SCALE.md), pigeonhole-exact for hamming <= 3. FULL
    // oracle — image_near_dups' brute-force SQL verbatim: the wide
    // join must land on the identical pair set.
    "image_near_dups_wide" -> ((s, dir) => {
      graft.mm.Multimodal.bandedNearDupsWide(
          graft.mm.Multimodal.imageDHash(Batch40Entries.dhashBmps(s)),
          maxHamming = 3)
        .orderBy("id_a", "id_b")
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

    // Fit/merge/deploy count-min artifact (the daily-append story the
    // one-shot sketches lack): two half-corpus fits merged, the merge
    // law asserted BIT-IDENTICAL to the whole-corpus fit (counter
    // arrays add), then heavy hitters deployed from the merged
    // artifact over Misra-Gries candidates. Rows-only by the
    // shadowed-approximation convention (estimates are
    // engine-specific); heavy_hitters_exact is the green full-oracle
    // twin and SketchArtifactsSpec asserts the superset + eps*N
    // bounds on the artifact path too.
    "heavy_hitters_merge" -> ((s, dir) => {
      import graft.rel.{SketchArtifacts => SA, Sketches}
      val li = T.lineitem(s, dir)
      val halves = Seq(0, 1).map(p =>
        SA.cmsFit(li.filter(col("l_orderkey") % 2 === p), "l_suppkey"))
      val merged = SA.cmsMerge(halves.reduce(_ unionByName _))
      val whole = SA.cmsFit(li, "l_suppkey")
      val Seq(mr, wr) = Seq(merged, whole)
        .map(_.select("n_rows", "sketch").head())
      require(mr.getLong(0) == wr.getLong(0) &&
          java.util.Arrays.equals(mr.getAs[Array[Byte]](1),
            wr.getAs[Array[Byte]](1)),
        "merged half-corpus CMS != whole-corpus CMS (merge law broken)")
      val cands = Sketches.candidateKeys(li, "l_suppkey", 1024)
        .select(col("_k").cast("long").as("l_suppkey"))
      SA.cmsHeavyHitters(merged, cands, "l_suppkey", minCount = 620L)
        .orderBy("l_suppkey")
    }),

    // Fit/merge/deploy HLL artifact: two half-corpus DataSketches HLL
    // fits union-merged, estimate deployed from the artifact with
    // zero corpus touches. The asserted merge law is the standard HLL
    // error bound (3 * 1.04/sqrt(2^12) ~ 4.9%) between the merged and
    // whole-corpus estimates — NOT equality: the union gadget leaves
    // sparse mode earlier than a single-pass fit (measured 1507 vs
    // 1491 at ~1500 true distinct at sf0.01). Rows-only; unique_stats
    // is the green exact twin (Batch32Spec asserts the rsd bound on
    // the same HLL family).
    "unique_stats_merge" -> ((s, dir) => {
      import graft.rel.{SketchArtifacts => SA}
      val o = T.orders(s, dir)
      val halves = Seq(0, 1).map(p =>
        SA.hllFit(o.filter(col("o_orderkey") % 2 === p), "o_custkey"))
      val merged = SA.hllMerge(halves.reduce(_ unionByName _))
      val whole = SA.hllFit(o, "o_custkey")
      val Seq(me, we) = Seq(merged, whole).map(
        SA.hllEstimate(_).select("n_unique_est").head().getLong(0))
      val rse = 3.0 * 1.04 / math.sqrt(1 << 12)
      require(math.abs(me - we) <= rse * math.max(me, we).toDouble,
        s"merged half-corpus HLL estimate $me vs whole-corpus $we " +
          s"breaches the ${rse} relative-error bound")
      SA.hllEstimate(merged)
    }),

    // Fit/merge/deploy GK quantile artifact: per-half Greenwald-
    // Khanna summaries merged, deciles deployed from the artifact.
    // GK merge is NOT bit-identical to a single-pass fit (sample sets
    // are order-dependent) — the asserted law is the eps rank
    // guarantee: every deployed quantile's exact rank lands within
    // 2*eps*N of its target (fit eps + merge eps). Rows-only;
    // quantiles_exact is the green full-oracle twin.
    "quantiles_merge" -> ((s, dir) => {
      import graft.rel.{SketchArtifacts => SA}
      val li = T.lineitem(s, dir)
      val halves = Seq(0, 1).map(p =>
        SA.gkFit(li.filter(col("l_orderkey") % 2 === p), "l_extendedprice",
          relativeError = 1e-4))
      val merged = SA.gkMerge(halves.reduce(_ unionByName _))
      val qs = Seq(0.25, 0.5, 0.75, 0.99)
      val out = SA.gkQuantiles(merged, qs)
      val est = out.head()
      val n = li.count()
      val v = col("l_extendedprice").cast("double")
      val rankAggs = qs.indices.map(i =>
        sum(when(v <= lit(est.getDouble(i)), 1L).otherwise(0L)).as(s"r$i"))
      val ranks = li.agg(rankAggs.head, rankAggs.tail: _*).head()
      qs.indices.foreach { i =>
        val err = math.abs(ranks.getLong(i) - qs(i) * n)
        require(err <= 2 * 1e-4 * n + 1,
          s"q=${qs(i)}: rank error $err > 2*eps*N on the merged artifact")
      }
      out
    }),

    // datasets.Make.makeErp (make.py:2858) — the geospatial-survey
    // re-skin of the makeFields kernel, closing the generator preset
    // tail with make_retail_store below. FULL oracle: md5 draws +
    // affine easting/northing replayed from range(), no RNG state.
    "make_erp" -> ((s, dir) => {
      graft.datasets.Make.makeErp(s, portableHash = true)
        .orderBy("position")
    }),

    // datasets.Make.makeRetailStore (make.py:3360): mixed dtypes —
    // randint, CLIPPED Box-Muller normal (round-9 z, no second
    // rounding: the affine of a round-9 value is pure IEEE and the
    // 6-then-9 double rounding sits on decimal tie boundaries),
    // clipped exponential, categorical, and the reference's linear
    // campaign-response score against a normal threshold (same
    // association order both engines -> deterministic comparison).
    // FULL oracle.
    "make_retail_store" -> ((s, dir) => {
      graft.datasets.Make.makeRetailStore(s, portableHash = true)
        .orderBy("customer_id")
    }),

    // datasets.Make.makeWellLogging (make.py:2371): depth-station
    // grid with four uniform physical logs. FULL oracle — note the
    // non-integer range spans are IEEE subtractions in BOTH engines
    // (a decimal literal like 199.8 parses to a different double).
    "make_well_logging" -> ((s, dir) => {
      graft.datasets.Make.makeWellLogging(s, portableHash = true)
        .orderBy("depth")
    }),

    // datasets.Make.makeMiningOps (make.py:1720): flat per-operation
    // geology rows — 12 fields across uniform / randint / categorical
    // draws. FULL oracle.
    "make_mining_ops" -> ((s, dir) => {
      graft.datasets.Make.makeMiningOps(s, portableHash = true)
        .orderBy("op_id")
    }),

    // datasets.Make.makeAgronomy (make.py:1529): the farm × year ×
    // crop TRIPLE grid flattened onto one range() — the 3-level
    // generalization of makeDomain. FULL oracle.
    "make_agronomy" -> ((s, dir) => {
      graft.datasets.Make.makeAgronomy(s, portableHash = true)
        .orderBy("farm_id", "year", "crop")
    }),

    // datasets.Make.makeElogging (make.py:3038): uniform timestamps
    // inside [start, end], severity picks, derived messages, emitted
    // in time order. FULL oracle (timestamp arithmetic in UTC on both
    // sides — the session timezone convention).
    "make_elogging" -> ((s, dir) => {
      graft.datasets.Make.makeElogging(s, portableHash = true)
    }),

    // datasets.Make.makeDrillOps (make.py:3886): hydrogeological
    // parameter rows over the reference's published ranges. FULL
    // oracle — every non-integer span an IEEE subtraction.
    "make_drill_ops" -> ((s, dir) => {
      graft.datasets.Make.makeDrillOps(s, portableHash = true)
        .orderBy("op_id")
    }),

    // datasets.Make.makeCcFactors (make.py:3525): 21 Normal(100,
    // scale) climate factors + the feedbacks target (row mean vs the
    // exact stacked median x the reference's opinions coefficient —
    // the fitted-scalar pattern: one sort-based percentile, one
    // driver literal). FULL oracle.
    "make_cc_factors" -> ((s, dir) => {
      graft.datasets.Make.makeCcFactors(s, portableHash = true)
        .orderBy("sample_id")
    }),

    // datasets.Make.makeWaterDemand (make.py:3709): 34 quantitative
    // uniforms + categorical axes + the DEPENDENT region draw (a hash
    // pick from the row's ethnicity's own region list). FULL oracle —
    // the dependency replays as a CASE chain.
    "make_water_demand" -> ((s, dir) => {
      graft.datasets.Make.makeWaterDemand(s, portableHash = true)
        .orderBy("sample_id")
    }),

    // io.Npy parser (closes the read_data numpy descope,
    // gofast/api/property.py:2781): the arange(12,'<f4').reshape(3,4)
    // * 0.5 fixture synthesized IN-MEMORY by the npy writer and parsed
    // back by the same `elements` kernel the binaryFile scan uses —
    // no absolute fixture path to break under relocation (real
    // np.save-written files stay golden-tested in NpySpec). FULL
    // oracle — the closed form (i*4+j)*0.5, exact in f4 and f8 alike.
    "read_npy" -> ((s, dir) => {
      val blob = graft.io.Npy.npyBytes("<f4", Seq(3L, 4L),
        Array.tabulate(12)(_ * 0.5))
      graft.io.Npy.readNpyBlobs(s, Seq(("f4_2d.npy", blob)))
        .select(col("dtype"),
          element_at(col("coords"), 1).as("i"),
          element_at(col("coords"), 2).as("j"),
          col("value"))
        .orderBy("i", "j")
    }),

    // Categorical PSI — drift_psi's twin where bins are VALUE GROUPS
    // (full-outer category domain, one-sided categories floored: the
    // drift signal itself), NULL its own category. Same stable
    // even/odd split as drift_psi so PSI lands near 0 and the oracle
    // exercises the share/term arithmetic, not a lucky drift. FULL
    // oracle.
    "drift_psi_cat" -> ((s, dir) => {
      val o = T.orders(s, dir)
      graft.stats.DataAudit.psiCategorical(
          o.filter(col("o_orderkey") % 2 === 0),
          o.filter(col("o_orderkey") % 2 === 1),
          "o_orderpriority")
        .orderBy("category")
    })
  )

  /** The batch operators' oracles, verbatim (shared with the in-order
    * deploys): out-of-order delivery must land on the identical
    * answers. */
  val oracleSql: Map[String, String] = Map(
    "funnel_stream_ooo" -> Batch40Entries.oracleSql("funnel_stream"),
    "conversion_stream_ooo" -> Batch40Entries.oracleSql("conversion_stream"),
    "cohort_stream_ooo" -> Batch40Entries.oracleSql("cohort_stream"),
    "transitions_stream_ooo" -> Batch40Entries.oracleSql("transitions_stream"),
    "image_near_dups_wide" -> Batch40Entries.oracleSql("image_near_dups"),

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

    // Replays makeErp: flat draws on tags 910000..910003, then the
    // reference's simplified affine conversion off the ROUNDED lon/lat.
    "make_erp" ->
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id),
        |base AS (SELECT id,
        |  ROUND(34.0 + ${u(910000)} * 2.0, 6) AS latitude,
        |  ROUND(-118.5 + ${u(910001)} * 1.5, 6) AS longitude,
        |  1 + ${h(910002)} % 9 AS step,
        |  ROUND(10.0 + ${u(910003)} * 990.0, 6) AS resistivity
        |FROM ids)
        |SELECT ROUND((longitude - (-118.5)) * 100000.0, 6) AS easting,
        |  ROUND((latitude - 34.0) * 100000.0, 6) AS northing,
        |  longitude, latitude, id + 1 AS position, step, resistivity
        |FROM base ORDER BY position""".stripMargin,

    // Replays makeRetailStore: round-9 Box-Muller z (the Batch20
    // gaussian spelling), IEEE affine + clip with NO second rounding,
    // inverse-CDF exponential, and the linear response score in the
    // Spark side's exact association order.
    "make_retail_store" ->
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id),
        |base AS (SELECT id AS customer_id,
        |  18 + ${h(910000)} % 52 AS age,
        |  GREATEST(20000.0, LEAST(100000.0, 50000.0 + 15000.0 *
        |    ROUND(sqrt(-2.0 * ln(${u(910001)} + 4.9e-324)) *
        |      cos(6.283185307179586 * ${u(920001)}), 9))) AS income,
        |  1 + ${h(910002)} % 9 AS shopping_frequency,
        |  GREATEST(10.0, LEAST(500.0,
        |    ROUND(-100.0 * ln(1.0 - ${u(910003)}), 9)))
        |    AS last_purchase_amount,
        |  (['electronics', 'fashion', 'home_garden', 'sports',
        |    'health_beauty'])[CAST(1 + ${h(910004)} % 5 AS INT)]
        |    AS preferred_category,
        |  GREATEST(-1e18, LEAST(1e18, 0.0 + 1.0 *
        |    ROUND(sqrt(-2.0 * ln(${u(910005)} + 4.9e-324)) *
        |      cos(6.283185307179586 * ${u(920005)}), 9))) AS zr,
        |  GREATEST(-1e18, LEAST(1e18, 0.5 + 0.1 *
        |    ROUND(sqrt(-2.0 * ln(${u(910006)} + 4.9e-324)) *
        |      cos(6.283185307179586 * ${u(920006)}), 9))) AS thr
        |FROM ids)
        |SELECT customer_id, age, income, shopping_frequency,
        |  last_purchase_amount, preferred_category,
        |  CAST(0.3 * zr + 0.1 * (age / 70.0) + 0.2 * (income / 100000.0)
        |    + 0.3 * (shopping_frequency / 10.0)
        |    - 0.1 * (last_purchase_amount / 500.0) > thr AS INT)
        |    AS likely_to_respond
        |FROM base ORDER BY customer_id""".stripMargin,

    // Replays makeWellLogging: 400 depth stations (np.arange end-
    // exclusive), ranges as IEEE subtractions.
    "make_well_logging" ->
      s"""WITH ids AS (SELECT unnest(range(0, 400)) AS id)
        |SELECT ROUND(0.0 + CAST(id AS DOUBLE) * 0.5, 6) AS depth,
        |  ROUND(20.0 + ${u(910000)} * (150.0 - 20.0), 6) AS gamma_ray,
        |  ROUND(0.2 + ${u(910001)} * (200.0 - 0.2), 6) AS resistivity,
        |  ROUND(15.0 + ${u(910002)} * (45.0 - 15.0), 6) AS neutron_porosity,
        |  ROUND(1.95 + ${u(910003)} * (2.95 - 1.95), 6) AS density
        |FROM ids ORDER BY depth""".stripMargin,

    // Replays makeMiningOps: 12 fields on tags 910000..910011.
    "make_mining_ops" ->
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id)
        |SELECT id AS op_id,
        |  ROUND(0.0 + ${u(910000)} * (1000.0 - 0.0), 6) AS easting,
        |  ROUND(0.0 + ${u(910001)} * (1000.0 - 0.0), 6) AS northing,
        |  ROUND(0.0 + ${u(910002)} * (500.0 - 0.0), 6) AS depth,
        |  (['gold_ore', 'iron_ore', 'copper_ore', 'silver_ore',
        |    'lead_ore', 'zinc_ore', 'nickel_ore', 'bauxite'])
        |    [CAST(1 + ${h(910003)} % 8 AS INT)] AS ore_type,
        |  ROUND(0.1 + ${u(910004)} * (20.0 - 0.1), 6) AS ore_concentration,
        |  ROUND(50.0 + ${u(910005)} * (200.0 - 50.0), 6) AS drill_diameter,
        |  ROUND(3.0 + ${u(910006)} * (15.0 - 3.0), 6) AS blast_hole_depth,
        |  (['anfo', 'emulsion', 'dynamite', 'slurry'])
        |    [CAST(1 + ${h(910007)} % 4 AS INT)] AS explosive_type,
        |  ROUND(10.0 + ${u(910008)} * (500.0 - 10.0), 6) AS explosive_amount,
        |  (['excavator', 'drill', 'loader', 'truck'])
        |    [CAST(1 + ${h(910009)} % 4 AS INT)] AS equipment_type,
        |  0 + ${h(910010)} % 15 AS equipment_age,
        |  ROUND(1000.0 + ${u(910011)} * (10000.0 - 1000.0), 6)
        |    AS daily_production
        |FROM ids ORDER BY op_id""".stripMargin,

    // Replays makeAgronomy: 10 farms x 5 years x 4 crops off
    // range(200), fields on tags 910000..910005.
    "make_agronomy" ->
      s"""WITH ids AS (SELECT unnest(range(0, 200)) AS id)
        |SELECT id // 20 AS farm_id,
        |  (id // 4) % 5 AS year,
        |  (['maize', 'wheat', 'rice', 'soybean'])
        |    [CAST(id % 4 + 1 AS INT)] AS crop,
        |  ROUND(4.0 + ${u(910000)} * (9.0 - 4.0), 6) AS soil_ph,
        |  ROUND(10.0 + ${u(910001)} * (35.0 - 10.0), 6) AS temperature,
        |  ROUND(200.0 + ${u(910002)} * (2000.0 - 200.0), 6) AS rainfall,
        |  (['glyphosate', 'atrazine', 'malathion', 'carbaryl', 'none'])
        |    [CAST(1 + ${h(910003)} % 5 AS INT)] AS pesticide_type,
        |  ROUND(0.1 + ${u(910004)} * (10.0 - 0.1), 6) AS pesticide_amount,
        |  ROUND(100.0 + ${u(910005)} * (10000.0 - 100.0), 6) AS crop_yield
        |FROM ids ORDER BY farm_id, year, crop""".stripMargin,

    // Replays makeElogging: randint seconds (inclusive span 2592001)
    // onto the UTC start timestamp, level pick, derived message.
    "make_elogging" ->
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id),
        |base AS (SELECT id AS event_id,
        |  TIMESTAMP '2021-01-01 00:00:00'
        |    + to_seconds(0 + ${h(910000)} % 2592001) AS timestamp,
        |  (['INFO', 'DEBUG', 'WARNING', 'ERROR', 'CRITICAL'])
        |    [CAST(1 + ${h(910001)} % 5 AS INT)] AS log_level
        |FROM ids)
        |SELECT event_id, timestamp, log_level,
        |  'This is a ' || log_level || ' message.' AS message
        |FROM base ORDER BY timestamp, event_id""".stripMargin,

    // Replays makeDrillOps: 11 fields on tags 910000..910010, spans
    // as IEEE subtractions.
    "make_drill_ops" ->
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id)
        |SELECT id AS op_id,
        |  ROUND(0.01 + ${u(910000)} * (0.35 - 0.01), 6) AS porosity,
        |  ROUND(1e-05 + ${u(910001)} * (1000.0 - 1e-05), 6) AS permeability,
        |  ROUND(1e-06 + ${u(910002)} * (0.1 - 1e-06), 6)
        |    AS hydraulic_conductivity,
        |  ROUND(1e-04 + ${u(910003)} * (1000.0 - 1e-04), 6) AS transmissivity,
        |  ROUND(1e-05 + ${u(910004)} * (0.2 - 1e-05), 6) AS storativity,
        |  ROUND(0.01 + ${u(910005)} * (0.3 - 0.01), 6) AS specific_yield,
        |  (['Low Density', 'Medium Density', 'High Density'])
        |    [CAST(1 + ${h(910006)} % 3 AS INT)]
        |    AS fracture_density_and_orientation,
        |  ROUND(1.0 + ${u(910007)} * (500.0 - 1.0), 6) AS water_table_depth,
        |  ROUND(100000.0 + ${u(910008)} * (10000000.0 - 100000.0), 6)
        |    AS aquifer_pressure,
        |  (['Potable', 'Non-potable', 'Industrial', 'Agricultural'])
        |    [CAST(1 + ${h(910009)} % 4 AS INT)] AS water_quality_parameters,
        |  ROUND(0.0 + ${u(910010)} * (1.0 - 0.0), 6) AS temperature_gradients
        |FROM ids ORDER BY op_id""".stripMargin,

    // Replays makeCcFactors: 21 round-9 Box-Muller factors (tags
    // 910000+j / 920000+j), exact stacked median, the 1.001 opinions
    // coefficient, row mean in the Spark side's association order.
    "make_cc_factors" -> ccFactorsOracle,

    // Replays makeWaterDemand: 34 quant uniforms, categorical axes,
    // round-6 economic status, and the region-given-ethnicity CASE
    // chain on the dedicated 910100 tag.
    "make_water_demand" -> waterDemandOracle,

    // The npy fixture's closed form: value(i,j) = (i*4+j)*0.5, exact
    // in both f4 and f8.
    "read_npy" ->
      """SELECT '<f4' AS dtype, r.i, c.j,
        |  CAST(r.i * 4 + c.j AS DOUBLE) * 0.5 AS value
        |FROM (SELECT unnest(range(0, 3)) AS i) r,
        |     (SELECT unnest(range(0, 4)) AS j) c
        |ORDER BY i, j""".stripMargin,

    // Replays psiCategorical: category counts, full-outer domain,
    // floored shares, one ln crossing — the drift_psi arithmetic on
    // value groups.
    "drift_psi_cat" ->
      """WITH r AS (SELECT COALESCE(CAST(o_orderpriority AS VARCHAR),
        |    '(null)') AS category FROM orders WHERE o_orderkey % 2 = 0),
        |c AS (SELECT COALESCE(CAST(o_orderpriority AS VARCHAR),
        |    '(null)') AS category FROM orders WHERE o_orderkey % 2 = 1),
        |rc AS (SELECT category, COUNT(*) AS cr FROM r GROUP BY 1),
        |cc AS (SELECT category, COUNT(*) AS cn FROM c GROUP BY 1),
        |j AS (SELECT COALESCE(rc.category, cc.category) AS category,
        |    CAST(COALESCE(rc.cr, 0) AS DOUBLE) AS cr,
        |    CAST(COALESCE(cc.cn, 0) AS DOUBLE) AS cn
        |  FROM rc FULL OUTER JOIN cc ON rc.category = cc.category),
        |t AS (SELECT SUM(cr) AS tr, SUM(cn) AS tc FROM j),
        |s AS (SELECT category,
        |    GREATEST(cr / (SELECT tr FROM t), 1e-6) AS p,
        |    GREATEST(cn / (SELECT tc FROM t), 1e-6) AS q FROM j)
        |SELECT category, ROUND(p, 6) AS ref_share,
        |  ROUND(q, 6) AS cur_share,
        |  ROUND((q - p) * ln(q / p), 6) AS psi_term
        |FROM s ORDER BY category""".stripMargin
  )

  /** Round-9 Box–Muller z on the (tag, tag+10000) uniform pair — the
    * Batch20 gaussian spelling, the NormField kernel. */
  private def z(tag: Int): String =
    s"ROUND(sqrt(-2.0 * ln(${u(tag)} + 4.9e-324)) * " +
      s"cos(6.283185307179586 * ${u(tag + 10000)}), 9)"

  /** SQL list literal for a category Seq. */
  private def catList(values: Seq[String]): String =
    values.map(v => s"'$v'").mkString("[", ", ", "]")

  private def ccFactorsOracle: String = {
    import graft.datasets.Make.CcFactorScales
    val cols = CcFactorScales.zipWithIndex.map { case ((n, sc), j) =>
      s"  (100.0 + $sc.0 * ${z(910000 + j)}) AS $n"
    }.mkString(",\n")
    val names = CcFactorScales.map(_._1)
    s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id),
      |base AS (SELECT id AS sample_id,
      |$cols
      |FROM ids),
      |med AS (SELECT median(v) AS m FROM
      |  (SELECT unnest([${names.mkString(", ")}]) AS v FROM base))
      |SELECT base.*,
      |  CAST(((${names.mkString(" + ")}) / 21.0) >
      |    (SELECT m FROM med) * 1.001 AS INT) AS feedbacks
      |FROM base ORDER BY sample_id""".stripMargin
  }

  private def waterDemandOracle: String = {
    import graft.datasets.Make.{WaterQuantNeeds, WaterQualityLevels,
      WaterEthnicities, Sdg6Challenges}
    val quant = WaterQuantNeeds.zipWithIndex.map { case (n, j) =>
      s"  ROUND(0.0 + ${u(910000 + j)} * (100.0 - 0.0), 6) AS $n"
    }.mkString(",\n")
    def pick(values: Seq[String], tag: Int): String =
      s"(${catList(values)})[CAST(1 + ${h(tag)} % ${values.size} AS INT)]"
    val region = WaterEthnicities.map { case (lang, regs) =>
      s"    WHEN ethnicity = '$lang' THEN ${pick(regs, 910100)}"
    }.mkString("  CASE\n", "\n", "\n  END AS region")
    s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id),
      |base AS (SELECT id AS sample_id,
      |$quant,
      |  ${pick(WaterQualityLevels, 910034)} AS water_quality,
      |  ${pick(WaterEthnicities.map(_._1), 910035)} AS ethnicity,
      |  ROUND(1000.0 + ${u(910036)} * (50000.0 - 1000.0), 6)
      |    AS economic_status,
      |  ${pick(Sdg6Challenges, 910037)} AS sdg6_challenge,
      |  id
      |FROM ids)
      |SELECT sample_id, ${WaterQuantNeeds.mkString(", ")},
      |  water_quality, ethnicity, economic_status,
      |$region,
      |  sdg6_challenge
      |FROM base ORDER BY sample_id""".stripMargin
  }
}
