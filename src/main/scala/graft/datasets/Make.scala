package graft.datasets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic dataset generators — the reference's `gofast.datasets`
  * surface (make.py: `make_classification`:718, `make_regression`:1052,
  * `make_data`:539; simulate.py's seasonal families) re-expressed as
  * distributed expression plans.
  *
  * The reference materializes numpy arrays on one node; here every
  * generator is `spark.range(n)` + deterministic column expressions —
  * no RNG state, no driver data, no shuffle: generation parallelizes
  * to however many range splits the cluster gives it, so "make 10¹⁰
  * test rows" is a plan, not an allocation. Determinism is by
  * construction: value = f(seed, id, column index) through a hash, so
  * any row can be regenerated anywhere, independent of partitioning.
  *
  * Two hash families, same plan shape (the dedup-twin convention):
  * xxhash64 (codegen, the default) and an md5-derived 60-bit hash any
  * SQL engine reproduces — `make_regression`'s portable mode is
  * FULL-oracle-checked against DuckDB replaying the identical
  * arithmetic.
  */
object Make {

  private val TwoPi = 2.0 * math.Pi

  /** Uniform in [0,1): fast path — xxhash64 of (seed, id, tag) mapped
    * from [Long.Min, Long.Max] onto the unit interval. */
  private def u01(seed: Long, id: Column, tag: Int): Column =
    xxhash64(lit(seed), id, lit(tag)).cast("double") /
      lit(2.0 * Long.MaxValue.toDouble) + lit(0.5)

  /** Portable uniform in [0,1): 60-bit md5 prefix over a canonical
    * string key — bit-equal in any engine with md5 (DuckDB:
    * CAST('0x'||substr(md5(s),1,15) AS BIGINT) / 2^60). */
  private def u01Md5(seed: Long, id: Column, tag: Int): Column =
    md5Key(seed, id, lit(tag)).cast("double") / lit(math.pow(2.0, 60))

  /** The portable 60-bit hash of the canonical key `seed-id-tag`. */
  private def md5Key(seed: Long, id: Column, tag: Column): Column =
    graft.text.Dedup.md5Hash64(concat_ws("-", lit(seed), id, tag))

  /** Standard normal via Box–Muller from two independent uniforms.
    * `round(_, 9)` before use when the value must be engine-portable
    * (ln/cos/sqrt cross libm). The +5e-324 floor keeps ln away from
    * an exact-zero uniform. */
  private def gaussian(u1: Column, u2: Column): Column =
    sqrt(lit(-2.0) * log(u1 + lit(java.lang.Double.MIN_VALUE))) *
      cos(lit(TwoPi) * u2)

  private def uniform(portable: Boolean, seed: Long, id: Column, tag: Int)
      : Column = if (portable) u01Md5(seed, id, tag) else u01(seed, id, tag)

  /** `make_regression` (make.py:1052): `nInformative` gaussian features
    * carry fixed integer weights w_j = ((j·37 + 11) mod 21) − 10, the
    * rest are pure noise features with weight 0;
    * y = Σ w_j·x_j + bias + noise·g. Columns: id, x0..x{p−1}, y
    * (doubles rounded 9 — the engine-portability guard).
    * `portableHash = true` switches to the md5 hash family (the
    * oracle-checked mode); same plan either way. */
  def makeRegression(spark: SparkSession, nSamples: Long,
                     nFeatures: Int = 10, nInformative: Int = 5,
                     noise: Double = 0.0, bias: Double = 0.0,
                     seed: Long = 42L,
                     portableHash: Boolean = false): DataFrame = {
    require(nFeatures > 0 && nInformative > 0 && nInformative <= nFeatures,
      s"need 0 < nInformative <= nFeatures, got $nInformative/$nFeatures")
    val id = col("id")
    def weight(j: Int): Double =
      if (j < nInformative) ((j * 37 + 11) % 21 - 10).toDouble else 0.0
    val xs = (0 until nFeatures).map { j =>
      round(gaussian(uniform(portableHash, seed, id, 2 * j),
        uniform(portableHash, seed, id, 2 * j + 1)), 9).as(s"x$j")
    }
    val base = spark.range(nSamples).select(id +: xs: _*)
    val g = round(gaussian(
      uniform(portableHash, seed, id, 2 * nFeatures),
      uniform(portableHash, seed, id, 2 * nFeatures + 1)), 9)
    val y = if (portableHash) {
      // engine-exact target: the rounded features re-enter as exact
      // scale-9 decimals (the nearest scale-9 decimal of a rounded
      // double is unique, so both engines recover the same value) and
      // the whole linear form stays in decimal — a double-sum rounded
      // at digit 9 flips the last digit between engines on half-ulp
      // boundaries, a decimal sum cannot. noise/bias are rounded to
      // 9 dp by the cast; weights are integers by construction.
      val dec = "decimal(11,9)"
      val lin = (0 until nFeatures)
        .map(j => col(s"x$j").cast(dec) *
          lit(weight(j).toLong).cast("decimal(2,0)"))
        .reduce(_ + _)
      val eps = if (noise == 0.0) lit(BigDecimal(0)).cast(dec)
        else lit(noise).cast(dec) * g.cast(dec)
      round(lin + lit(bias).cast(dec) + eps, 9).cast("double")
    } else {
      val lin = (0 until nFeatures)
        .map(j => col(s"x$j") * lit(weight(j)))
        .reduce(_ + _)
      val eps = if (noise == 0.0) lit(0.0) else lit(noise) * g
      round(lin + lit(bias) + eps, 9)
    }
    base.withColumn("y", y)
  }

  /** `make_classification` (make.py:718): classes are hypercube
    * vertices in the informative subspace (center_j = ±classSep by bit
    * j of the class id — the reference's cluster-at-vertices design),
    * informative features = center + unit gaussian, redundant features
    * are fixed linear combinations of two informative ones, the rest
    * pure noise; `flipY` of rows get their label rotated (label
    * noise). Columns: id, x0..x{p−1}, label. */
  def makeClassification(spark: SparkSession, nSamples: Long,
                         nFeatures: Int = 10, nClasses: Int = 2,
                         nInformative: Int = 4, nRedundant: Int = 2,
                         classSep: Double = 1.0, flipY: Double = 0.01,
                         seed: Long = 42L,
                         portableHash: Boolean = false): DataFrame = {
    require(nClasses >= 2, s"nClasses must be >= 2, got $nClasses")
    require(nInformative + nRedundant <= nFeatures,
      "nInformative + nRedundant must be <= nFeatures")
    require(nClasses <= (1L << math.min(nInformative, 30)),
      s"$nInformative informative dims hold at most 2^$nInformative classes")
    val id = col("id")
    val label0 = if (portableHash)
      pmod(md5Key(seed, id, lit(1000003)), lit(nClasses))
    else pmod(xxhash64(lit(seed), id, lit("label")), lit(nClasses))
    // portable mode rounds ONLY the libm-crossing gaussian sums (the
    // make_regression lesson: a single round after libm is
    // engine-stable; re-rounding composed arithmetic is not, and pure
    // IEEE arithmetic on identical doubles needs no round at all)
    def maybeRound(c: Column): Column = if (portableHash) round(c, 9) else c
    val informative = (0 until nInformative).map { j =>
      val centerSign = (shiftright(label0, j).bitwiseAND(1) * 2 - 1)
        .cast("double")
      maybeRound(centerSign * lit(classSep) +
        gaussian(uniform(portableHash, seed, id, 2 * j),
          uniform(portableHash, seed, id, 2 * j + 1))).as(s"x$j")
    }
    val withInf = spark.range(nSamples)
      .select(id +: label0.as("_l0") +: informative: _*)
    val redundant = (0 until nRedundant).map { r =>
      val a = r % nInformative
      val b = (r * 31 + 7) % nInformative
      (col(s"x$a") * lit(0.5 + 0.25 * r) + col(s"x$b") * lit(1.0 - 0.125 * r))
        .as(s"x${nInformative + r}")
    }
    val noiseFeats = (nInformative + nRedundant until nFeatures).map { j =>
      maybeRound(gaussian(uniform(portableHash, seed, id, 2 * j),
        uniform(portableHash, seed, id, 2 * j + 1))).as(s"x$j")
    }
    val flipped = when(uniform(portableHash, seed, id, 999983) < lit(flipY),
      pmod(col("_l0") + 1, lit(nClasses))).otherwise(col("_l0"))
    withInf.select(
      (id +: col("_l0") +: (0 until nInformative).map(j => col(s"x$j"))) ++
        redundant ++ noiseFeats: _*)
      .withColumn("label", flipped.cast("int"))
      .drop("_l0")
  }

  /** `make_data` (make.py:539): a mixed-schema frame for exercising
    * cleaners/encoders — numeric, categorical, date and nullable
    * columns, all deterministic in (seed, id). `nanPct` nulls that
    * fraction of the nullable numeric column (the reference's
    * `nan_percentage`). */
  def makeData(spark: SparkSession, nSamples: Long,
               categories: Seq[String] = Seq("alpha", "beta", "gamma", "delta"),
               nanPct: Double = 0.0, seed: Long = 42L): DataFrame = {
    val id = col("id")
    val catArr = array(categories.map(lit): _*)
    val num = round(gaussian(u01(seed, id, 0), u01(seed, id, 1)) * 10 + 50, 6)
    val nullable = when(u01(seed, id, 4) < lit(nanPct), lit(null))
      .otherwise(round(u01(seed, id, 5) * 100, 6))
    spark.range(nSamples).select(id,
      num.as("value"),
      nullable.as("maybe_value"),
      element_at(catArr, (pmod(xxhash64(lit(seed), id, lit(2)),
        lit(categories.size)) + 1).cast("int")).as("category"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        pmod(xxhash64(lit(seed), id, lit(3)), lit(365)).cast("int"))
        .as("event_date"))
  }

  /** Seasonal series generator (the structural kernel under
    * simulate.py's electricity/traffic/weather/stock families):
    * y = level + slope·t + amp·sin(2π·t/period) + noise·g per series,
    * per-series parameters hash-derived from the series id. Columns:
    * series_id, t, y. One range, no shuffle; nSeries·length rows.
    *
    * `portableHash = true` is the oracle-checked mode: md5 uniforms,
    * and the two libm-crossing terms (sin, the Box–Muller gaussian)
    * each round to 9 dp BEFORE entering the pure-IEEE linear form
    * (the make_regression lesson — round once after libm, then
    * identical doubles compose identically on any engine). */
  def makeSeries(spark: SparkSession, nSeries: Int, length: Int,
                 period: Int = 24, noise: Double = 0.1,
                 seed: Long = 42L,
                 portableHash: Boolean = false): DataFrame = {
    require(nSeries > 0 && length > 0 && period > 0, "positive sizes required")
    // integral `div`, not `/`: `/` on longs is DOUBLE division, whose
    // rounded quotient can cross a series boundary once id approaches
    // 2^53 — div stays exact at any scale
    val t = (col("id") % length).cast("long")
    val sid = expr(s"id div ${length}L")
    val level = uniform(portableHash, seed, sid, 10) * 100
    val slope = (uniform(portableHash, seed, sid, 11) - 0.5) * 2
    val amp = uniform(portableHash, seed, sid, 12) * 20
    def maybeRound(c: Column): Column = if (portableHash) round(c, 9) else c
    val g = maybeRound(gaussian(uniform(portableHash, seed, col("id"), 13),
      uniform(portableHash, seed, col("id"), 14)))
    val season = maybeRound(
      sin(lit(TwoPi) * t.cast("double") / lit(period.toDouble)))
    spark.range(nSeries.toLong * length).select(
      sid.as("series_id"), t.as("t"),
      round(level + slope * t.cast("double") + amp * season +
        lit(noise) * g, 9).as("y"))
  }

  /** Multiplicative random-walk price series — the structural kernel
    * under `simulate_stock_prices` (simulate.py:1391: `np.cumprod(1 +
    * normal shocks)` per company) and `make_financial_market_trends`
    * (make.py:70: sinusoidal market trend over a base price).
    *
    * Mechanically distinct from the row-independent generators above:
    * each price depends on ALL prior shocks of its series, so the plan
    * is range → per-row shock → ONE hash-partitioned window cumsum of
    * round-9 log-returns — still a single shuffle, linear at any
    * scale, and deterministic under any partitioning because the
    * window order is (series, t).
    *
    * price_t = round(base · exp(Σ_{i≤t} ret_i) + trendStrength · base
    * · sin(2π·trendFreq·t), 6) with ret_i = round(ln(1 + vol·g_i), 9).
    * Portable mode rounds each libm crossing once (gaussian, ln, sin;
    * final round-6 absorbs the exp) — the ordered window sum of
    * identical round-9 doubles is sequential IEEE addition in both
    * engines, so the cumsum itself needs no round. Columns:
    * series_id, t, ret, price. */
  def makeWalk(spark: SparkSession, nSeries: Int, length: Int,
               vol: Double = 0.01, basePrice: Double = 100.0,
               trendStrength: Double = 0.0, trendFreq: Double = 1.0 / 252,
               seed: Long = 42L,
               portableHash: Boolean = false): DataFrame = {
    require(nSeries > 0 && length > 0, "positive sizes required")
    // |g| < 9.2 under Box–Muller from a 60-bit uniform, so ln(1+vol·g)
    // is total only for vol < ~0.108; beyond it a negative argument
    // would make ln return NULL, the window sum would silently SKIP
    // the null, and every later price would be quietly wrong
    require(vol >= 0 && vol <= 0.1,
      s"vol must be in [0, 0.1] so ln(1 + vol*g) stays defined for " +
        s"every Box-Muller draw; got $vol")
    import org.apache.spark.sql.expressions.Window
    val t = (col("id") % length).cast("long")
    val sid = expr(s"id div ${length}L")
    def maybeRound(c: Column): Column = if (portableHash) round(c, 9) else c
    val g = maybeRound(gaussian(uniform(portableHash, seed, col("id"), 20),
      uniform(portableHash, seed, col("id"), 21)))
    val ret = maybeRound(log(lit(1.0) + lit(vol) * g))
    val w = Window.partitionBy("series_id").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trend = lit(trendStrength * basePrice) *
      maybeRound(sin(lit(TwoPi * trendFreq) * t.cast("double")))
    spark.range(nSeries.toLong * length)
      .select(sid.as("series_id"), t.as("t"), ret.as("ret"), trend.as("_tr"))
      .withColumn("price",
        round(lit(basePrice) * exp(sum(col("ret")).over(w)) + col("_tr"), 6))
      .drop("_tr")
  }

  /** Fixed 32-word vocabulary for `makeText` — also interpolated into
    * the DuckDB oracle, so the entry and its replay share one source
    * of truth. */
  val TextVocab: Seq[String] = Seq(
    "the", "data", "model", "market", "system", "users", "price", "team",
    "great", "never", "always", "today", "report", "growth", "signal",
    "noise", "value", "trade", "risk", "cloud", "graph", "query", "index",
    "stream", "batch", "shard", "tokens", "vector", "sample", "filter",
    "joins", "window")

  val TextPlatforms: Seq[String] = Seq("x", "reddit", "forum", "blog")

  /** Synthetic text-corpus generator — `make_social_media_comments`
    * (make.py:1205: comments sampled word-by-word from a vocabulary,
    * tagged with a platform). Mechanically distinct again: the value
    * is a VARIABLE-LENGTH generated array — n_words ∈ [minWords,
    * maxWords] hash-derived, each word an independent hash pick from
    * the vocab, joined with spaces. Pure `transform(sequence(...))`
    * column expressions: no RNG state, no shuffle, any row
    * regenerable anywhere — "make a 100 TB test corpus" is a plan.
    * Feeds the text pipeline (dedup/quality/BM25) with corpora of any
    * size. Columns: id, platform, n_words, text. */
  def makeText(spark: SparkSession, nSamples: Long,
               minWords: Int = 3, maxWords: Int = 20,
               seed: Long = 42L,
               portableHash: Boolean = false): DataFrame = {
    require(nSamples > 0 && minWords > 0 && maxWords >= minWords,
      "need nSamples > 0 and 0 < minWords <= maxWords")
    val id = col("id")
    def hmod(tag: Column, m: Int): Column =
      if (portableHash)
        pmod(md5Key(seed, id, tag), lit(m.toLong))
      else pmod(xxhash64(lit(seed), id, tag), lit(m.toLong))
    val vocabArr = array(TextVocab.map(lit): _*)
    val platArr = array(TextPlatforms.map(lit): _*)
    val nWords = (lit(minWords) +
      hmod(lit(300001), maxWords - minWords + 1)).cast("int")
    val words = transform(sequence(lit(1), col("n_words")), i =>
      element_at(vocabArr,
        (hmod(lit(310000) + i, TextVocab.size) + 1).cast("int")))
    spark.range(nSamples)
      .select(id,
        element_at(platArr,
          (hmod(lit(300002), TextPlatforms.size) + 1).cast("int"))
          .as("platform"),
        nWords.as("n_words"))
      .withColumn("text", array_join(words, " "))
  }

  /** Control-system response generator — `make_system_dynamics`
    * (make.py:315): input = amplitude·sin(2π·f·t) + inputNoise·g₁,
    * linear = gain·input + controlNoise·g₂, response =
    * tanh(sensitivity·linear) — computed as (e^{2sx}−1)/(e^{2sx}+1)
    * because that exp form is the portable spelling both engines
    * replay (DuckDB 1.0 ships no tanh) —, effort = |gain·input|,
    * power =
    * effort², stability = 1 − |response − linear|. Row-independent
    * closed forms over `t = id·endTime/(n−1)`; portable mode rounds
    * each libm crossing once (sin, the gaussians, tanh) and the rest
    * is pure IEEE composition — no final rounding needed. Columns:
    * id, t, input_signal, linear_output, response_output,
    * control_effort, power_consumption, stability_metric. */
  def makeDynamics(spark: SparkSession, nSamples: Long,
                   endTime: Double = 10.0, amplitude: Double = 1.0,
                   frequency: Double = 0.5, gain: Double = 0.9,
                   sensitivity: Double = 0.7, inputNoise: Double = 0.05,
                   controlNoise: Double = 0.02, seed: Long = 42L,
                   portableHash: Boolean = false): DataFrame = {
    require(nSamples > 1, "need at least two samples")
    val id = col("id")
    def maybeRound(c: Column): Column = if (portableHash) round(c, 9) else c
    val t = (id.cast("double") * lit(endTime)) / lit((nSamples - 1).toDouble)
    val g1 = maybeRound(gaussian(uniform(portableHash, seed, id, 30),
      uniform(portableHash, seed, id, 31)))
    val g2 = maybeRound(gaussian(uniform(portableHash, seed, id, 32),
      uniform(portableHash, seed, id, 33)))
    val input = lit(amplitude) *
      maybeRound(sin(lit(TwoPi * frequency) * col("t"))) +
      lit(inputNoise) * g1
    spark.range(nSamples).select(id, t.as("t"))
      .withColumn("input_signal", input)
      .withColumn("linear_output",
        lit(gain) * col("input_signal") + lit(controlNoise) * g2)
      .withColumn("_e2",
        exp(lit(2.0 * sensitivity) * col("linear_output")))
      .withColumn("response_output",
        maybeRound((col("_e2") - lit(1.0)) / (col("_e2") + lit(1.0))))
      .withColumn("control_effort", abs(lit(gain) * col("input_signal")))
      .withColumn("power_consumption",
        col("control_effort") * col("control_effort"))
      .withColumn("stability_metric",
        lit(1.0) - abs(col("response_output") - col("linear_output")))
      .drop("_e2")
  }

  /** `make_blobs` (the reference's spatial/cluster generator family,
    * gofast/datasets/make.py): isotropic gaussian blobs around
    * `nCenters` hash-placed centers in [boxMin, boxMax]^dim. Each row's
    * cluster is hash-assigned, its coordinates are
    * center(cluster)_j + std · gaussian — the KMeans/spatial-join test
    * corpus shape. Columns: id, cluster, x0..x{dim−1}.
    * `portableHash = true` replays bit-for-bit in SQL (centers derive
    * from md5 of the CLUSTER id, so both engines place them
    * identically; the libm-crossing gaussian rounds once at 9 dp). */
  /** `make_sounding` (make.py:1951) / the ERT-TEM grid family
    * (make.py:2525+): one row per (survey point, subsurface layer) —
    * the point × layer GRID mechanism none of the other generators
    * exercise (they are all row-indexed). Layer depth is the running
    * sum of hash-uniform layer thicknesses in [1, 10) m, computed as a
    * bounded IN-ROW fold over the layer index (`aggregate(sequence)`)
    * — no window, no shuffle; the whole plan is row-independent
    * codegen over `range(nPoints) × explode(layers)`, so "make a
    * 100 TB survey" is bounded by the write path. Resistivity is
    * log-uniform 10^(1+2u) Ωm; seismic velocity rises with layer and
    * depth. Columns: point_id, layer, depth_m, resistivity_ohm_m,
    * velocity_m_s. `portableHash = true` replays bit-for-bit in SQL
    * (md5 hash family; pow/depth round 9 — the libm guard). */
  def makeSounding(spark: SparkSession, nPoints: Long, nLayers: Int = 5,
                   seed: Long = 42L,
                   portableHash: Boolean = false): DataFrame = {
    require(nPoints > 0 && nLayers > 0, "need positive nPoints/nLayers")
    def maybeRound(c: Column): Column = if (portableHash) round(c, 9) else c
    val pid = col("point_id")
    // per-(point, layer) draws key on the flat index point·nLayers+layer
    def u(l: Column, tag: Int): Column =
      uniform(portableHash, seed, pid * nLayers + l, tag)
    val thicknessOf: Column => Column =
      l => lit(1.0) + lit(9.0) * u(l, 8101)
    val depth = aggregate(sequence(lit(0), col("layer")), lit(0.0),
      (acc, l) => acc + thicknessOf(l))
    spark.range(nPoints)
      .select(col("id").as("point_id"),
        explode(sequence(lit(0), lit(nLayers - 1))).as("layer"))
      .select(pid, col("layer").cast("int").as("layer"),
        maybeRound(depth).as("depth_m"),
        maybeRound(pow(lit(10.0),
          lit(1.0) + lit(2.0) * u(col("layer"), 8102)))
          .as("resistivity_ohm_m"),
        maybeRound(lit(500.0) + lit(350.0) * col("layer") +
          lit(150.0) * u(col("layer"), 8103)).as("velocity_m_s"))
  }

  // ------------------------------------------------------------------
  // Domain-flavored generators (make.py's ~15 re-skins: make_african_demo
  // :1346, make_gadget_sales:3197, make_medical_diagnosis:2122,
  // make_retail_store:3360, make_erp:2858, ... — all the same mechanism:
  // an entity × period grid, per-cell uniform / integer-range /
  // categorical draws with domain-flavored names). ONE parameterized
  // kernel covers the whole tail; the presets below are schema
  // templates, not new machinery.
  // ------------------------------------------------------------------

  /** Field spec for [[makeFields]] / [[makeDomain]]. */
  sealed trait Field { def name: String }
  /** Uniform double in [lo, hi), round-6. */
  final case class NumField(name: String, lo: Double, hi: Double) extends Field
  /** Uniform integer in [lo, hi) — the reference's `randint`. */
  final case class IntRangeField(name: String, lo: Long, hi: Long) extends Field
  /** Hash-pick from a fixed category list. */
  final case class CatField(name: String, values: Seq[String]) extends Field
  /** Normal(mean, std) via Box–Muller (z rounded 9 — the libm guard),
    * then `clip(mean + std·z)` with NO second rounding: the affine of
    * a round-9 value is pure IEEE composition, bit-identical in any
    * engine, while a round-6 of a round-9 value sits ON decimal tie
    * boundaries (the round-ties gotcha). The reference's
    * `np.random.normal(...).clip(...)` draws. */
  final case class NormField(name: String, mean: Double, std: Double,
                             clipLo: Double = -1e18,
                             clipHi: Double = 1e18) extends Field
  /** Exponential(mean) via inverse CDF −mean·ln(1−u) (rounded 9),
    * clipped, same no-second-rounding rule — the reference's
    * `np.random.exponential(...).clip(...)`. */
  final case class ExpField(name: String, mean: Double,
                            clipLo: Double = 0.0,
                            clipHi: Double = 1e18) extends Field

  /** Non-negative hash mod m — portable mode is the md5 60-bit prefix
    * (DuckDB: CAST('0x'||substr(md5(k),1,15) AS BIGINT) % m). */
  private def hashMod(portable: Boolean, seed: Long, id: Column, tag: Int,
                      m: Long): Column =
    if (portable)
      pmod(md5Key(seed, id, lit(tag)), lit(m))
    else pmod(xxhash64(lit(seed), id, lit(tag)), lit(m))

  /** One field's deterministic column. `lo + u·(hi−lo)` is pure IEEE
    * composition of engine-exact doubles (the md5 uniform is an exact
    * rational), so round-6 lands identically everywhere; integer and
    * categorical draws are exact by construction. Field j draws on tag
    * 910000+j — its own block of the tag space. */
  private def fieldCol(f: Field, portable: Boolean, seed: Long, id: Column,
                       tag: Int): Column = f match {
    case NumField(name, lo, hi) =>
      require(hi > lo, s"NumField $name needs hi > lo, got [$lo, $hi)")
      round(lit(lo) + uniform(portable, seed, id, tag) * lit(hi - lo), 6)
        .as(name)
    case IntRangeField(name, lo, hi) =>
      require(hi > lo, s"IntRangeField $name needs hi > lo")
      (lit(lo) + hashMod(portable, seed, id, tag, hi - lo)).as(name)
    case CatField(name, values) =>
      require(values.nonEmpty, s"CatField $name needs values")
      element_at(array(values.map(lit): _*),
        (hashMod(portable, seed, id, tag, values.size.toLong) + 1)
          .cast("int")).as(name)
    case NormField(name, mean, std, lo, hi) =>
      require(hi > lo && std > 0, s"NormField $name needs hi > lo, std > 0")
      // the second uniform rides tag+10000 — its own block, disjoint
      // from every field's primary tag for any sane field count
      val z = round(gaussian(uniform(portable, seed, id, tag),
        uniform(portable, seed, id, tag + 10000)), 9)
      greatest(lit(lo), least(lit(hi), lit(mean) + lit(std) * z)).as(name)
    case ExpField(name, mean, lo, hi) =>
      require(hi > lo && mean > 0, s"ExpField $name needs hi > lo, mean > 0")
      val e = round(lit(-mean) *
        log(lit(1.0) - uniform(portable, seed, id, tag)), 9)
      greatest(lit(lo), least(lit(hi), e)).as(name)
  }

  /** Flat row-indexed generator: id + one column per field spec — the
    * per-patient / per-record flavor (make_medical_diagnosis shape).
    * `range(n)` + codegen expressions: no RNG state, no shuffle. */
  def makeFields(spark: SparkSession, nSamples: Long, fields: Seq[Field],
                 seed: Long = 42L, portableHash: Boolean = false): DataFrame = {
    require(nSamples > 0 && fields.nonEmpty, "need nSamples > 0 and fields")
    val id = col("id")
    val cols = fields.zipWithIndex.map { case (f, j) =>
      fieldCol(f, portableHash, seed, id, 910000 + j)
    }
    spark.range(nSamples).select(id +: cols: _*)
  }

  /** Entity × period grid generator — the make_african_demo /
    * make_gadget_sales / make_retail_store mechanism: one row per
    * (entity, period), each field an independent deterministic draw
    * keyed on the flat grid id. `periodStart + p` makes the period a
    * meaningful year/day index. Columns: entityCol, periodCol,
    * fields... — |entities|·nPeriods rows from one `range`, no
    * shuffle, any row regenerable anywhere. */
  def makeDomain(spark: SparkSession, entities: Seq[String],
                 entityCol: String, nPeriods: Int, periodCol: String,
                 periodStart: Long, fields: Seq[Field], seed: Long = 42L,
                 portableHash: Boolean = false): DataFrame = {
    require(entities.nonEmpty && nPeriods > 0, "need entities and periods")
    require(fields.nonEmpty, "need at least one field")
    val id = col("id")
    val entArr = array(entities.map(lit): _*)
    // integral div (the makeSeries lesson): exact at any scale
    val e = expr(s"id div ${nPeriods}L")
    val p = (id % nPeriods).cast("long")
    val cols = fields.zipWithIndex.map { case (f, j) =>
      fieldCol(f, portableHash, seed, id, 910000 + j)
    }
    spark.range(entities.size.toLong * nPeriods)
      .select(element_at(entArr, (e + 1).cast("int")).as(entityCol) +:
        (p + periodStart).as(periodCol) +: cols: _*)
  }

  /** `make_african_demo` (make.py:1346): country × year panel with
    * population / vital rates / urbanization / GDP draws. Country
    * names are public geography; the reference's default takes 7. */
  def makeAfricanDemo(spark: SparkSession,
                      countries: Seq[String] = DemoCountries,
                      startYear: Int = 1960, endYear: Int = 2020,
                      seed: Long = 42L,
                      portableHash: Boolean = false): DataFrame = {
    require(endYear >= startYear, "endYear must be >= startYear")
    makeDomain(spark, countries, "country", endYear - startYear + 1, "year",
      startYear.toLong, Seq(
        IntRangeField("population", 1000000L, 200000000L),
        NumField("birth_rate", 20.0, 50.0),
        NumField("death_rate", 5.0, 20.0),
        NumField("urbanization_rate", 10.0, 85.0),
        NumField("gdp_per_capita", 500.0, 20000.0)),
      seed, portableHash)
  }

  val DemoCountries: Seq[String] = Seq("nigeria", "egypt", "south_africa",
    "ethiopia", "kenya", "ghana", "morocco")

  /** `make_gadget_sales` (make.py:3197) / `make_retail_store` (:3360):
    * device × day sales panel. */
  def makeGadgetSales(spark: SparkSession,
                      devices: Seq[String] = SalesDevices,
                      nDays: Int = 120, seed: Long = 42L,
                      portableHash: Boolean = false): DataFrame =
    makeDomain(spark, devices, "device", nDays, "day", 0L, Seq(
      IntRangeField("units_sold", 10L, 500L),
      NumField("unit_price", 50.0, 1500.0),
      NumField("discount_pct", 0.0, 0.3),
      CatField("region", Seq("north", "south", "east", "west"))),
      seed, portableHash)

  val SalesDevices: Seq[String] = Seq("smartphone", "laptop", "tablet",
    "smartwatch", "camera")

  /** `make_medical_diagnosis` (make.py:2122): one row per patient with
    * vitals + a categorical diagnosis — the flat [[makeFields]] flavor. */
  def makeMedicalDiagnosis(spark: SparkSession, nPatients: Long = 1000L,
                           seed: Long = 42L,
                           portableHash: Boolean = false): DataFrame =
    makeFields(spark, nPatients, Seq(
      IntRangeField("age", 18L, 90L),
      NumField("temperature_c", 36.0, 41.5),
      IntRangeField("systolic_bp", 90L, 180L),
      IntRangeField("cholesterol", 120L, 300L),
      CatField("diagnosis",
        Seq("healthy", "hypertension", "diabetes", "flu"))),
      seed, portableHash)
      .withColumnRenamed("id", "patient_id")

  /** `make_erp` (make.py:2858): flat geospatial survey rows —
    * lat/lon uniforms, easting/northing derived AFFINELY from the
    * (rounded) lon/lat exactly like the reference's simplified
    * conversion, sequential position, randint step, uniform
    * resistivity. Columns: easting, northing, longitude, latitude,
    * position, step, resistivity. */
  def makeErp(spark: SparkSession, nSamples: Long = 1000L,
              latRange: (Double, Double) = (34.0, 36.0),
              lonRange: (Double, Double) = (-118.5, -117.0),
              resistivityRange: (Double, Double) = (10.0, 1000.0),
              seed: Long = 42L, portableHash: Boolean = false): DataFrame = {
    require(latRange._2 > latRange._1 && lonRange._2 > lonRange._1 &&
      resistivityRange._2 > resistivityRange._1, "ranges need hi > lo")
    makeFields(spark, nSamples, Seq(
      NumField("latitude", latRange._1, latRange._2),
      NumField("longitude", lonRange._1, lonRange._2),
      IntRangeField("step", 1L, 10L),
      NumField("resistivity", resistivityRange._1, resistivityRange._2)),
      seed, portableHash)
      .select(
        round((col("longitude") - lit(lonRange._1)) * lit(100000.0), 6)
          .as("easting"),
        round((col("latitude") - lit(latRange._1)) * lit(100000.0), 6)
          .as("northing"),
        col("longitude"), col("latitude"),
        (col("id") + 1).as("position"), col("step"), col("resistivity"))
  }

  /** `make_retail_store` (make.py:3360): flat per-customer rows with
    * the reference's mixed dtypes — randint age/frequency, clipped
    * NORMAL income, clipped EXPONENTIAL last-purchase amount, a
    * categorical preference, and the binary campaign-response target
    * from the reference's linear score (0.3·z + 0.1·age/70 +
    * 0.2·income/1e5 + 0.3·freq/10 − 0.1·last/500 compared against a
    * Normal(0.5, 0.1) threshold — same association order both
    * engines, so the comparison is IEEE-deterministic). */
  def makeRetailStore(spark: SparkSession, nSamples: Long = 1000L,
                      seed: Long = 42L,
                      portableHash: Boolean = false): DataFrame =
    makeFields(spark, nSamples, Seq(
      IntRangeField("age", 18L, 70L),
      NormField("income", 50000.0, 15000.0, 20000.0, 100000.0),
      IntRangeField("shopping_frequency", 1L, 10L),
      ExpField("last_purchase_amount", 100.0, 10.0, 500.0),
      CatField("preferred_category", RetailCategories),
      NormField("_zr", 0.0, 1.0),
      NormField("_thr", 0.5, 0.1)),
      seed, portableHash)
      .withColumn("likely_to_respond",
        (lit(0.3) * col("_zr") + lit(0.1) * (col("age") / lit(70.0)) +
          lit(0.2) * (col("income") / lit(100000.0)) +
          lit(0.3) * (col("shopping_frequency") / lit(10.0)) -
          lit(0.1) * (col("last_purchase_amount") / lit(500.0)) >
          col("_thr")).cast("int"))
      .drop("_zr", "_thr")
      .withColumnRenamed("id", "customer_id")

  val RetailCategories: Seq[String] = Seq("electronics", "fashion",
    "home_garden", "sports", "health_beauty")

  /** `make_well_logging` (make.py:2371): one row per depth station —
    * depth = start + i·interval (np.arange semantics: end exclusive),
    * four uniform logs in the reference's published physical ranges.
    * Non-integer range spans (200 − 0.2, 2.95 − 1.95) are IEEE
    * subtractions on both sides, never decimal literals — a literal
    * "199.8" parses to a different double than the engine's
    * subtraction by up to 1 ulp. */
  def makeWellLogging(spark: SparkSession, depthStart: Double = 0.0,
                      depthEnd: Double = 200.0,
                      depthInterval: Double = 0.5, seed: Long = 42L,
                      portableHash: Boolean = false): DataFrame = {
    require(depthEnd > depthStart && depthInterval > 0,
      "need depthEnd > depthStart and a positive interval")
    val n = math.ceil((depthEnd - depthStart) / depthInterval - 1e-9).toLong
    makeFields(spark, n, Seq(
      NumField("gamma_ray", 20.0, 150.0),
      NumField("resistivity", 0.2, 200.0),
      NumField("neutron_porosity", 15.0, 45.0),
      NumField("density", 1.95, 2.95)),
      seed, portableHash)
      .select(
        round(lit(depthStart) + col("id") * lit(depthInterval), 6)
          .as("depth"),
        col("gamma_ray"), col("resistivity"), col("neutron_porosity"),
        col("density"))
  }

  /** `make_mining_ops` (make.py:1720): flat per-operation rows —
    * geospatial uniforms, ore/explosive/equipment categoricals
    * (representative subsets of the reference's public-geology
    * lists), drilling/blasting/production draws. */
  def makeMiningOps(spark: SparkSession, nSamples: Long = 1000L,
                    seed: Long = 42L,
                    portableHash: Boolean = false): DataFrame =
    makeFields(spark, nSamples, Seq(
      NumField("easting", 0.0, 1000.0),
      NumField("northing", 0.0, 1000.0),
      NumField("depth", 0.0, 500.0),
      CatField("ore_type", MiningOres),
      NumField("ore_concentration", 0.1, 20.0),
      NumField("drill_diameter", 50.0, 200.0),
      NumField("blast_hole_depth", 3.0, 15.0),
      CatField("explosive_type", MiningExplosives),
      NumField("explosive_amount", 10.0, 500.0),
      CatField("equipment_type", MiningEquipment),
      IntRangeField("equipment_age", 0L, 15L),
      NumField("daily_production", 1000.0, 10000.0)),
      seed, portableHash)
      .withColumnRenamed("id", "op_id")

  val MiningOres: Seq[String] = Seq("gold_ore", "iron_ore", "copper_ore",
    "silver_ore", "lead_ore", "zinc_ore", "nickel_ore", "bauxite")
  val MiningExplosives: Seq[String] = Seq("anfo", "emulsion", "dynamite",
    "slurry")
  val MiningEquipment: Seq[String] = Seq("excavator", "drill", "loader",
    "truck")

  /** `make_agronomy_feedback` (make.py:1529): a farm × year × crop
    * grid (the reference's triple loop) with per-cell soil/weather/
    * pesticide/yield draws — the 3-level generalization of the
    * [[makeDomain]] entity×period grid, flattened onto one `range`:
    * id = (farm·nYears + year)·|crops| + crop. */
  def makeAgronomy(spark: SparkSession, nFarms: Int = 10, nYears: Int = 5,
                   crops: Seq[String] = AgronomyCrops, seed: Long = 42L,
                   portableHash: Boolean = false): DataFrame = {
    require(nFarms > 0 && nYears > 0 && crops.nonEmpty,
      "need positive farms/years and crops")
    val k = crops.size
    makeFields(spark, nFarms.toLong * nYears * k, Seq(
      NumField("soil_ph", 4.0, 9.0),
      NumField("temperature", 10.0, 35.0),
      NumField("rainfall", 200.0, 2000.0),
      CatField("pesticide_type", AgronomyPesticides),
      NumField("pesticide_amount", 0.1, 10.0),
      NumField("crop_yield", 100.0, 10000.0)),
      seed, portableHash)
      .select(
        expr(s"id div ${nYears.toLong * k}L").as("farm_id"),
        (expr(s"id div ${k}L") % nYears).as("year"),
        element_at(array(crops.map(lit): _*),
          (col("id") % k + 1).cast("int")).as("crop"),
        col("soil_ph"), col("temperature"), col("rainfall"),
        col("pesticide_type"), col("pesticide_amount"), col("crop_yield"))
  }

  val AgronomyCrops: Seq[String] = Seq("maize", "wheat", "rice", "soybean")
  val AgronomyPesticides: Seq[String] = Seq("glyphosate", "atrazine",
    "malathion", "carbaryl", "none")

  /** `make_elogging` (make.py:3038): random event-log lines — a
    * uniform timestamp inside [start, end] (randint seconds, both
    * ends inclusive like the reference), a severity pick, and the
    * derived message text; emitted in timestamp order. */
  def makeElogging(spark: SparkSession, nSamples: Long = 1000L,
                   startDate: String = "2021-01-01 00:00:00",
                   endDate: String = "2021-01-31 00:00:00",
                   levels: Seq[String] = ElogLevels, seed: Long = 42L,
                   portableHash: Boolean = false): DataFrame = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = java.time.LocalDateTime.parse(startDate, fmt)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val t1 = java.time.LocalDateTime.parse(endDate, fmt)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    require(t1 > t0, "endDate must be after startDate")
    makeFields(spark, nSamples, Seq(
      IntRangeField("_sec", 0L, t1 - t0 + 1),
      CatField("log_level", levels)),
      seed, portableHash)
      .select(col("id").as("event_id"),
        timestamp_seconds(lit(t0) + col("_sec")).as("timestamp"),
        col("log_level"),
        concat(lit("This is a "), col("log_level"), lit(" message."))
          .as("message"))
      .orderBy("timestamp", "event_id")
  }

  val ElogLevels: Seq[String] =
    Seq("INFO", "DEBUG", "WARNING", "ERROR", "CRITICAL")

  /** `make_drill_ops` (make.py:3886/_make_drill_ops:4050): one row per
    * drilling operation over the reference's published hydrogeological
    * parameter ranges (HYDRO_PARAM_RANGES), two categorical axes, and
    * the documented (0, 1) default for the unranged temperature
    * gradient. */
  def makeDrillOps(spark: SparkSession, nSamples: Long = 1000L,
                   seed: Long = 42L,
                   portableHash: Boolean = false): DataFrame =
    makeFields(spark, nSamples, Seq(
      NumField("porosity", 0.01, 0.35),
      NumField("permeability", 1e-5, 1e3),
      NumField("hydraulic_conductivity", 1e-6, 1e-1),
      NumField("transmissivity", 1e-4, 1e3),
      NumField("storativity", 1e-5, 0.2),
      NumField("specific_yield", 0.01, 0.3),
      CatField("fracture_density_and_orientation", DrillFractureDensity),
      NumField("water_table_depth", 1.0, 500.0),
      NumField("aquifer_pressure", 1e5, 1e7),
      CatField("water_quality_parameters", DrillWaterQuality),
      NumField("temperature_gradients", 0.0, 1.0)),
      seed, portableHash)
      .withColumnRenamed("id", "op_id")

  val DrillFractureDensity: Seq[String] =
    Seq("Low Density", "Medium Density", "High Density")
  val DrillWaterQuality: Seq[String] =
    Seq("Potable", "Non-potable", "Industrial", "Agricultural")

  /** `make_cc_factors` (make.py:3525): 21 climate-change factor
    * features, each Normal(100, scale) with the reference's published
    * per-factor scales, plus the binary `feedbacks` target — row mean
    * above the global stacked MEDIAN × the reference's opinions
    * coefficient (1.001 for n ≤ 1000, 1.0002 above). The median is
    * the exact interpolated percentile over all n×21 cells (a
    * fitted-scalar driver literal — one sort-based aggregate). */
  def makeCcFactors(spark: SparkSession, nSamples: Long = 1000L,
                    seed: Long = 42L,
                    portableHash: Boolean = false): DataFrame = {
    val fields = CcFactorScales.map { case (n, sc) =>
      NormField(n, 100.0, sc.toDouble) }
    val base = makeFields(spark, nSamples, fields, seed, portableHash)
    val featCols = CcFactorScales.map(p => col(p._1))
    val med = base.select(explode(array(featCols: _*)).as("_v"))
      .agg(expr("percentile(_v, 0.5)")).head().getDouble(0)
    val coeff = if (nSamples <= 1000L) 1.001 else 1.0002
    val rowMean = featCols.reduceLeft(_ + _) / lit(CcFactorScales.size.toDouble)
    base.withColumnRenamed("id", "sample_id")
      .withColumn("feedbacks", (rowMean > lit(med * coeff)).cast("int"))
  }

  val CcFactorScales: Seq[(String, Int)] = Seq(
    "ghg" -> 10, "def_land" -> 5, "fossil_fuels" -> 8, "indust_proc" -> 7,
    "agri_livestock" -> 6, "transport" -> 9, "energy_prod" -> 10,
    "urban_infra" -> 4, "waste_mgmt" -> 3, "melt_polar" -> 2,
    "chg_land_albedo" -> 1, "solar_irr" -> 5, "aerosols" -> 4,
    "ozone_depl" -> 3, "chg_ocean_circ" -> 2, "ocean_acid" -> 2,
    "permafrost" -> 3, "chg_atm_water" -> 4, "land_deg_soil_erosion" -> 5,
    "human_act_biodiv" -> 6, "nat_disasters" -> 7)

  /** `make_water_demand` (make.py:3709): 34 snake-cased quantitative
    * water-need uniforms, water-quality / ethnicity / SDG6
    * categoricals, an economic-status uniform, and the DEPENDENT
    * region draw — a hash pick from the row's ethnicity's own region
    * list, the reference's language → region mapping. (The
    * reference's 20 language-NAMED artifact columns — it materializes
    * the lookup table itself into the frame — are a documented
    * descope.) */
  def makeWaterDemand(spark: SparkSession, nSamples: Long = 1000L,
                      seed: Long = 42L,
                      portableHash: Boolean = false): DataFrame = {
    val fields = WaterQuantNeeds.map(n => NumField(n, 0.0, 100.0)) ++ Seq(
      CatField("water_quality", WaterQualityLevels),
      CatField("ethnicity", WaterEthnicities.map(_._1)),
      NumField("economic_status", 1000.0, 50000.0),
      CatField("sdg6_challenge", Sdg6Challenges))
    val base = makeFields(spark, nSamples, fields, seed, portableHash)
    // region given ethnicity: each language picks uniformly from its
    // OWN region list on a dedicated tag (910100)
    val region = WaterEthnicities.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, regs)) =>
        when(col("ethnicity") === lang,
          element_at(array(regs.map(lit): _*),
            (hashMod(portableHash, seed, col("id"), 910100,
              regs.size.toLong) + 1).cast("int"))).otherwise(acc)
    }
    base.select((col("id").as("sample_id") +:
      WaterQuantNeeds.map(col)) ++ Seq(
        col("water_quality"), col("ethnicity"), col("economic_status"),
        region.as("region"), col("sdg6_challenge")): _*)
  }

  val WaterQuantNeeds: Seq[String] = Seq("agri_demand", "indus_demand",
    "domestic_demand", "municipal_demand", "livestock_needs",
    "irrigation_req", "hydropower_gen", "aquaculture_usage",
    "mining_consumption", "thermal_plant_consumption", "ecosystems",
    "forestry", "recreation", "urban_dev", "drinking", "sanitation",
    "food_processing", "textile_industry", "paper_industry",
    "chemical_industry", "pharma_industry", "construction",
    "energy_production", "oil_refining", "metals_production",
    "auto_manufacturing", "electronics_manufacturing",
    "plastics_manufacturing", "leather_industry", "beverage_industry",
    "pulp_paper_industry", "sugar_industry", "cement_industry",
    "fertilizer_industry")
  val WaterQualityLevels: Seq[String] = Seq("Excellent", "Good", "Fair",
    "Poor", "Very Poor", "Toxic")
  val WaterEthnicities: Seq[(String, Seq[String])] = Seq(
    "English" -> Seq("United States", "United Kingdom", "Canada",
      "Australia", "South Africa"),
    "Spanish" -> Seq("Mexico", "Spain", "Argentina", "Colombia"),
    "French" -> Seq("France", "Canada", "Senegal", "Ivory Coast"),
    "Arabic" -> Seq("Egypt", "Morocco", "Saudi Arabia", "Algeria"),
    "Swahili" -> Seq("Tanzania", "Kenya", "Uganda"),
    "Hausa" -> Seq("Nigeria", "Niger"))
  val Sdg6Challenges: Seq[String] = Seq("Lack of Access", "Water Scarcity",
    "Water Pollution", "Ecosystem Degradation", "Governance Issues")

  def makeBlobs(spark: SparkSession, nSamples: Long, nCenters: Int = 3,
                dim: Int = 2, std: Double = 1.0,
                boxMin: Double = -10.0, boxMax: Double = 10.0,
                seed: Long = 42L,
                portableHash: Boolean = false): DataFrame = {
    require(nCenters > 0 && dim > 0 && boxMax > boxMin,
      s"need positive nCenters/dim and boxMax > boxMin")
    val id = col("id")
    val cluster = if (portableHash)
      pmod(md5Key(seed, id, lit(500009)), lit(nCenters))
    else pmod(xxhash64(lit(seed), id, lit("blob")), lit(nCenters))
    def maybeRound(c: Column): Column = if (portableHash) round(c, 9) else c
    val span = boxMax - boxMin
    val xs = (0 until dim).map { j =>
      val center = lit(boxMin) +
        uniform(portableHash, seed, col("_c"), 7000 + j) * lit(span)
      maybeRound(center + lit(std) *
        gaussian(uniform(portableHash, seed, id, 2 * j),
          uniform(portableHash, seed, id, 2 * j + 1))).as(s"x$j")
    }
    spark.range(nSamples).select(id, cluster.as("_c"))
      .select(id +: col("_c").cast("int").as("cluster") +: xs: _*)
  }
}
