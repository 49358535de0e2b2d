package graft.entries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.datasets.Make

/** Registry queries for the `graft.datasets.Make` generators (make.py /
  * simulate.py): every `make_*` runs in portable-oracle mode and is
  * replayed end-to-end in DuckDB from `range()` with the same md5 hash
  * family ([[h]] / [[u]]).
  */
object DatasetsEntries extends Entries {

  private val vocabSql =
    Make.TextVocab.mkString("['", "', '", "']")

  private val platSql =
    Make.TextPlatforms.mkString("['", "', '", "']")

  /** The md5 60-bit integer draw — the Make portable hash family. */
  private def h(tag: Int): String =
    s"CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-$tag'), 1, 15) AS BIGINT)"

  /** The md5 uniform in [0,1) (the make_walk oracle's spelling). */
  private def u(tag: Int): String = s"${h(tag)} / 1152921504606846976.0"

  /** Round-9 Box–Muller z on the (tag, tag+10000) uniform pair — the
    * make_regression gaussian spelling, the NormField kernel. */
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // datasets.Make.makeRegression (datasets/Make.scala) in portable-
    // hash mode: the generator IS the query — spark.range + md5-derived
    // uniforms -> Box-Muller gaussians -> linear target, every double
    // rounded 9. DuckDB replays the identical arithmetic from its own
    // range(), so the oracle checks the full generation pipeline
    // bit-for-bit (no input table at all).
    "make_regression" -> ((s, dir) => {
      graft.datasets.Make.makeRegression(s, nSamples = 4000,
          nFeatures = 3, nInformative = 2, noise = 0.5, bias = 3.0,
          seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // datasets.Make.makeClassification portable mode: hypercube-vertex
    // clusters (label bits -> ±classSep centers), redundant linear
    // combos left UNROUNDED (pure IEEE arithmetic on identical doubles
    // is engine-exact; only the libm-crossing gaussians are rounded),
    // flipY label noise — all replayed by DuckDB from range().
    "make_classification" -> ((s, dir) => {
      graft.datasets.Make.makeClassification(s, nSamples = 4000,
          nFeatures = 5, nClasses = 4, nInformative = 2, nRedundant = 2,
          classSep = 2.0, flipY = 0.05, seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // datasets.Make.makeBlobs portable mode: hash-assigned clusters,
    // md5-placed centers in [-10,10]^2 (the center key hashes the
    // CLUSTER id, so both engines place the same 3 centers), isotropic
    // unit gaussians rounded once at 9 dp after the libm crossing.
    "make_blobs" -> ((s, dir) => {
      graft.datasets.Make.makeBlobs(s, nSamples = 4000, nCenters = 3,
          dim = 2, std = 1.0, seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // datasets.Make.makeSeries portable mode (simulate.py's seasonal
    // families): per-series level/slope/amplitude from md5 of the
    // series id, y = level + slope·t + amp·sin(2πt/24) + noise·g with
    // sin and the gaussian each rounded 9 before the pure-IEEE linear
    // form. Feeds the ts family (MakeSpec runs decompose/acf over it).
    "make_series" -> ((s, dir) => {
      graft.datasets.Make.makeSeries(s, nSeries = 50, length = 200,
          period = 24, noise = 0.5, seed = 42L, portableHash = true)
        .orderBy("series_id", "t")
    }),

    // make_walk, make_text and make_dynamics run in portable-oracle mode
    // (md5 hash family, libm crossings rounded once), replayed end-to-end
    // in DuckDB from `range()`.
    // datasets.Make.makeWalk portable mode (simulate_stock_prices'
    // cumprod kernel): ret = round(ln(1 + 0.01·g), 9) per row, ONE
    // hash-partitioned window cumsum, price = round(100·exp(cum) +
    // 3·sin(2πt/252), 6). The cumsum is ordered IEEE addition of
    // identical round-9 doubles, so both engines sum bit-equally.
    "make_walk" -> ((s, dir) => {
      Make.makeWalk(s, nSeries = 40, length = 250, vol = 0.01,
          basePrice = 100.0, trendStrength = 0.03, trendFreq = 1.0 / 252,
          seed = 42L, portableHash = true)
        .orderBy("series_id", "t")
    }),

    // datasets.Make.makeText portable mode (make_social_media_comments):
    // n_words ∈ [3,20] hash-derived, each word an md5 pick from the
    // 32-word vocab, platform from a 4-way pick — the oracle
    // interpolates the SAME TextVocab/TextPlatforms constants.
    "make_text" -> ((s, dir) => {
      Make.makeText(s, nSamples = 4000, minWords = 3, maxWords = 20,
          seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // datasets.Make.makeDynamics portable mode (make_system_dynamics):
    // input = sin9(πt) + 0.05·g₁, linear = 0.9·input + 0.02·g₂,
    // response = tanh9(0.7·linear), effort = |0.9·input|, power =
    // effort², stability = 1 − |response − linear| — pure IEEE
    // composition between the rounded libm crossings.
    "make_dynamics" -> ((s, dir) => {
      Make.makeDynamics(s, nSamples = 2000, endTime = 10.0,
          amplitude = 1.0, frequency = 0.5, gain = 0.9,
          sensitivity = 0.7, inputNoise = 0.05, controlNoise = 0.02,
          seed = 42L, portableHash = true)
        .orderBy("id")
    }),

    // datasets.Make.makeSounding portable mode (make.py:1951 sounding /
    // ERT grid family): the point × layer grid generator — depth is a
    // bounded in-row fold of hash-uniform thicknesses, no shuffle.
    "make_sounding" -> ((s, dir) => {
      graft.datasets.Make.makeSounding(s, nPoints = 300, nLayers = 5,
          seed = 42L, portableHash = true)
        .orderBy("point_id", "layer")
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
    })
  )

  val oracleSql: Map[String, String] = Map(
    "make_regression" ->
      """WITH ids AS (SELECT unnest(range(0, 4000)) AS id),
        |u AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-0'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-2'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u2,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-3'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u3,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-4'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u4,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-5'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u5,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-6'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u6,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-7'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u7
        |  FROM ids),
        |x AS (
        |  SELECT id,
        |    ROUND(sqrt(-2.0 * ln(u0 + 4.9e-324)) * cos(6.283185307179586 * u1), 9) AS x0,
        |    ROUND(sqrt(-2.0 * ln(u2 + 4.9e-324)) * cos(6.283185307179586 * u3), 9) AS x1,
        |    ROUND(sqrt(-2.0 * ln(u4 + 4.9e-324)) * cos(6.283185307179586 * u5), 9) AS x2,
        |    ROUND(sqrt(-2.0 * ln(u6 + 4.9e-324)) * cos(6.283185307179586 * u7), 9) AS gy
        |  FROM u)
        |SELECT id, x0, x1, x2,
        |  CAST(ROUND(
        |    ((CAST(x0 AS DECIMAL(11,9)) * CAST(1 AS DECIMAL(2,0))
        |      + CAST(x1 AS DECIMAL(11,9)) * CAST(-4 AS DECIMAL(2,0)))
        |      + CAST(x2 AS DECIMAL(11,9)) * CAST(0 AS DECIMAL(2,0)))
        |    + CAST(3.0 AS DECIMAL(11,9))
        |    + CAST(0.5 AS DECIMAL(11,9)) * CAST(gy AS DECIMAL(11,9)), 9)
        |    AS DOUBLE) AS y
        |FROM x
        |ORDER BY id""".stripMargin,

    "make_classification" ->
      """WITH ids AS (SELECT unnest(range(0, 4000)) AS id),
        |u AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1000003'), 1, 15) AS BIGINT) % 4 AS l0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-0'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-2'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u2,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-3'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u3,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-8'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u8,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-9'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u9,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-999983'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS uf
        |  FROM ids),
        |x AS (
        |  SELECT id, l0, uf,
        |    ROUND(CAST(((l0 >> 0) & 1) * 2 - 1 AS DOUBLE) * 2.0
        |      + sqrt(-2.0 * ln(u0 + 4.9e-324)) * cos(6.283185307179586 * u1), 9) AS x0,
        |    ROUND(CAST(((l0 >> 1) & 1) * 2 - 1 AS DOUBLE) * 2.0
        |      + sqrt(-2.0 * ln(u2 + 4.9e-324)) * cos(6.283185307179586 * u3), 9) AS x1,
        |    ROUND(sqrt(-2.0 * ln(u8 + 4.9e-324)) * cos(6.283185307179586 * u9), 9) AS x4
        |  FROM u)
        |SELECT id, x0, x1,
        |  x0 * 0.5 + x1 * 1.0 AS x2,
        |  x1 * 0.75 + x0 * 0.875 AS x3,
        |  x4,
        |  CAST(CASE WHEN uf < 0.05 THEN (l0 + 1) % 4 ELSE l0 END AS INTEGER) AS label
        |FROM x
        |ORDER BY id""".stripMargin,

    // Replays makeBlobs' full generation: cluster from md5 of the row
    // id, center coordinates from md5 of the CLUSTER id, coordinate =
    // round(center + 1.0·gaussian, 9) — association mirrors the Spark
    // expression tree exactly ((boxMin + u·span) + (std·g)).
    "make_blobs" ->
      """WITH ids AS (SELECT unnest(range(0, 4000)) AS id),
        |c AS (
        |  SELECT id,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-500009'), 1, 15) AS BIGINT) % 3 AS cluster
        |  FROM ids),
        |u AS (
        |  SELECT id, cluster,
        |    CAST('0x' || substr(md5('42-' || CAST(cluster AS VARCHAR) || '-7000'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS c0,
        |    CAST('0x' || substr(md5('42-' || CAST(cluster AS VARCHAR) || '-7001'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS c1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-0'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u0,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-1'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u1,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-2'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u2,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-3'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u3
        |  FROM c)
        |SELECT id, CAST(cluster AS INT) AS cluster,
        |  ROUND((-10.0 + c0 * 20.0)
        |    + 1.0 * (sqrt(-2.0 * ln(u0 + 4.9e-324)) * cos(6.283185307179586 * u1)), 9) AS x0,
        |  ROUND((-10.0 + c1 * 20.0)
        |    + 1.0 * (sqrt(-2.0 * ln(u2 + 4.9e-324)) * cos(6.283185307179586 * u3)), 9) AS x1
        |FROM u
        |ORDER BY id""".stripMargin,

    // Replays makeSeries: sid = id // 200, t = id % 200; level/slope/
    // amp keyed on sid, noise gaussian on the row id; sin and gaussian
    // round 9 first, then the left-associated linear form rounds 9.
    "make_series" ->
      """WITH ids AS (SELECT unnest(range(0, 10000)) AS id),
        |b AS (SELECT id, id // 200 AS sid, id % 200 AS t FROM ids),
        |u AS (
        |  SELECT id, sid, t,
        |    CAST('0x' || substr(md5('42-' || CAST(sid AS VARCHAR) || '-10'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u10,
        |    CAST('0x' || substr(md5('42-' || CAST(sid AS VARCHAR) || '-11'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u11,
        |    CAST('0x' || substr(md5('42-' || CAST(sid AS VARCHAR) || '-12'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u12,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-13'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u13,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-14'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u14
        |  FROM b)
        |SELECT sid AS series_id, t,
        |  ROUND(u10 * 100.0
        |    + (u11 - 0.5) * 2.0 * CAST(t AS DOUBLE)
        |    + u12 * 20.0 * ROUND(sin(6.283185307179586 * CAST(t AS DOUBLE) / 24.0), 9)
        |    + 0.5 * ROUND(sqrt(-2.0 * ln(u13 + 4.9e-324)) * cos(6.283185307179586 * u14), 9), 9) AS y
        |FROM u
        |ORDER BY series_id, t""".stripMargin,

    // Replays makeWalk: g from Box–Muller on md5 uniforms (tags 20/21),
    // ret = round(ln(1 + 0.01·g), 9), ordered ROWS window sum per
    // series, price = round(100·exp(cum) + (0.03·100)·sin9, 6). The
    // trend coefficient is written as the PRODUCT 0.03 * 100.0 so both
    // engines compute the identical double.
    "make_walk" ->
      """WITH ids AS (SELECT unnest(range(0, 10000)) AS id),
        |b AS (SELECT id, id // 250 AS sid, id % 250 AS t FROM ids),
        |u AS (
        |  SELECT id, sid, t,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-20'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u20,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-21'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u21
        |  FROM b),
        |r AS (
        |  SELECT id, sid, t,
        |    ROUND(LN(1.0 + 0.01 * ROUND(sqrt(-2.0 * ln(u20 + 4.9e-324)) * cos(6.283185307179586 * u21), 9)), 9) AS ret
        |  FROM u)
        |SELECT sid AS series_id, t, ret,
        |  ROUND(100.0 * EXP(SUM(ret) OVER (PARTITION BY sid ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    + (0.03 * 100.0) * ROUND(sin((6.283185307179586 * (1.0 / 252.0)) * CAST(t AS DOUBLE)), 9), 6) AS price
        |FROM r
        |ORDER BY series_id, t""".stripMargin,

    // Replays makeText: n_words and platform hash on tags 300001 /
    // 300002, word i on tag 310000+i; the vocab and platform lists
    // below interpolate Make.TextVocab / Make.TextPlatforms.
    "make_text" ->
      s"""WITH ids AS (SELECT unnest(range(0, 4000)) AS id),
        |b AS (
        |  SELECT id,
        |    3 + CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-300001'), 1, 15) AS BIGINT) % 18 AS nw,
        |    1 + CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-300002'), 1, 15) AS BIGINT) % 4 AS p
        |  FROM ids)
        |SELECT id,
        |  ($platSql)[CAST(p AS INT)] AS platform,
        |  CAST(nw AS INT) AS n_words,
        |  array_to_string(list_transform(range(1, CAST(nw AS INT) + 1),
        |    i -> ($vocabSql)[CAST(1 + CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-' || CAST(310000 + i AS VARCHAR)), 1, 15) AS BIGINT) % 32 AS INT)]), ' ') AS text
        |FROM b
        |ORDER BY id""".stripMargin,

    // Replays makeDynamics: t = (id·10)/1999, gaussians on tags 30–33,
    // sin/tanh round-9, every coefficient written as the same literal
    // or product the Spark plan uses.
    "make_dynamics" ->
      """WITH ids AS (SELECT unnest(range(0, 2000)) AS id),
        |u AS (
        |  SELECT id, (CAST(id AS DOUBLE) * 10.0) / 1999.0 AS t,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-30'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u30,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-31'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u31,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-32'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u32,
        |    CAST('0x' || substr(md5('42-' || CAST(id AS VARCHAR) || '-33'), 1, 15) AS BIGINT) / 1152921504606846976.0 AS u33
        |  FROM ids),
        |i1 AS (
        |  SELECT id, t,
        |    1.0 * ROUND(sin((6.283185307179586 * 0.5) * t), 9)
        |      + 0.05 * ROUND(sqrt(-2.0 * ln(u30 + 4.9e-324)) * cos(6.283185307179586 * u31), 9) AS input_signal,
        |    ROUND(sqrt(-2.0 * ln(u32 + 4.9e-324)) * cos(6.283185307179586 * u33), 9) AS g2
        |  FROM u),
        |i2 AS (
        |  SELECT id, t, input_signal,
        |    0.9 * input_signal + 0.02 * g2 AS linear_output
        |  FROM i1),
        |i2b AS (
        |  SELECT id, t, input_signal, linear_output,
        |    EXP((2.0 * 0.7) * linear_output) AS e2
        |  FROM i2),
        |i3 AS (
        |  SELECT id, t, input_signal, linear_output,
        |    ROUND((e2 - 1.0) / (e2 + 1.0), 9) AS response_output,
        |    ABS(0.9 * input_signal) AS control_effort
        |  FROM i2b)
        |SELECT id, t, input_signal, linear_output, response_output,
        |  control_effort,
        |  control_effort * control_effort AS power_consumption,
        |  1.0 - ABS(response_output - linear_output) AS stability_metric
        |FROM i3
        |ORDER BY id""".stripMargin,

    // Replays makeSounding: per-(point,layer) draws key on the flat
    // index point*5+layer; depth is list_sum over range(0, layer+1) —
    // the same left fold as Spark's aggregate(sequence); pow and the
    // depth sum round 9 (libm guard).
    "make_sounding" ->
      """WITH pts AS (SELECT unnest(range(0, 300)) AS point_id),
        |lays AS (SELECT unnest(range(0, 5)) AS layer),
        |g AS (SELECT point_id, layer FROM pts, lays)
        |SELECT point_id, CAST(layer AS INT) AS layer,
        |  ROUND(list_sum(list_transform(range(0, layer + 1),
        |    l -> 1.0 + 9.0 * (CAST('0x' || substr(md5('42-' ||
        |      CAST(point_id*5 + l AS VARCHAR) || '-8101'), 1, 15)
        |      AS BIGINT) / 1152921504606846976.0))), 9) AS depth_m,
        |  ROUND(POW(10.0, 1.0 + 2.0 * (CAST('0x' || substr(md5('42-' ||
        |      CAST(point_id*5 + layer AS VARCHAR) || '-8102'), 1, 15)
        |      AS BIGINT) / 1152921504606846976.0)), 9)
        |    AS resistivity_ohm_m,
        |  ROUND(500.0 + 350.0 * layer + 150.0 * (CAST('0x' ||
        |      substr(md5('42-' || CAST(point_id*5 + layer AS VARCHAR)
        |      || '-8103'), 1, 15)
        |      AS BIGINT) / 1152921504606846976.0), 9) AS velocity_m_s
        |FROM g ORDER BY point_id, layer""".stripMargin,

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

    // Replays makeRetailStore: round-9 Box-Muller z (the make_regression
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
    "make_water_demand" -> waterDemandOracle
  )
}
