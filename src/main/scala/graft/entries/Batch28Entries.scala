package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.datasets.Make

/** Round-12 batch B: the last mechanically distinct generator kernels
  * from the reference's datasets surface (make.py / simulate.py) —
  * the window-cumsum random walk, the variable-length vocab-sampled
  * text corpus, and the closed-form control-system response — each in
  * portable-oracle mode (md5 hash family, libm crossings rounded
  * once), replayed end-to-end in DuckDB from `range()`.
  */
object Batch28Entries extends Entries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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

    // Similarity.assignToCentroids: nearest-centroid assignment of the
    // embedding corpus against a fixed 8-centroid artifact (the first
    // 8 vectors — any codebook works; the deploy contract is
    // fit-elsewhere/assign-here). K centroids broadcast, one n×K pass,
    // partial-aggregable max(struct) argmax — no window, no n² term.
    "cluster_assign" -> ((s, dir) => {
      val e = T.embeddings(s, dir)
      graft.ml.Similarity.assignToCentroids(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding")
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("vec_id")
    }),

    // Similarity.clusterBalancedSample: α=0.5 temperature row budgets
    // across the 8 clusters (rare clusters up-weighted), half the
    // corpus kept, most-prototypical (cos desc, id asc) rows first —
    // the cluster-diversity curation step over assignToCentroids +
    // the token-budget mixer's selection rule.
    "cluster_balance" -> ((s, dir) => {
      val e = T.embeddings(s, dir)
      val total = e.count() / 2
      graft.ml.Similarity.clusterBalancedSample(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          totalRows = total, alpha = 0.5)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("vec_id")
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
    }))

  private val vocabSql =
    Make.TextVocab.mkString("['", "', '", "']")
  private val platSql =
    Make.TextPlatforms.mkString("['", "', '", "']")

  def oracleSql: Map[String, String] = Map(
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

    // Replays assignToCentroids: cross join against the 8 seed
    // centroids, cosine as the same sequential double fold, argmax =
    // row_number over (cos desc, cid asc) — the max(struct(cos, -cid))
    // tie-break spelled as a window.
    "cluster_assign" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec
        |           FROM embeddings WHERE vec_id < 8),
        |x AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(e.embedding, c.cvec), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |       * SQRT(list_sum(list_transform(c.cvec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN c),
        |r AS (
        |  SELECT vec_id, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |  FROM x)
        |SELECT vec_id, CAST(cid AS INT) AS cluster, ROUND(cos, 9) AS cos
        |FROM r WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    // Replays clusterBalancedSample on top of the assignment: n_c^0.5
    // weights round-9, sumW round-9, budget_c = floor(total·w/sumW)
    // with total = count//2, then rank ≤ budget per cluster on
    // (cos desc, vec_id asc) — the cumsum-of-ones selection rule.
    "cluster_balance" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec
        |           FROM embeddings WHERE vec_id < 8),
        |x AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(e.embedding, c.cvec), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |       * SQRT(list_sum(list_transform(c.cvec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN c),
        |r AS (
        |  SELECT vec_id, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |  FROM x),
        |asg AS (SELECT vec_id, cid AS cluster, cos FROM r WHERE rn = 1),
        |wts AS (
        |  SELECT cluster, ROUND(POW(CAST(COUNT(*) AS DOUBLE), 0.5), 9) AS w
        |  FROM asg GROUP BY 1),
        |sw AS (SELECT ROUND(SUM(w), 9) AS sumw FROM wts),
        |bud AS (
        |  SELECT cluster,
        |    CAST(FLOOR(CAST((SELECT COUNT(*) // 2 FROM embeddings) AS DOUBLE)
        |      * (w / (SELECT sumw FROM sw))) AS BIGINT) AS b
        |  FROM wts),
        |sel AS (
        |  SELECT vec_id, cluster, cos,
        |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY cos DESC, vec_id ASC) AS rk
        |  FROM asg)
        |SELECT sel.vec_id, CAST(sel.cluster AS INT) AS cluster,
        |  ROUND(sel.cos, 9) AS cos
        |FROM sel JOIN bud ON sel.cluster = bud.cluster
        |WHERE bud.b > 0 AND sel.rk <= bud.b
        |ORDER BY sel.vec_id""".stripMargin,

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
        |ORDER BY id""".stripMargin)
}
