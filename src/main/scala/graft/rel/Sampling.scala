package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling, splits, and top-k.
  *
  * Reference: `random_sampling` (gofast/utils/data_utils.py:3524),
  * `split_train_test_by_id` (gofast/core/array_manager.py:2356),
  * `ts_split` (gofast/utils/ts_utils.py:3577), geo top-k
  * (gofast/geo/system.py:499).
  */
object Sampling {

  /** The library's ONE portable row-identity uniform in [0, 1): the
    * top 60 bits of md5(seed ‖ id) over 2⁶⁰ — built on
    * [[graft.text.Dedup.md5Hash64]] so the hash family has a single
    * spelling to keep in sync with the SQL oracles. Stable under
    * repartitioning and replayable bit-for-bit by any engine with md5. */
  private def u01Md5(seed: Long, id: Column): Column =
    graft.text.Dedup.md5Hash64(concat_ws("-", lit(seed),
        id.cast("string")))
      .cast("double") / lit(math.pow(2.0, 60))

  /** Fraction sample, optionally with replacement.
    * Reference: `random_sampling`/`resample_data` (data_utils.py:3524,
    * :3187). Per-partition Bernoulli/Poisson — no shuffle. */
  def sample(df: DataFrame, fraction: Double, seed: Long = 42L,
             withReplacement: Boolean = false): DataFrame =
    df.sample(withReplacement, fraction, seed)

  /** Deterministic id-hash split: stable train/test membership under
    * appends, the property `split_train_test_by_id`
    * (gofast/core/array_manager.py:2356, crc32(id) % 100) exists for.
    * `keep` of `outOf` buckets by `id % outOf` — engine-portable (same
    * result in any SQL engine, unlike hash functions).
    */
  def splitByIdMod(df: DataFrame, idCol: String, keep: Int, outOf: Int = 100,
                   invert: Boolean = false): DataFrame = {
    val bucket = pmod(col(idCol), lit(outOf))
    df.filter(if (invert) bucket >= keep else bucket < keep)
  }

  /** Time-ordered split: rows strictly before `cutoff` (train side).
    * Reference: `ts_split` (ts_utils.py:3577). A pure filter —
    * partition-prunes on date-partitioned layouts. */
  def timeSplit(df: DataFrame, tsCol: String, cutoff: String,
                test: Boolean = false): DataFrame =
    if (test) df.filter(col(tsCol) >= lit(cutoff))
    else df.filter(col(tsCol) < lit(cutoff))

  /** Top-k rows per group by `order` (with deterministic tiebreakers in
    * `order`). Reference: `nsmallest(n_neighbors)` per point
    * (gofast/geo/system.py:499).
    *
    * Two exact phases: (1) top-k within (group, input-partition) — the
    * window parallelism is groups × partitions, so a low-cardinality
    * group column (the classic few-groups skew) never serializes onto
    * one task and each task sorts only its slice; (2) top-k per group
    * over the ≤ k·P surviving rows. Any partition's local top-k is a
    * superset of its contribution to the global top-k, so phase 2 is
    * exact regardless of row placement.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                   k: Int, rankName: String = "rk"): DataFrame = {
    val local = Window
      .partitionBy((groupCols.map(col) :+ spark_partition_id()): _*)
      .orderBy(order: _*)
    val survivors = df
      .withColumn("_lrk", row_number().over(local))
      .filter(col("_lrk") <= k).drop("_lrk")
    val global = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    survivors.withColumn(rankName, row_number().over(global))
      .filter(col(rankName) <= k)
  }

  /** Stratified sample: per-stratum fractions without replacement.
    * Reference: `stratify_categories`/`groupwise_train_test_split`
    * (gofast/utils/ml/utils.py:610, :43). */
  def stratifiedSample(df: DataFrame, stratumCol: String,
                       fractions: Map[Any, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Stratified sample with a PORTABLE hash RNG: a row survives in
    * stratum s iff `md5(seed, id)`'s 60-bit uniform < fraction(s).
    * Same per-stratum expected fractions as [[stratifiedSample]], with
    * two properties `sampleBy`'s RNG stream cannot give: the draw is a
    * pure function of ROW IDENTITY, so the selected set is stable
    * under repartitioning / re-runs / incremental re-processing (at
    * 100 TB the sample must not change because the scan split
    * differently), and an external SQL engine replays it bit-for-bit
    * (full oracle). Strata absent from `fractions` drop (fraction 0),
    * matching `sampleBy`. */
  def stratifiedSampleByHash(df: DataFrame, idCol: String,
                             stratumCol: String,
                             fractions: Map[String, Double],
                             seed: Long = 42L): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val u = u01Md5(seed, col(idCol))
    val fracExpr = fractions.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (s, f)) => when(col(stratumCol) === lit(s), lit(f)).otherwise(acc)
    }
    df.filter(u < fracExpr)
  }

  /** Weighted sampling WITHOUT replacement in one pass — the
    * Efraimidis–Spirakis A-ES scheme (IPL 2006): each row draws
    * `key = u^(1/w)` and the n largest keys are the sample, which is
    * provably distributed as sequential weighted draws without
    * replacement. This is THE distributed shape: no sequential state,
    * one scan + a top-n (per-partition heaps), and with the md5 hash
    * uniform the draw is a pure function of row identity —
    * repartition-stable and SQL-replayable (`pow` crosses libm, so the
    * key rounds to 9 before ranking; a tie at 9 dp breaks by id).
    * Rows with weight ≤ 0 or NULL never sample (their key is NULL). */
  def weightedSampleWithoutReplacement(df: DataFrame, idCol: String,
                                       weightCol: String, n: Int,
                                       seed: Long = 42L): DataFrame = {
    require(n > 0, "sample size must be positive")
    val u = u01Md5(seed, col(idCol))
    val w = col(weightCol).cast("double")
    val key = when(w > 0.0, round(pow(u, lit(1.0) / w), 9))
    df.withColumn("_es_key", key)
      .filter(col("_es_key").isNotNull)
      .orderBy(col("_es_key").desc, col(idCol).asc)
      .limit(n)
      .drop("_es_key")
  }

  /** Split into `n` disjoint batches (random, seed-deterministic) —
    * `batch_sampling` (data_utils.py:5677) without replacement. */
  def batches(df: DataFrame, n: Int, seed: Long = 42L): Array[DataFrame] =
    df.randomSplit(Array.fill(n)(1.0), seed)

  /** Bootstrap-duplicate every row n times.
    * Reference: `replace_data` (data_utils.py:4642). explode of a
    * repeated array — stays in-stage, no union chain. */
  def replicateRows(df: DataFrame, n: Int): DataFrame =
    df.withColumn("_rep", explode(array_repeat(lit(1), n))).drop("_rep")

  /** Mersenne prime 2^61 − 1: modulus of the deterministic draw mixer. */
  val DrawP: Long = 2305843009213693951L
  /** Arbitrary fixed mixer constants < [[DrawP]] (documented, not magic:
    * any large odd constants work; these are fixed so draws are
    * reproducible across releases and engines). */
  val DrawA: Long = 1803442081483830013L
  val DrawB: Long = 656901407040548081L
  val DrawC: Long = 98764321261L

  /** a·b mod [[DrawP]] in primitive 64-bit arithmetic, for
    * 0 ≤ a, b < DrawP: `Math.multiplyHigh` gives the 128-bit product,
    * and 2^61 ≡ 1 (mod 2^61 − 1) folds it in one step —
    * bits [0,61) + bits [61,122), each < P, so one conditional
    * subtract finishes the reduction. Exact for the full operand
    * range (the high part is ≤ (P−1)²/2^61 < P − 1; `hi << 3` cannot
    * overflow because hi < 2^58). */
  @inline private def mulmodP(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    val x = (lo & DrawP) + ((hi << 3) | (lo >>> 61))
    if (x >= DrawP) x - DrawP else x
  }

  /** Deterministic pseudo-random index in [0, n) for draw key `k`.
    *
    * Quadratic congruential mixer mod the Mersenne prime P = 2^61 − 1:
    * {{{ idx = ((A·(k² mod P) + B·k + C) mod P) mod n }}}
    * computed in exact decimal(38,0) arithmetic, so DuckDB (HUGEINT)
    * reproduces it bit-for-bit — an xor/shift mixer (splitmix64) can't
    * be mirrored exactly in portable SQL, and a purely LINEAR map
    * (the classic Knuth hash) is low-discrepancy over sequential keys:
    * it covers rows near-evenly per replicate, destroying the
    * multinomial resampling variance a bootstrap needs. The k² term
    * supplies the non-linearity (quadratic Weyl sums are O(√N)), so
    * per-replicate draw counts are near-Poisson.
    *
    * Valid for every long k (|k|² ≤ 2^126 ≈ 8.5e37 < 10^38 fits
    * decimal(38,0); A·(k² mod P) + |B·k| + C ≤ 4.2e36 + 6.1e36 <
    * 10^38). Each `mod P` is the non-negative residue, so a negative k
    * also lands in [0, n). Modulo bias after the final `% n` is ≤ n/P
    * ≈ 4.3e-7 even at n = 10^12 rows.
    *
    * `k` must be non-null: the UDF is declared non-nullable, so a null
    * key would reach downstream code as a value the schema says cannot
    * be there. Both callers pass `spark.range` ids.
    */
  private[graft] def drawIndex(k: Column, n: Long): Column = {
    // Primitive-long evaluation of the SAME residues the documented
    // decimal(38,0) tree defines (and the DuckDB oracle replays):
    // reducing k mod P first and folding each product is congruent to
    // the decimal form's single trailing mod — modular arithmetic,
    // exact integers, bit-identical indexes. The decimal tree stays
    // the SPEC (see the oracle SQL); this body exists because
    // precision-19+ decimals fall off Spark's compact-long
    // representation and the codegen'd tree allocated ~6 BigDecimals
    // per row — 18–24 s of task time and most of the GC debt of
    // bootstrap_ci's 3M-draw join (measured r19: taskRunSum 18.8 s →
    // 1.3 s, query 2.5 s → 1.3 s steady-state).
    val f = udf { (k: Long) =>
      val kr = Math.floorMod(k, DrawP)
      val t = mulmodP(DrawA, mulmodP(kr, kr))
      val u = mulmodP(DrawB, kr)
      val s0 = t + u
      val s1 = if (s0 >= DrawP) s0 - DrawP else s0
      val s2 = s1 + DrawC
      val h = if (s2 >= DrawP) s2 - DrawP else s2
      h % n
    }.asNonNullable()
    f(k)
  }

  /** Deterministic bootstrap CI of the mean (reference: `bootstrap`,
    * gofast/stats/inferential.py:1713; `uniform_sampling`, probs.py:504).
    *
    * `b` resamples of size n with replacement, where draw i of
    * replicate r picks row [[drawIndex]](r·n + i) — a seedless
    * deterministic mixer instead of RNG state, so the draw set is
    * identical on every engine and cluster size. `idCol` must be DENSE
    * (max − min + 1 == n, asserted with one aggregate); ids are
    * normalized to [0, n) internally, so 1-based keys are fine. Valid
    * for b·n < 2^63 draws.
    *
    * Plan: b×n draw rows from `spark.range(b·n)` (draw key k = r·n+i is
    * the range id itself, so the mixer projection is evenly partitioned
    * across the cluster by construction — never inherits a narrow scan's
    * parallelism) → join the value column → one groupBy(b) of
    * exact-decimal sums → exact percentiles over the b means. The only
    * driver values are (n, min-id). Output: one row (ci_lo, ci_med,
    * ci_hi).
    *
    * The value-column join is broadcast ONLY while n ≤
    * `broadcastMaxRows` (default 4M ≈ tens of MB serialized — safely
    * inside executor memory and `spark.sql.maxBroadcastTableBytes`).
    * Past the gate it becomes a plain equi-join on `_idx`: both sides
    * shuffle by the key, the draws side is already evenly partitioned
    * by construction, so the exchange is balanced at any n — that is
    * what keeps the advertised b·n < 2^63 envelope honest on a
    * 10^8+-row input where an unconditional broadcast would OOM. */
  def bootstrapMeanCi(df: DataFrame, idCol: String, valueCol: String,
                      b: Int, ps: Seq[Double] = Seq(0.025, 0.5, 0.975),
                      broadcastMaxRows: Long = 4000000L)
      : DataFrame = {
    val spark = df.sparkSession
    val bounds = df.agg(count(lit(1)).as("n"),
      min(col(idCol).cast("long")).as("lo"),
      max(col(idCol).cast("long")).as("hi")).head()
    val n = bounds.getLong(0)
    val lo = bounds.getLong(1)
    require(bounds.getLong(2) - lo + 1 == n,
      s"bootstrapMeanCi: $idCol must be dense (min=$lo " +
        s"max=${bounds.getLong(2)} n=$n)")
    require(b.toLong <= Long.MaxValue / math.max(n, 1L),
      s"bootstrapMeanCi: b*n must stay below 2^63 (b=$b n=$n)")
    val draws = spark.range(b * n)
      .select(expr(s"id DIV $n").as("_r"),
        drawIndex(col("id"), n).as("_idx"))
    val dim = df.select((col(idCol).cast("long") - lo).as("_idx"),
      col(valueCol).cast("decimal(12,2)").as("_v"))
    val dimSide = if (n <= broadcastMaxRows) broadcast(dim) else dim
    val means = draws.join(dimSide, "_idx")
      .groupBy("_r")
      .agg((sum("_v").cast("double") / lit(n.toDouble)).as("_mean"))
    val q = means.agg(
      percentile(col("_mean"), array(ps.map(lit): _*)).as("_q"))
    q.select(
      element_at(col("_q"), 1).as("ci_lo"),
      element_at(col("_q"), 2).as("ci_med"),
      element_at(col("_q"), 3).as("ci_hi"))
  }
}
