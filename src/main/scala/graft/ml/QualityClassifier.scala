package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-style trained page-quality classifier: hashed word n-gram
  * features (unigrams + adjacent bigrams) → logistic regression —
  * the standard learned quality filter of LLM data pipelines (score
  * pages against a curated seed corpus, keep the high-scoring tail).
  * Reference semantics: the TF-IDF featurization + quality-signal
  * family of gofast/dataops/preprocessing.py:3195 and
  * gofast/utils/text.py:838, re-expressed as a fit/deploy split.
  *
  * Architecture mirrors [[graft.text.Retrieval.bm25Index]]'s
  * fit-once / deploy-anywhere contract:
  *  - [[fit]] trains MLlib LogisticRegression on hashed term-count
  *    vectors and returns a FLAT weights artifact
  *    `(feature: long, weight: double)` with the intercept at
  *    feature = −1 — persist it with [[graft.io.Catalog]]; nothing
  *    about the model lives in process memory.
  *  - [[score]] replays the model as a pure relational plan: explode
  *    terms → hash → broadcast-join the weights → one map-side-combined
  *    groupBy per document. Works on any engine that can join — the
  *    quality_clf entry replays FIXED weights in DuckDB.
  *  - [[marginExpr]] folds the weights into a literal map for a
  *    STATELESS column expression — the streaming deploy shape
  *    ([[graft.stream.Streaming.qualityStreamScores]]): no state
  *    store, no watermark, append mode trivially exact.
  *
  * Feature hashing uses the engine-portable 60-bit md5 hash
  * ([[graft.text.Dedup.md5Hash64]]) mod `numFeatures`, so the SAME
  * document hashes to the SAME features in Spark, DuckDB, or any
  * engine with an md5 built-in — the model artifact is portable, not
  * just the scores.
  *
  * Determinism contract: margins round to 6 dp BEFORE the sigmoid
  * (per-document sum order is the only engine difference — the
  * round-6 parity convention of [[graft.text.Quality.tokenEntropy]]),
  * and the sigmoid output rounds to 6 dp too (JVM `Math.exp` vs libm
  * `exp` may differ in the last ulp).
  *
  * 100 TB story: scoring is one explode (bounded by token count), one
  * BROADCAST join (the weights table is ≤ numFeatures + 1 rows — tiny
  * by construction), and one map-side-combined groupBy keyed on the
  * document id. No shuffle grows faster than the corpus itself, and
  * the expression path removes even the groupBy. Training cost is
  * bounded by the LABELED set, which is always a small curated sample
  * (fit on the sample, deploy on the corpus).
  */
object QualityClassifier {

  /** Unigrams + adjacent bigrams (joined with '_') of a token-ARRAY
    * column, as a pure O(n) array expression (bigrams via the
    * shifted-slice zip of [[graft.text.LangModel]] — never a per-element
    * re-tokenization). */
  def termsOf(toks: Column): Column = {
    val len = greatest(size(toks) - 1, lit(0))
    concat(toks, zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => concat(a, lit("_"), b)))
  }

  /** Hashed feature index of one term. Two hash families, same plan
    * shape (the dedup-twin convention): the portable 60-bit md5 hash
    * (non-negative, so `%` and `pmod` agree — any engine replays it,
    * the oracle-checked default) or codegen xxhash64 (cheaper
    * per term, the corpus-scale choice). The hash family is part of
    * the MODEL: weights fitted with one family only score with that
    * family. */
  def featureOf(term: Column, numFeatures: Int,
                portableHash: Boolean = true): Column =
    if (portableHash) graft.text.Dedup.md5Hash64(term) % numFeatures
    else pmod(xxhash64(term), lit(numFeatures))

  /** (doc, feature) rows WITH repetition — one row per term
    * occurrence, so `sum(weight)` over them equals the weighted
    * term-count dot product without a per-(doc, feature) pre-count. */
  def featureRows(df0: DataFrame, idCol: String, textCol: String,
                  numFeatures: Int,
                  portableHash: Boolean = true): DataFrame = {
    require(numFeatures > 0, s"numFeatures must be > 0, got $numFeatures")
    // the per-term hash is orders of magnitude more work than the
    // input bytes — spread a narrow scan so it doesn't serialize on
    // 1-2 tasks (Profile: 2.4 of quality_clf's 3.0 s was ONE task)
    val df = graft.core.Spread.scan(df0)
    df.select(col(idCol).as("doc"),
        explode(termsOf(graft.text.TextFns.tokens(lower(col(textCol)))))
          .as("_term"))
      .select(col("doc"),
        featureOf(col("_term"), numFeatures, portableHash).as("feature"))
  }

  /** Train on a labeled document set (labelCol ∈ {0.0, 1.0}) and
    * return the flat weights artifact: `(feature, weight)` rows for
    * every non-zero coefficient plus the intercept at feature = −1.
    *
    * The hashed count vector is assembled SPARSE (sorted
    * (feature, cnt) pairs → `Vectors.sparse` — a dense
    * numFeatures-length array per doc caps the hash space at a few
    * thousand buckets, while fastText-style spaces are 2^17+). The
    * assembly UDF is the MLlib-interop necessity carve-out and lives
    * only on the fit path, which is bounded by the curated labeled
    * sample. L-BFGS is deterministic for fixed data/partitioning;
    * QualityClfSpec asserts two fits produce identical artifacts. */
  def fit(df: DataFrame, idCol: String, textCol: String, labelCol: String,
          numFeatures: Int = 1024, maxIter: Int = 50,
          regParam: Double = 0.0, portableHash: Boolean = true): DataFrame = {
    val counted = featureRows(df, idCol, textCol, numFeatures, portableHash)
      .groupBy("doc", "feature").agg(count(lit(1)).cast("double").as("cnt"))
    val toSparse = udf((idx: Seq[Long], vals: Seq[Double]) =>
      org.apache.spark.ml.linalg.Vectors.sparse(
        numFeatures, idx.map(_.toInt).toArray, vals.toArray))
    val vecs = counted.groupBy("doc")
      .agg(sort_array(collect_list(struct(col("feature"), col("cnt"))))
        .as("_fs"))
      .select(col("doc"), toSparse(
        col("_fs").getField("feature"), col("_fs").getField("cnt"))
        .as("features"))
    val labeled = df.select(col(idCol).as("doc"),
        col(labelCol).cast("double").as("label"))
      .join(vecs, Seq("doc"))
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setFeaturesCol("features").setLabelCol("label")
    val model = lr.fit(labeled)
    val spark = df.sparkSession
    import spark.implicits._
    val rows = model.coefficients.toArray.zipWithIndex
      .filter(_._1 != 0.0)
      .map { case (w, i) => (i.toLong, w) }
      .toSeq :+ (-1L, model.intercept)
    rows.toDF("feature", "weight")
  }

  /** Score documents against a weights artifact (from [[fit]] or any
    * `(feature, weight)` table with the intercept at feature = −1).
    * Output: (doc, margin, score, label) — margin round-6 BEFORE the
    * sigmoid, score = round-6 sigmoid(margin), label = margin > 0 as
    * int. Documents with no terms score at the bare intercept (they
    * stay in the output — a filter stage must SEE every page). */
  def score(df: DataFrame, idCol: String, textCol: String,
            weights: DataFrame, numFeatures: Int,
            portableHash: Boolean = true): DataFrame = {
    val w = broadcast(weights.filter(col("feature") >= 0)
      .select(col("feature"), col("weight")))
    // 1-row scalar broadcast, the (N, avgdl) pattern of bm25Rankings
    val b0 = broadcast(weights.filter(col("feature") === -1)
      .agg(coalesce(sum("weight"), lit(0.0)).as("_b0")))
    val margins = featureRows(df, idCol, textCol, numFeatures, portableHash)
      .join(w, Seq("feature"))
      .groupBy("doc").agg(sum("weight").as("_wsum"))
    val margin = round(col("_b0") + coalesce(col("_wsum"), lit(0.0)), 6)
    df.select(col(idCol).as("doc"))
      .join(margins, Seq("doc"), "left")
      .crossJoin(b0)
      .select(col("doc"), margin.as("margin"))
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6))
      .withColumn("label", (col("margin") > 0).cast("int"))
  }

  /** Collect a weights artifact to a (map, intercept) pair for the
    * literal-expression deploy path. Driver-bounded by construction:
    * at most numFeatures + 1 rows. */
  def weightsMap(weights: DataFrame): (Map[Long, Double], Double) = {
    val rows = weights.select("feature", "weight").collect()
    val m = rows.filter(_.getLong(0) >= 0)
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b0 = rows.find(_.getLong(0) == -1).map(_.getDouble(1)).getOrElse(0.0)
    (m, b0)
  }

  /** The round-6 margin as a PURE column expression over a token-array
    * column — weights ride as a broadcast map literal, the sum is a
    * sequential fold over the term array. Stateless: this is the
    * streaming deploy shape (no groupBy, no watermark, no state
    * store), and the small-model batch shape (skips the explode +
    * groupBy entirely). Round-6 agrees with [[score]]'s margin —
    * sum order is the only difference (QualityClfSpec asserts it). */
  def marginExpr(toks: Column, wmap: Map[Long, Double], intercept: Double,
                 numFeatures: Int, portableHash: Boolean = true): Column = {
    val m = typedlit(wmap)
    round(lit(intercept) + aggregate(termsOf(toks), lit(0.0),
      (acc, t) => acc + coalesce(
        element_at(m, featureOf(t, numFeatures, portableHash)), lit(0.0))), 6)
  }
}
