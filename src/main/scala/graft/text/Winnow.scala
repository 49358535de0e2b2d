package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkes & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003 — the MOSS algorithm). Complements the MinHash /
  * SimHash sketches (Dedup.scala): those estimate WHOLE-document
  * similarity; winnowing gives a LOCAL guarantee — any shared
  * substring of at least `w + k − 1` characters is detected, because
  * both documents must select at least one common k-gram hash from it.
  * That is the property content-overlap / plagiarism / licence-text
  * detection needs and a resemblance sketch cannot give.
  *
  * Kernel: lower-case + strip non-alphanumerics + drop ALL whitespace
  * (the paper's normalization), hash every character k-gram, slide a
  * window of `w` consecutive hashes and keep each window's minimum;
  * the distinct selected hashes are the fingerprint set. Density is
  * 2/(w+1) of all k-grams (paper §3), so the fingerprint table is a
  * small fraction of corpus volume.
  *
  * Everything is row-local over the char stream (a native kernel for
  * the xxhash64 family, higher-order functions for the md5 family) —
  * no explode until the final (id, fp) projection, no UDF, no
  * shuffle before the fingerprint groupBy. At 100 TB the plan is:
  * one scan, per-row kernel, one exchange keyed by fp hash (bounded
  * by the dup-set guard exactly like minhashPairs).
  *
  * Reference north-star: document fingerprinting
  * (gofast/utils/text.py fingerprint family); algorithm is the public
  * SIGMOD 2003 paper.
  */
object Winnow {

  /** Selected window-min hashes per document, one row per distinct
    * fingerprint: (idCol, fp: long).
    *
    * Documents whose normalized char stream is shorter than
    * `k + w − 1` produce NO fingerprints (below the guarantee
    * threshold, exactly the paper's domain). Ties inside a window
    * resolve by VALUE (the min hash), so the selected SET is
    * identical under any tie-breaking rule — the rightmost-min rule
    * of the paper only changes recorded positions, which pair
    * detection does not use.
    *
    * The xxhash64 family runs the native row-local `winnow_fps`
    * kernel: O(n) monotonic-deque window minima inside whole-stage
    * codegen. `portableHash = true` swaps in the md5-derived 60-bit
    * hash ([[Dedup.md5Hash64]]) so any engine with md5 replays the
    * selection bit-identically (the oracle convention); that family
    * runs as higher-order functions over the char stream
    * ([[md5WindowMins]]). (id, fp) is unique by construction — each
    * row's minima are distinct — and below-threshold docs explode to
    * zero rows.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4,
                   portableHash: Boolean = false): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2, got $k")
    require(w >= 2, s"winnow window must be >= 2, got $w")
    val s = regexp_replace(TextFns.cleanText(col(textCol)), " ", "")
    val fps =
      if (portableHash) md5WindowMins(s, k, w)
      else {
        graft.functions.NativeFunctions.register(df.sparkSession)
        call_function("winnow_fps", s, lit(k), lit(w))
      }
    df.select(col(idCol), explode(fps).as("fp"))
  }

  /** Distinct window minima of the md5-60 k-gram hashes of `sRaw`.
    * HOF lambdas get NO subexpression elimination: an array-valued
    * expression referenced inside a lambda re-evaluates on EVERY
    * lambda invocation, turning the window pass O(n²·md5). Each stage
    * is therefore LET-BOUND via the one-element-array trick —
    * transform(array(e), x => body)[0] evaluates `e` exactly once per
    * row and hands the VALUE to the body as a lambda variable. */
  private def md5WindowMins(sRaw: Column, k: Int, w: Int): Column = {
    val emptyL = array().cast("array<long>")
    transform(array(sRaw), s0 => {
      val nG = length(s0) - lit(k - 1) // # k-grams
      val hashesE = when(nG >= 1,
        transform(sequence(lit(1), nG),
          i => Dedup.md5Hash64(s0.substr(i, lit(k)))))
        .otherwise(emptyL)
      transform(array(hashesE), hs => {
        val nWin = size(hs) - lit(w - 1) // # complete windows
        when(nWin >= 1, array_distinct(
            transform(sequence(lit(1), nWin),
              j => array_min(slice(hs, j, lit(w))))))
          .otherwise(emptyL)
      }).getItem(0)
    }).getItem(0)
  }

  /** Document pairs sharing at least `minShared` winnowing
    * fingerprints: (id_a, id_b, n_shared), id_a < id_b.
    *
    * The pair join is keyed by fingerprint hash and guarded by the
    * bounded-dup-set rule (same convention as minhashPairs /
    * spanDedup): a hash held by more than `maxDf` documents is
    * boilerplate (licence headers, navigation chrome) and is dropped
    * BEFORE the self-join, so no hash group can go quadratic. The
    * drop is conservative for dedup — boilerplate-only overlap is
    * exactly what near-dup detection wants to ignore.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String,
            k: Int = 5, w: Int = 4, minShared: Int = 2,
            maxDf: Int = 1000,
            portableHash: Boolean = false): DataFrame = {
    val fps = fingerprints(df, idCol, textCol, k, w, portableHash)
    val bounded = fps
      .withColumn("_df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("_df") <= maxDf && col("_df") >= 2)
      .drop("_df")
    val a = bounded.select(col(idCol).as("id_a"), col("fp"))
    val b = bounded.select(col(idCol).as("id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-corpus overlap: pairs (id_a from `df`, id_b from `ref`)
    * sharing at least `minShared` fingerprints — the
    * licence-text / plagiarism / contamination shape where a GROWING
    * corpus is screened against a FIXED reference set, so output is
    * linear in the corpus (≤ corpus × |ref-matches|), never the
    * corpus self-join's quadratic pair listing. The dup-set bound
    * applies to the reference side only (a reference fingerprint in
    * more than `maxDf` reference docs is boilerplate). */
  def crossPairs(df: DataFrame, ref: DataFrame,
                 idCol: String, textCol: String,
                 k: Int = 5, w: Int = 4, minShared: Int = 2,
                 maxDf: Int = 1000,
                 portableHash: Boolean = false): DataFrame = {
    val refFps = fingerprints(ref, idCol, textCol, k, w, portableHash)
      .withColumn("_df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("_df") <= maxDf)
      .select(col(idCol).as("id_b"), col("fp"))
    val corpusFps = fingerprints(df, idCol, textCol, k, w, portableHash)
      .select(col(idCol).as("id_a"), col("fp"))
    corpusFps.join(refFps, Seq("fp"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
