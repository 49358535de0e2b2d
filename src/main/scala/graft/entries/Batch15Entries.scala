package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.clean.Extras
import graft.rel.{Sampling, Spatial}
import graft.stats.Regression
import graft.text.TextFns

/** Round-5 batch: distributed Otsu, regression error metrics,
  * deterministic bootstrap CI, uniform sampling, haversine nearest
  * join, and the string-transform battery.
  */
object Batch15Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.9 get_threshold_from (otsu) (gofast/utils/mathext.py:156) as a
    // fully distributed plan — argmax of between-class variance over a
    // 32-bin histogram of l_extendedprice.
    "otsu" -> ((s, dir) => {
      Extras.otsuThresholdDf(T.lineitem(s, dir), "l_extendedprice", bins = 32)
    }),

    // §2.9 compute_errors (mathext.py:4887): MAE/RMSE/R² of the
    // one-regressor OLS price ~ quantity, closed form + quantized
    // residual sums.
    "reg_metrics" -> ((s, dir) => {
      Regression.errorMetricsSimple(T.lineitem(s, dir),
        "l_extendedprice", "l_quantity")
    }),

    // §2.4 bootstrap (inferential.py:1713): 200 deterministic
    // hash-resamples of mean(c_acctbal), exact-percentile CI.
    "bootstrap_ci" -> ((s, dir) => {
      Sampling.bootstrapMeanCi(T.customer(s, dir), "c_custkey", "c_acctbal",
        b = 200)
    }),

    // §2.4 uniform_sampling (probs.py:504): deterministic draws from
    // the engine's seeded-RNG-free uniform generator (the same
    // quadratic mixer bootstrapMeanCi samples with — unbiased over the
    // full range, unlike a bare multiplicative hash), binned into
    // deciles and checkable bit-for-bit.
    "uniform_hist" -> ((s, dir) => {
      s.range(10000)
        .select((Sampling.drawIndex(col("id"), 1000000L).cast("double")
          / lit(1000000.0)).as("u"))
        .select(floor(col("u") * 10).cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // §2.3 dual_merge / geo nearest-neighbor (spatial_utils.py:2318,
    // geo/system.py:499): nearest supplier by haversine for the first
    // 100 customers, coordinates synthesized deterministically from the
    // keys (the tables carry no lon/lat).
    "haversine_nn" -> ((s, dir) => {
      val c = T.customer(s, dir).filter(col("c_custkey") < 100)
        .select(col("c_custkey"),
          ((col("c_custkey") % 160).cast("double") - 80.0 + 0.25).as("clat"),
          (((col("c_custkey") * 7) % 340).cast("double") - 170.0 + 0.25).as("clon"))
      val su = T.supplier(s, dir)
        .select(col("s_suppkey"),
          (((col("s_suppkey") * 13) % 160).cast("double") - 80.0 + 0.25).as("slat"),
          (((col("s_suppkey") * 11) % 340).cast("double") - 170.0 + 0.25).as("slon"))
      Spatial.nearestByHaversine(c, su, "c_custkey", "s_suppkey",
          "clat", "clon", "slat", "slon")
        .select("c_custkey", "s_suppkey", "dist_km")
        .orderBy("c_custkey")
    }),

    // §2.5 weighted_spearman_rank (mathext.py:3512): weighted Pearson
    // over per-row two-phase average ranks (2×rank longs), weights =
    // l_linenumber — every weighted moment stays exact in decimal.
    "wspearman" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_linenumber")
      // inner pass: cut = false — its input is the bare 4-column scan
      // (see the spearman entry note)
      val base = graft.ts.Windows.rank2Rows(
        graft.ts.Windows.rank2Rows(li, Seq("l_returnflag"), "l_quantity", "r2q",
          cut = false),
        Seq("l_returnflag"), "l_extendedprice", "r2p")
      val w = col("l_linenumber").cast("long")
      def sd(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,0)")).cast("double")
      base.groupBy("l_returnflag").agg({
          val sw = sd(w); val sx = sd(w * col("r2q")); val sy = sd(w * col("r2p"))
          val sxy = sd(w * col("r2q") * col("r2p"))
          val sxx = sd(w * col("r2q") * col("r2q"))
          val syy = sd(w * col("r2p") * col("r2p"))
          round((sw * sxy - sx * sy) /
            (sqrt(sw * sxx - sx * sx) * sqrt(sw * syy - sy * sy)), 9)
            .as("wspearman")
        })
        .orderBy("l_returnflag")
    }),

    // §2.10 multimodal plumbing over opaque binary columns
    // (mm.Multimodal schema): size, content hash, and fixed-offset byte
    // samples — the decode-free feature set, oracle-checked so the
    // binary-column path (cast, substring-on-bytes, hashing) is proven
    // engine-portable.
    "binary_meta" -> ((s, dir) => {
      val b = col("text").cast("binary")
      T.documents(s, dir).select(
          col("doc_id"),
          octet_length(b).as("n_bytes"),
          md5(b).as("content_hash"),
          substring(lower(hex(b)), 1, 16).as("head8"),
          substring(lower(hex(b)), 17, 16).as("next8"))
        .orderBy("doc_id")
    }),

    // §2.9 smart_label_classifier (gofast/utils/ml/utils.py:902):
    // threshold ladder value→label, then label distribution.
    "smart_labels" -> ((s, dir) => {
      val lbl = when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 3000, "low")
        .when(col("c_acctbal") < 7000, "mid")
        .otherwise("high")
      T.customer(s, dir).select(lbl.as("label"))
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label")
    }),

    // §2.9 text scalar battery (text.py:316-1841): snake_case, slug,
    // truncate, reverse, palindrome, base64 — one projection.
    "text_case" -> ((s, dir) => {
      val t = col("text")
      T.documents(s, dir).select(
          col("doc_id"),
          TextFns.toSnakeCase(substring(t, 1, 24)).as("snake"),
          TextFns.slugify(substring(t, 1, 24)).as("slug"),
          TextFns.truncateText(t, 16).as("trunc"),
          TextFns.reverseText(lower(substring(t, 1, 12))).as("rev"),
          TextFns.isPalindrome(lower(t)).as("pal"),
          TextFns.encodeB64(substring(t, 1, 12)).as("b64"))
        .orderBy("doc_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "otsu" ->
      """WITH b AS (SELECT MIN(l_extendedprice) lo, MAX(l_extendedprice) hi FROM lineitem),
        |h AS (
        |  SELECT CASE WHEN hi <= lo THEN 0 ELSE
        |      LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 32.0)) AS BIGINT), 31) END AS bin,
        |    COUNT(*) AS n, MIN(lo) AS lo, MIN(hi) AS hi
        |  FROM lineitem, b GROUP BY 1),
        |c AS (
        |  SELECT bin, n, lo, hi,
        |    CAST(SUM(n) OVER (ORDER BY bin) AS DOUBLE) AS a0,
        |    CAST(SUM(n * bin) OVER (ORDER BY bin) AS DOUBLE) AS b0,
        |    CAST(SUM(n) OVER () AS DOUBLE) AS att,
        |    CAST(SUM(n * bin) OVER () AS DOUBLE) AS bt,
        |    (hi - lo) / 32.0 AS w
        |  FROM h),
        |e AS (
        |  SELECT bin, lo, hi, w, a0, att,
        |    lo * a0 + w * (b0 + a0 * 0.5) AS s0,
        |    lo * att + w * (bt + att * 0.5) AS st
        |  FROM c)
        |SELECT bin, lo + (bin + 1) * w AS threshold,
        |  a0 * (att - a0) * (s0 / a0 - (st - s0) / (att - a0))
        |               * (s0 / a0 - (st - s0) / (att - a0)) AS between_var
        |FROM e WHERE bin < 31 AND att - a0 > 0
        |ORDER BY between_var DESC, bin ASC LIMIT 1""".stripMargin,

    "reg_metrics" ->
      """WITH m AS (
        |  SELECT COUNT(*) AS nl,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS DOUBLE) AS syy
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |f AS (
        |  SELECT nl, CAST(nl AS DOUBLE) AS n,
        |    (CAST(nl AS DOUBLE) * sxy - sx * sy) / (CAST(nl AS DOUBLE) * sxx - sx * sx) AS b,
        |    (sy - ((CAST(nl AS DOUBLE) * sxy - sx * sy) / (CAST(nl AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(nl AS DOUBLE) AS a,
        |    syy - sy * sy / CAST(nl AS DOUBLE) AS sstot
        |  FROM m),
        |e AS (
        |  SELECT f.nl, f.sstot,
        |    CAST(ROUND((l_extendedprice - (a + b * l_quantity)) * 1000.0, 0) AS BIGINT) AS e3
        |  FROM lineitem, f WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
        |SELECT
        |  ROUND(CAST(SUM(CAST(ABS(e3) AS DECIMAL(38,0))) AS DOUBLE) / 1000.0 / CAST(nl AS DOUBLE), 6) AS mae,
        |  ROUND(SQRT(CAST(SUM(CAST(e3 * e3 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 / CAST(nl AS DOUBLE)), 6) AS rmse,
        |  ROUND(1.0 - (CAST(SUM(CAST(e3 * e3 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) / sstot, 9) AS r2,
        |  nl AS n
        |FROM e GROUP BY nl, sstot""".stripMargin,

    "bootstrap_ci" ->
      """WITH cnt AS (SELECT COUNT(*) AS n, MIN(c_custkey) AS lo FROM customer),
        |keys AS (
        |  SELECT t.range AS r, n,
        |    CAST(t.range * n + c_custkey - lo AS HUGEINT) AS k
        |  FROM customer, range(200) t, cnt),
        |draws AS (
        |  SELECT r,
        |    ((1803442081483830013 * ((k * k) % 2305843009213693951)
        |      + k * 656901407040548081 + 98764321261)
        |     % 2305843009213693951) % n AS idx
        |  FROM keys),
        |means AS (
        |  SELECT r,
        |    CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |      / CAST((SELECT n FROM cnt) AS DOUBLE) AS m
        |  FROM draws JOIN customer c2
        |    ON draws.idx = c2.c_custkey - (SELECT lo FROM cnt)
        |  GROUP BY r),
        |q AS (SELECT quantile_cont(m, [0.025, 0.5, 0.975]) AS l FROM means)
        |SELECT l[1] AS ci_lo, l[2] AS ci_med, l[3] AS ci_hi FROM q""".stripMargin,

    "uniform_hist" ->
      """WITH k AS (SELECT CAST(range AS HUGEINT) AS k FROM range(10000)),
        |u AS (
        |  SELECT CAST(((1803442081483830013 * ((k * k) % 2305843009213693951)
        |      + k * 656901407040548081 + 98764321261)
        |     % 2305843009213693951) % 1000000 AS DOUBLE) / 1000000.0 AS u
        |  FROM k)
        |SELECT CAST(FLOOR(u * 10) AS INT) AS bin, COUNT(*) AS n
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "haversine_nn" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 AS DOUBLE) - 80.0 + 0.25 AS clat,
        |    CAST((c_custkey * 7) % 340 AS DOUBLE) - 170.0 + 0.25 AS clon
        |  FROM customer WHERE c_custkey < 100),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey * 13) % 160 AS DOUBLE) - 80.0 + 0.25 AS slat,
        |    CAST((s_suppkey * 11) % 340 AS DOUBLE) - 170.0 + 0.25 AS slon
        |  FROM supplier),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |    ROUND(12742.0 * ASIN(SQRT(
        |      SIN(RADIANS((slat - clat) / 2)) * SIN(RADIANS((slat - clat) / 2))
        |      + COS(RADIANS(clat)) * COS(RADIANS(slat))
        |        * SIN(RADIANS((slon - clon) / 2)) * SIN(RADIANS((slon - clon) / 2)))), 3) AS dist_km
        |  FROM c, s),
        |r AS (
        |  SELECT c_custkey, s_suppkey, dist_km,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY dist_km, s_suppkey) AS rn
        |  FROM d)
        |SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin,

    "wspearman" -> {
      def r2(v: String) =
        s"""CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY $v)
           |      + COUNT(*) OVER (PARTITION BY l_returnflag, $v) - 1 AS BIGINT)""".stripMargin
      def sd(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(38,0))) AS DOUBLE)"
      s"""WITH r AS (
         |  SELECT l_returnflag, CAST(l_linenumber AS BIGINT) AS w,
         |    ${r2("l_quantity")} AS r2q,
         |    ${r2("l_extendedprice")} AS r2p
         |  FROM lineitem),
         |m AS (
         |  SELECT l_returnflag,
         |    ${sd("w")} AS sw, ${sd("w * r2q")} AS sx, ${sd("w * r2p")} AS sy,
         |    ${sd("w * r2q * r2p")} AS sxy,
         |    ${sd("w * r2q * r2q")} AS sxx,
         |    ${sd("w * r2p * r2p")} AS syy
         |  FROM r GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  ROUND((sw * sxy - sx * sy) /
         |    (SQRT(sw * sxx - sx * sx) * SQRT(sw * syy - sy * sy)), 9) AS wspearman
         |FROM m ORDER BY l_returnflag""".stripMargin
    },

    "binary_meta" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  md5(text) AS content_hash,
        |  substring(lower(hex(CAST(text AS BLOB))), 1, 16) AS head8,
        |  substring(lower(hex(CAST(text AS BLOB))), 17, 16) AS next8
        |FROM documents ORDER BY doc_id""".stripMargin,

    "smart_labels" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'debt'
        |            WHEN c_acctbal < 3000 THEN 'low'
        |            WHEN c_acctbal < 7000 THEN 'mid'
        |            ELSE 'high' END AS label,
        |  COUNT(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_case" ->
      """SELECT doc_id,
        |  lower(regexp_replace(regexp_replace(substring(text, 1, 24), '([a-z0-9])([A-Z])', '\1_\2', 'g'), '[\s-]+', '_', 'g')) AS snake,
        |  regexp_replace(trim(regexp_replace(lower(substring(text, 1, 24)), '[^a-z0-9]+', ' ', 'g')), ' +', '-', 'g') AS slug,
        |  substring(text, 1, 16) AS trunc,
        |  reverse(lower(substring(text, 1, 12))) AS rev,
        |  reverse(lower(text)) = lower(text) AS pal,
        |  base64(CAST(substring(text, 1, 12) AS BLOB)) AS b64
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
