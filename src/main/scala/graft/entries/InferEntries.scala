package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.stats.Inferential

/** Driver-contract entries for inferential tests (SURVEY §2.4
  * inferential row). Statistics only — p-values are driver-side
  * ([[graft.stats.PValues]], covered by InferSpec); DuckDB has no
  * distribution CDFs to oracle them against.
  */
object InferEntries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Welch t-test (inferential.py:388).
    "t_test" -> ((s, dir) => {
      Inferential.tTestWelch(T.customer(s, dir), "c_acctbal",
        "c_mktsegment", "AUTOMOBILE", "BUILDING")
    }),

    // paired t (inferential.py:526) on an exact 2-dp difference.
    "paired_t" -> ((s, dir) => {
      Inferential.pairedTTest(T.lineitem(s, dir),
        col("l_quantity") - col("l_tax") * 100.0)
    }),

    // chi-square independence (inferential.py:1496).
    "chi2" -> ((s, dir) => {
      Inferential.chi2Test(T.orders(s, dir), "o_orderpriority", "o_orderstatus")
    }),

    // one-way ANOVA (inferential.py:1605).
    "anova" -> ((s, dir) => {
      Inferential.anovaF(T.customer(s, dir), "c_acctbal", "c_mktsegment")
    }),

    // two-sample KS (inferential.py:1173) — exact rational D.
    "ks_test" -> ((s, dir) => {
      Inferential.ksTest(T.lineitem(s, dir), "l_quantity",
        "l_returnflag", "A", "R")
    }),

    // Cronbach α (inferential.py:1391).
    "cronbach" -> ((s, dir) => {
      Inferential.cronbachAlpha(T.lineitem(s, dir),
        Seq("l_quantity", "l_discount", "l_tax"))
    }),

    // Kruskal–Wallis rank ANOVA (inferential.py:1039).
    "kruskal_wallis" -> ((s, dir) => {
      Inferential.kruskalWallis(T.customer(s, dir), "c_acctbal", "c_mktsegment")
    }),

    // Brown–Forsythe Levene (inferential.py:793).
    "levene" -> ((s, dir) => {
      Inferential.levene(T.lineitem(s, dir), "l_quantity", "l_returnflag")
    }),

    // Wilcoxon signed-rank on the paired_t difference (inferential.py:200).
    "wilcoxon" -> ((s, dir) => {
      Inferential.wilcoxonSignedRank(T.lineitem(s, dir),
        col("l_quantity") - col("l_tax") * 100.0)
    }),

    // Friedman over complete order blocks of line numbers 1..3
    // (inferential.py:1272).
    "friedman" -> ((s, dir) => {
      Inferential.friedman(
        T.lineitem(s, dir).filter(col("l_linenumber").isin(1, 2, 3)),
        "l_orderkey", "l_linenumber", "l_quantity", k = 3)
    }),

    // McNemar paired-binary χ² (inferential.py:911).
    "mcnemar" -> ((s, dir) => {
      Inferential.mcnemar(T.lineitem(s, dir),
        col("l_discount") > 0.05, col("l_tax") > 0.04)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "t_test" ->
      """WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 100.0) AS sa,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 100.0) AS sb,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 10000.0) AS qa,
        |    (CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) END) AS DOUBLE) / 10000.0) AS qb
        |  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING'))
        |SELECT
        |  ROUND((sa/na - sb/nb) / SQRT((qa - sa*sa/na)/(na-1)/na + (qb - sb*sb/nb)/(nb-1)/nb), 9) AS t_stat,
        |  ROUND(((qa - sa*sa/na)/(na-1)/na + (qb - sb*sb/nb)/(nb-1)/nb)
        |      * ((qa - sa*sa/na)/(na-1)/na + (qb - sb*sb/nb)/(nb-1)/nb)
        |    / (((qa - sa*sa/na)/(na-1)/na) * ((qa - sa*sa/na)/(na-1)/na) / (na-1)
        |     + ((qb - sb*sb/nb)/(nb-1)/nb) * ((qb - sb*sb/nb)/(nb-1)/nb) / (nb-1)), 6) AS welch_df,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
        |FROM m""".stripMargin,

    "paired_t" ->
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    (CAST(SUM(CAST(ROUND((l_quantity - l_tax * 100.0) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) AS s,
        |    (CAST(SUM(CAST(ROUND((l_quantity - l_tax * 100.0) * 100, 0) AS BIGINT) * CAST(ROUND((l_quantity - l_tax * 100.0) * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) AS q
        |  FROM lineitem)
        |SELECT ROUND((s/n) / SQRT(((q - s*s/n)/(n-1))/n), 9) AS t_stat,
        |  CAST(n - 1 AS BIGINT) AS dof
        |FROM m""".stripMargin,

    "chi2" ->
      """WITH cells AS (
        |  SELECT o_orderpriority a, o_orderstatus b, CAST(COUNT(*) AS DOUBLE) o
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT o, SUM(o) OVER (PARTITION BY a) ra, SUM(o) OVER (PARTITION BY b) cb,
        |    SUM(o) OVER () n, a, b
        |  FROM cells)
        |SELECT ROUND(SUM(POWER(o - ra*cb/n, 2) / (ra*cb/n)), 6) AS chi2,
        |  CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT) AS dof
        |FROM m""".stripMargin,

    "anova" ->
      """WITH g AS (
        |  SELECT c_mktsegment,
        |    CAST(COUNT(*) AS DOUBLE) ni,
        |    (CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) si,
        |    (CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) qi
        |  FROM customer GROUP BY 1),
        |t AS (
        |  SELECT SUM(ni) n, CAST(COUNT(*) AS DOUBLE) k, SUM(si) s, SUM(qi) q,
        |    SUM(si * si / ni) sb
        |  FROM g)
        |SELECT
        |  ROUND(((sb - s*s/n) / (k-1)) / ((q - sb) / (n-k)), 9) AS f_stat,
        |  CAST(k - 1 AS BIGINT) AS df_between,
        |  CAST(n - k AS BIGINT) AS df_within
        |FROM t""".stripMargin,

    "ks_test" ->
      """WITH pv AS (
        |  SELECT l_quantity v,
        |    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) ca,
        |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) cb
        |  FROM lineitem WHERE l_returnflag IN ('A','R') GROUP BY 1),
        |c AS (
        |  SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) fa,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) fb,
        |    SUM(ca) OVER () na, SUM(cb) OVER () nb
        |  FROM pv)
        |SELECT MAX(ABS(CAST(fa AS DOUBLE)/na - CAST(fb AS DOUBLE)/nb)) AS ks_d
        |FROM c""".stripMargin,

    "cronbach" ->
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) n,
        |    (CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) s0,
        |    (CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT) * CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) q0,
        |    (CAST(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) s1,
        |    (CAST(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT) * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) q1,
        |    (CAST(SUM(CAST(ROUND(l_tax * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) s2,
        |    (CAST(SUM(CAST(ROUND(l_tax * 100, 0) AS BIGINT) * CAST(ROUND(l_tax * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) q2,
        |    (CAST(SUM(CAST(ROUND((l_quantity + l_discount + l_tax) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0) st,
        |    (CAST(SUM(CAST(ROUND((l_quantity + l_discount + l_tax) * 100, 0) AS BIGINT) * CAST(ROUND((l_quantity + l_discount + l_tax) * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0) qt
        |  FROM lineitem)
        |SELECT ROUND(1.5 * (1.0 -
        |    (((q0 - s0*s0/n)/(n-1) + (q1 - s1*s1/n)/(n-1)) + (q2 - s2*s2/n)/(n-1))
        |    / ((qt - st*st/n)/(n-1))), 9) AS alpha
        |FROM m""".stripMargin,

    // Ranks carried as 2×rank bigints exactly as the Spark plan does;
    // only the k-term fold and the H expression run in double.
    "kruskal_wallis" ->
      """WITH gv AS (
        |  SELECT c_mktsegment g, c_acctbal v, COUNT(*) cgv FROM customer GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(SUM(cgv) AS BIGINT) cv FROM gv GROUP BY v),
        |rk AS (
        |  SELECT v, cv,
        |    2 * COALESCE(SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv + 1 AS rank2
        |  FROM pv),
        |pg AS (
        |  SELECT g, CAST(SUM(cgv * rank2) AS BIGINT) r2i, CAST(SUM(cgv) AS BIGINT) ni
        |  FROM gv JOIN rk USING (v) GROUP BY g),
        |t AS (SELECT CAST(SUM(cv*cv*cv - cv) AS BIGINT) tsum FROM pv),
        |a AS (
        |  SELECT SUM((CAST(r2i AS DOUBLE)/2) * (CAST(r2i AS DOUBLE)/2) / CAST(ni AS DOUBLE)) srr,
        |    CAST(SUM(ni) AS DOUBLE) n, CAST(COUNT(*) AS DOUBLE) k
        |  FROM pg)
        |SELECT ROUND((12.0/(n*(n+1)) * srr - 3.0*(n+1)) / (1.0 - CAST(tsum AS DOUBLE)/(n*n*n - n)), 9) AS h_stat,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM a, t""".stripMargin,

    // |x−med| is an exact 3-dp decimal for 2-dp doubles, so group
    // spreads aggregate exactly; quantile_cont == Spark percentile.
    "levene" ->
      """WITH med AS (
        |  SELECT l_returnflag g, quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) med
        |  FROM lineitem GROUP BY 1),
        |z AS (
        |  SELECT g, CAST(ROUND(ABS(CAST(l_quantity AS DOUBLE) - med) * 1000, 0) AS BIGINT) zl
        |  FROM lineitem JOIN med ON l_returnflag = g),
        |pg AS (
        |  SELECT g, CAST(COUNT(*) AS DOUBLE) ni,
        |    (CAST(SUM(zl) AS DOUBLE) / 1000.0) szi,
        |    (CAST(SUM(zl * zl) AS DOUBLE) / 1000000.0) qzi
        |  FROM z GROUP BY g),
        |t AS (
        |  SELECT SUM(ni) n, CAST(COUNT(*) AS DOUBLE) k, SUM(szi) sz, SUM(qzi) qz,
        |    SUM(szi * szi / ni) sb
        |  FROM pg)
        |SELECT ROUND(((sb - sz*sz/n) / (k-1)) / ((qz - sb) / (n-k)), 9) AS w_stat,
        |  CAST(k - 1 AS BIGINT) AS df_between,
        |  CAST(n - k AS BIGINT) AS df_within
        |FROM t""".stripMargin,

    "wilcoxon" ->
      """WITH nz AS (
        |  SELECT CAST(l_quantity - l_tax * 100.0 AS DECIMAL(18,2)) d
        |  FROM lineitem
        |  WHERE CAST(l_quantity - l_tax * 100.0 AS DECIMAL(18,2)) <> 0),
        |gv AS (SELECT (d > 0) g, ABS(d) v, COUNT(*) cgv FROM nz GROUP BY 1, 2),
        |pv AS (SELECT v, CAST(SUM(cgv) AS BIGINT) cv FROM gv GROUP BY v),
        |rk AS (
        |  SELECT v, cv,
        |    2 * COALESCE(SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv + 1 AS rank2
        |  FROM pv),
        |m AS (
        |  SELECT CAST(SUM(CASE WHEN g THEN cgv * rank2 ELSE 0 END) AS BIGINT) w2p,
        |    CAST(SUM(cgv) AS BIGINT) nl
        |  FROM gv JOIN rk USING (v)),
        |t AS (SELECT CAST(SUM(cv*cv*cv - cv) AS BIGINT) tsum FROM pv)
        |SELECT CAST(w2p AS DOUBLE)/2 AS w_plus, nl AS n_nonzero,
        |  ROUND((CAST(w2p AS DOUBLE)/2 - n*(n+1)/4) /
        |    SQRT(n*(n+1)*(2*n+1)/24 - CAST(tsum AS DOUBLE)/48), 9) AS z_stat
        |FROM (SELECT w2p, nl, CAST(nl AS DOUBLE) n FROM m), t""".stripMargin,

    "friedman" ->
      """WITH base AS (
        |  SELECT l_orderkey b, l_linenumber t, l_quantity v
        |  FROM lineitem WHERE l_linenumber IN (1, 2, 3)),
        |cb AS (SELECT b FROM base GROUP BY b HAVING COUNT(*) = 3),
        |kept AS (SELECT base.* FROM base JOIN cb USING (b)),
        |rk AS (
        |  SELECT t,
        |    2 * RANK() OVER (PARTITION BY b ORDER BY v) + COUNT(*) OVER (PARTITION BY b, v) - 1 AS rank2
        |  FROM kept),
        |pt AS (SELECT t, CAST(SUM(rank2) AS BIGINT) r2j FROM rk GROUP BY t),
        |a AS (SELECT CAST(SUM(rank2 * rank2) AS BIGINT) a4, CAST(COUNT(*)/3 AS BIGINT) nb FROM rk),
        |f AS (
        |  SELECT SUM((CAST(r2j AS DOUBLE)/2 - CAST(nb AS DOUBLE)*4/2) *
        |             (CAST(r2j AS DOUBLE)/2 - CAST(nb AS DOUBLE)*4/2)) sdev,
        |    ANY_VALUE(a4) a4, ANY_VALUE(nb) nb
        |  FROM pt, a)
        |SELECT ROUND(2.0 * sdev / (CAST(a4 AS DOUBLE)/4 - CAST(nb AS DOUBLE)*3*16/4.0), 9) AS q_stat,
        |  CAST(2 AS BIGINT) AS dof, nb AS n_blocks
        |FROM f""".stripMargin,

    "mcnemar" ->
      """WITH m AS (
        |  SELECT CAST(SUM(CASE WHEN l_discount > 0.05 AND NOT (l_tax > 0.04) THEN 1 ELSE 0 END) AS BIGINT) b10,
        |    CAST(SUM(CASE WHEN NOT (l_discount > 0.05) AND l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) b01
        |  FROM lineitem)
        |SELECT (ABS(CAST(b10 AS DOUBLE) - CAST(b01 AS DOUBLE)) - 1) *
        |       (ABS(CAST(b10 AS DOUBLE) - CAST(b01 AS DOUBLE)) - 1) /
        |       (CAST(b10 AS DOUBLE) + CAST(b01 AS DOUBLE)) AS chi2_cc,
        |  b10, b01
        |FROM m""".stripMargin
  )
}
