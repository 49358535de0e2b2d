package graft.entries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}

/** Round-12 continuation batch: chrF joins the generation-eval family
  * (BLEU ✓ ROUGE-N ✓ ROUGE-L ✓ — chrF is the fourth WMT standard, and
  * the only tokenization-free one).
  */
object Batch33Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // text.EvalMetrics.chrF: per-document chrF2 (Popović 2015) of each
    // document against its first-word-dropped twin — character n-grams
    // 1..6 (the published setting), whitespace stripped, β = 2. The
    // kernel is the same clipped-overlap FULL join as ROUGE/BLEU, just
    // over CHAR grams: every shuffle keyed by (doc, gram), nothing
    // pairwise across documents. Dropping the first WORD perturbs
    // every char offset, so the metric is exercised away from the
    // identity fast-path on every row.
    "chrf_doc" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.chrF(cand, ref, "doc_id", "text", "text",
          maxN = 6, beta = 2.0)
        .orderBy("doc")
    }),

    // text.EvalMetrics.qaEval: SQuAD-style exact match + token F1 of
    // each document against its first-word-dropped twin under the
    // cleanText normalization — one doc-keyed join + the native
    // unigram overlap expression (row-local, stateless). Dropping a
    // word makes every em = 0 while f1 stays high — both columns
    // exercised away from their fixed points.
    "qa_eval" -> ((s, dir) => {
      val cand = T.documents(s, dir)
      val ref = cand.select(col("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      graft.text.EvalMetrics.qaEval(cand, ref, "doc_id", "text", "text")
        .orderBy("doc")
    })
  )

  /** The chrF oracle is the clipped-overlap kernel of rouge_doc
    * replayed over CHAR grams for orders 1..6 — generated by a loop
    * because the six per-order CTEs are mechanically identical
    * (exactly as the Scala fold that builds the Spark plan is). */
  private def chrfOracle(maxN: Int): String = {
    val gramCtes = (1 to maxN).flatMap { n =>
      Seq(
        s"""cg$n AS (SELECT doc, substr(s, i.i, $n) AS gram, COUNT(*) AS c
           |        FROM cd, (SELECT unnest(range(1, 2000)) AS i) i
           |        WHERE i.i <= len(s) - ${n - 1} GROUP BY 1, 2)""".stripMargin,
        s"""rg$n AS (SELECT doc, substr(s, i.i, $n) AS gram, COUNT(*) AS c
           |        FROM rd, (SELECT unnest(range(1, 2000)) AS i) i
           |        WHERE i.i <= len(s) - ${n - 1} GROUP BY 1, 2)""".stripMargin,
        s"""o$n AS (SELECT doc,
           |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
           |         SUM(COALESCE(c.c, 0)) AS ct,
           |         SUM(COALESCE(r.c, 0)) AS rt
           |       FROM cg$n c FULL JOIN rg$n r USING (doc, gram)
           |       GROUP BY doc)""".stripMargin)
    }
    // integer micro-units: (2·m·10⁶ + d) // (2·d) is HALF_UP of the
    // exact rational at 6 dp — pure integer arithmetic, so the mean
    // over orders (same trick, denominator maxN) is bit-identical in
    // any engine; only the final F crossing divides doubles
    val pExprs = (1 to maxN).map { n =>
      s"""COALESCE(CASE WHEN o$n.ct > 0
         |    THEN (2 * o$n.m * 1000000 + o$n.ct) // (2 * o$n.ct)
         |    ELSE 0 END, 0)""".stripMargin
    }
    val rExprs = (1 to maxN).map { n =>
      s"""COALESCE(CASE WHEN o$n.rt > 0
         |    THEN (2 * o$n.m * 1000000 + o$n.rt) // (2 * o$n.rt)
         |    ELSE 0 END, 0)""".stripMargin
    }
    val joins = (1 to maxN)
      .map(n => s"LEFT JOIN o$n ON o$n.doc = d.doc_id").mkString("\n")
    s"""WITH cd AS (
       |  SELECT doc_id AS doc,
       |    regexp_replace(lower(text), '\\s+', '', 'g') AS s
       |  FROM documents),
       |rd AS (
       |  SELECT doc_id AS doc,
       |    regexp_replace(lower(regexp_replace(text, '^\\S+\\s+', '')),
       |      '\\s+', '', 'g') AS s
       |  FROM documents),
       |${gramCtes.mkString(",\n")}
       |SELECT doc, chrf_p, chrf_r,
       |  CASE WHEN 4.0 * chrf_p + chrf_r > 0.0
       |    THEN ROUND(5.0 * chrf_p * chrf_r / (4.0 * chrf_p + chrf_r), 6)
       |    ELSE 0.0 END AS chrf
       |FROM (
       |  SELECT d.doc_id AS doc,
       |    CAST((2 * (${pExprs.mkString(" +\n    ")}) + $maxN)
       |      // ${2 * maxN} AS DOUBLE) / 1000000.0 AS chrf_p,
       |    CAST((2 * (${rExprs.mkString(" +\n    ")}) + $maxN)
       |      // ${2 * maxN} AS DOUBLE) / 1000000.0 AS chrf_r
       |  FROM documents d
       |$joins)
       |ORDER BY doc""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "chrf_doc" -> chrfOracle(6),

    // cleanText = lower -> strip non-alphanumerics -> squeeze spaces
    // -> trim, spelled identically; the unigram clipped overlap is
    // the rouge_doc kernel at order 1 over the NORMALIZED tokens.
    "qa_eval" ->
      """WITH cn AS (
        |  SELECT doc_id AS doc,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS s
        |  FROM documents),
        |rn AS (
        |  SELECT doc_id AS doc,
        |    trim(regexp_replace(regexp_replace(
        |      lower(regexp_replace(text, '^\S+\s+', '')),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS s
        |  FROM documents),
        |ct AS (SELECT doc,
        |         CASE WHEN len(trim(s)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE string_split_regex(trim(s), '\s+') END AS t
        |       FROM cn),
        |rt AS (SELECT doc,
        |         CASE WHEN len(trim(s)) = 0 THEN CAST([] AS VARCHAR[])
        |              ELSE string_split_regex(trim(s), '\s+') END AS t
        |       FROM rn),
        |cg AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |       FROM ct, (SELECT unnest(range(1, 2000)) AS i) i
        |       WHERE i.i <= len(t) GROUP BY 1, 2),
        |rg AS (SELECT doc, t[i.i] AS gram, COUNT(*) AS c
        |       FROM rt, (SELECT unnest(range(1, 2000)) AS i) i
        |       WHERE i.i <= len(t) GROUP BY 1, 2),
        |ov AS (SELECT doc,
        |         SUM(LEAST(COALESCE(c.c, 0), COALESCE(r.c, 0))) AS m,
        |         SUM(COALESCE(c.c, 0)) AS ctl,
        |         SUM(COALESCE(r.c, 0)) AS rtl
        |       FROM cg c FULL JOIN rg r USING (doc, gram) GROUP BY doc),
        |pr AS (
        |  SELECT cn.doc,
        |    CASE WHEN rn.s IS NOT NULL AND cn.s = rn.s THEN 1 ELSE 0 END
        |      AS em,
        |    COALESCE(CASE WHEN ov.ctl > 0
        |      THEN ROUND(CAST(ov.m AS DOUBLE) / CAST(ov.ctl AS DOUBLE), 6)
        |      ELSE 0.0 END, 0.0) AS p,
        |    COALESCE(CASE WHEN ov.rtl > 0
        |      THEN ROUND(CAST(ov.m AS DOUBLE) / CAST(ov.rtl AS DOUBLE), 6)
        |      ELSE 0.0 END, 0.0) AS r
        |  FROM cn LEFT JOIN rn ON rn.doc = cn.doc
        |  LEFT JOIN ov ON ov.doc = cn.doc)
        |SELECT doc, em,
        |  CASE WHEN p + r > 0.0
        |    THEN ROUND(2.0 * p * r / (p + r), 6)
        |    ELSE 0.0 END AS f1
        |FROM pr ORDER BY doc""".stripMargin
  )
}
