package graft

import scala.reflect.runtime.universe.TypeTag
import graft.text.{EvalMetrics, TextFns}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lower, regexp_replace}

/** Round-12 continuation: chrF — hand-computed char-n-gram F-scores
  * (Popović 2015) and the whitespace/empty/short-doc conventions — and
  * driver-side goldens for the row-local eval, Gopher repetition and
  * summary kernels, run in codegen and interpreted mode. */
class Batch33Spec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double): Double = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r9(x: Double): Double = BigDecimal(x)
    .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Occurrence counts of the word n-grams of `toks`, each gram its n
    * tokens joined by one space. */
  private def wordGrams(toks: Seq[String], n: Int): Map[String, Int] =
    toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      .groupBy(identity).map { case (g, v) => g -> v.size }

  /** chrF (P, R, F2) of two whitespace-stripped lowered strings in the
    * operator's integer micro-unit arithmetic. */
  private def chrfGolden(c: String, r: String,
                         maxN: Int): (Double, Double, Double) = {
    def grams(s: String, n: Int) =
      (0 to s.length - n).map(i => s.substring(i, i + n))
        .groupBy(identity).map { case (k, v) => k -> v.size }
    // the same exact integer micro-unit arithmetic as the operator
    def micro(m: Long, d: Long): Long =
      if (d > 0) (2L * m * 1000000L + d) / (2L * d) else 0L
    val pr = (1 to maxN).map { n =>
      val cg = grams(c, n)
      val rg = grams(r, n)
      val m = cg.map { case (g, cc) => math.min(cc, rg.getOrElse(g, 0)) }
        .sum.toLong
      val ct = cg.values.sum.toLong; val rt = rg.values.sum.toLong
      (micro(m, ct), micro(m, rt))
    }
    val p = ((2L * pr.map(_._1).sum + maxN) / (2L * maxN)).toDouble / 1e6
    val rr = ((2L * pr.map(_._2).sum + maxN) / (2L * maxN)).toDouble / 1e6
    val f = if (4.0 * p + rr > 0) r6(5.0 * p * rr / (4.0 * p + rr)) else 0.0
    (p, rr, f)
  }

  /** The sf0.001 documents plus edge documents, as driver rows. */
  private lazy val corpusRows: Seq[(Long, String)] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .toSeq ++ Seq(
        (90001L, ""), (90002L, "   "), (90003L, "solo"),
        (90004L, "a a a a a"), (90005L, "The Cat the cat THE CAT sat"),
        (90006L, "\tleading tab then words"), (90007L, "x y. z!  w? v"))

  /** `rows` with their first word dropped — the eval entries' twin. */
  private def twins(rows: Seq[(Long, String)]): Seq[(Long, String)] =
    rows.map { case (i, t) => (i, t.replaceFirst("^\\S+\\s+", "")) }

  /** `f(text)` per document id, evaluated by Spark. */
  private def perDoc[T: TypeTag](rows: Seq[(Long, String)],
                                 f: Column => Column): Map[Long, T] =
    rows.toDF("id", "text").select(col("id"), f(col("text")))
      .as[(Long, T)].collect().toMap

  private def chrf(cand: Seq[(Long, String)], ref: Seq[(Long, String)],
                   maxN: Int, beta: Double = 2.0) =
    EvalMetrics.chrF(cand.toDF("id", "text"), ref.toDF("id", "text"),
        "id", "text", "text", maxN, beta)
      .orderBy("doc").as[(Long, Double, Double, Double)].collect()

  test("chrF is 1.0 on identical strings and whitespace-insensitive") {
    val out = chrf(Seq((1L, "a b c"), (2L, "spark")),
      Seq((1L, "abc"), (2L, "spark")), maxN = 3)
    assert(out(0) === ((1L, 1.0, 1.0, 1.0))) // "abc" == stripped "a b c"
    assert(out(1) === ((2L, 1.0, 1.0, 1.0)))
  }

  test("chrF matches the hand-computed clipped overlap") {
    // cand "abcd" vs ref "abce", maxN = 2:
    //  1-grams: {a,b,c,d} vs {a,b,c,e} -> m=3, ct=rt=4 -> p1=r1=0.75
    //  2-grams: {ab,bc,cd} vs {ab,bc,ce} -> m=2, ct=rt=3
    //    -> p2=r2=round(2/3)=0.666667
    //  P = R = round((0.75+0.666667)/2, 6) = 0.708334 (HALF_UP)
    //  F2 = 5PR/(4P+R) = P when P == R
    val out = chrf(Seq((1L, "abcd")), Seq((1L, "abce")), maxN = 2)
    assert(out(0) === ((1L, 0.708334, 0.708334, 0.708334)))
  }

  test("chrF asymmetry: precision and recall split when lengths differ") {
    // cand "aa" vs ref "aaaa", maxN = 1: cand 1-grams {a:2}, ref {a:4}
    //  m = min(2,4) = 2, ct = 2, rt = 4 -> p1 = 1.0, r1 = 0.5
    //  F2 = 5*1*0.5 / (4*1 + 0.5) = 2.5/4.5 = 0.555556
    val out = chrf(Seq((1L, "aa")), Seq((1L, "aaaa")), maxN = 1)
    assert(out(0)._2 === 1.0 && out(0)._3 === 0.5)
    assert(out(0)._4 === math.rint(2.5 / 4.5 * 1e6) / 1e6 ||
      out(0)._4 === 0.555556)
  }

  test("chrF conventions: empty/missing reference, orders beyond length") {
    val out = chrf(
      Seq((1L, "abc"), (2L, "abc"), (3L, "ab")),
      Seq((1L, ""), (3L, "ab")), // doc 2 has NO reference row
      maxN = 3)
    // empty and missing references score 0 everywhere
    assert(out(0) === ((1L, 0.0, 0.0, 0.0)))
    assert(out(1) === ((2L, 0.0, 0.0, 0.0)))
    // doc 3: orders 1..2 perfect, order 3 has no grams on either side
    // and contributes 0 to both means -> P = R = round(2/3) of 1.0
    assert(out(2)._2 === 0.666667 && out(2)._3 === 0.666667)
    assert(out(2)._4 === 0.666667) // F == P when P == R
  }

  test("chrF agrees with a driver-side golden on random strings") {
    val rng = new scala.util.Random(7)
    def golden(c: String, r: String, maxN: Int): (Double, Double, Double) =
      chrfGolden(c.toLowerCase.replaceAll("\\s+", ""),
        r.toLowerCase.replaceAll("\\s+", ""), maxN)
    val docs = (0L until 40L).map { i =>
      val alpha = "abcab "
      (i, (0 until 3 + rng.nextInt(20)).map(_ =>
        alpha(rng.nextInt(alpha.length))).mkString)
    }
    val refs = docs.map { case (i, s) => (i, s.drop(rng.nextInt(3))) }
    val out = chrf(docs, refs, maxN = 6)
    val gold = docs.sortBy(_._1).zip(refs.sortBy(_._1)).map {
      case ((_, c), (_, r)) => golden(c, r, 6)
    }
    out.zip(gold).foreach { case ((id, p, r, f), (gp, gr, gf)) =>
      assert(math.abs(p - gp) < 2e-6 && math.abs(r - gr) < 2e-6 &&
        math.abs(f - gf) < 2e-6, s"doc $id: ($p,$r,$f) vs ($gp,$gr,$gf)")
    }
  }

  test("evalSuite equals rougeN + corpusBleu run separately") {
    val cand = Seq((1L, "the cat sat on the mat"), (2L, "a b c d e"),
      (3L, "x y"), (4L, "")).toDF("doc_id", "text")
    val ref = Seq((1L, "the cat sat on a mat"), (2L, "a b c d e f"),
      (3L, "y x"), (4L, "z")).toDF("doc_id", "text")
    val (rouge, bleu) = graft.text.EvalMetrics.evalSuite(cand, ref,
      "doc_id", "text", "text", bleuMaxN = 4, rougeMaxN = 2)
    val rougeSep = graft.text.EvalMetrics.rougeN(cand, ref, "doc_id",
      "text", "text", maxN = 2)
    val bleuSep = graft.text.EvalMetrics.corpusBleu(cand, ref, "doc_id",
      "text", "text", maxN = 4)
    assert(rouge.orderBy("doc").collect().toSeq ===
      rougeSep.orderBy("doc").collect().toSeq)
    assert(bleu.collect().toSeq === bleuSep.collect().toSeq)
    // non-degenerate: the shared table really served both faces
    assert(bleu.head().getDouble(0) > 0.0)
    assert(rouge.filter(col("rouge_1") > 0).count() >= 3)
  }

  test("rougeN, corpusBleu and chrF equal driver-side goldens on real data") {
    val refRows = twins(corpusRows)
    val cand = nonLocal(corpusRows).toDF("doc_id", "text")
    val ref = nonLocal(refRows).toDF("doc_id", "text")
    val lowered = (c: Column) => TextFns.tokens(lower(c))
    val cToks = perDoc[Seq[String]](corpusRows, lowered)
    val rToks = perDoc[Seq[String]](refRows, lowered)
    // (matched, cand total, ref total) of order n for one document
    def triple(id: Long, n: Int): (Long, Long, Long) = {
      val cg = wordGrams(cToks(id), n); val rg = wordGrams(rToks(id), n)
      (cg.map { case (g, c) => math.min(c, rg.getOrElse(g, 0)) }.sum.toLong,
        cg.values.sum.toLong, rg.values.sum.toLong)
    }
    val ids = corpusRows.map(_._1).sorted
    val rougeGold = ids.map { id =>
      Seq[Any](id) ++ (1 to 2).map { n =>
        val (m, _, rt) = triple(id, n)
        if (rt > 0) r6(m.toDouble / rt.toDouble) else 0.0
      }
    }
    val rouge = bothModes(graft.text.EvalMetrics.rougeN(cand, ref,
      "doc_id", "text", "text", maxN = 2).orderBy("doc").collect().toSeq
      .map(_.toSeq))
    assert(rouge === rougeGold)

    val candLen = ids.map(cToks(_).size.toLong).sum
    val refLen = ids.map(rToks(_).size.toLong).sum
    val ps = (1 to 4).map { n =>
      val (m, t) = ids.map(triple(_, n)).foldLeft((0L, 0L)) {
        case ((am, at), (m, t, _)) => (am + m, at + t)
      }
      if (t > 0) r6(m.toDouble / t.toDouble) else 0.0
    }
    val bp =
      if (candLen >= refLen && candLen > 0) 1.0
      else if (candLen > 0)
        r6(StrictMath.exp(1.0 - refLen.toDouble / candLen.toDouble))
      else 0.0
    val bleuGold =
      if (ps.contains(0.0)) 0.0
      else r6(bp * StrictMath.exp(ps.map(StrictMath.log).reduce(_ + _) / 4.0))
    val bleu = bothModes(graft.text.EvalMetrics.corpusBleu(cand, ref,
      "doc_id", "text", "text", maxN = 4).collect().toSeq.map(_.toSeq))
    assert(bleu === Seq(Seq[Any](bleuGold, bp) ++ ps ++ Seq(candLen, refLen)))
    assert(bleuGold > 0.0)

    val stripped = (c: Column) => regexp_replace(lower(c), "\\s+", "")
    val cStr = perDoc[String](corpusRows, stripped)
    val rStr = perDoc[String](refRows, stripped)
    val chrfGold = ids.map { id =>
      val (p, r, f) = chrfGolden(cStr(id), rStr(id), 4)
      (id, p, r, f)
    }
    val chrf = bothModes(graft.text.EvalMetrics.chrF(cand, ref, "doc_id",
      "text", "text", maxN = 4).orderBy("doc")
      .as[(Long, Double, Double, Double)].collect().toSeq)
    assert(chrf === chrfGold)
  }

  /** Most frequent n-gram of `toks` by (count desc, gram UTF-8
    * binary asc); ("", 0) below n tokens. */
  private def topGram(toks: Seq[String], n: Int): (String, Long) = {
    val bin = Ordering.Iterable[Int].on[String](
      _.getBytes("UTF-8").toSeq.map(_ & 0xff))
    val grams = wordGrams(toks, n)
    if (grams.isEmpty) ("", 0L)
    else {
      val best = grams.toSeq.min(Ordering.Tuple2(Ordering.Int.reverse, bin)
        .on[(String, Int)](g => (g._2, g._1)))
      (best._1, best._2.toLong)
    }
  }

  private def cpLen(s: String): Long = s.codePointCount(0, s.length).toLong

  test("Gopher repetition signals equal driver-side goldens, edges included") {
    val edge = Seq(
      (1L, "a b c a b c a b"),  // dup 2-grams cover most positions
      (2L, "x y z w"),          // no repeated 2-gram
      (3L, "t t t t"),          // one gram repeated everywhere
      (4L, "solo"),             // fewer tokens than n
      (5L, "")                  // empty
    ) ++ (6L to 60L).map(i => (i, s"w$i q${i % 7} e${i % 3} q${i % 7} " +
      s"e${i % 3} q${i % 7} r${i % 11}"))
    val real = corpusRows
    val toksOf = (c: Column) => TextFns.tokens(c)
    def dupGold(rows: Seq[(Long, String)], n: Int) = {
      val toks = perDoc[Seq[String]](rows, toksOf)
      rows.map(_._1).sorted.map { id =>
        val t = toks(id)
        val starts = (0 to t.size - n).map(i => t.slice(i, i + n).mkString(" "))
        val counts = starts.groupBy(identity).map { case (g, v) => g -> v.size }
        val covered = starts.indices.filter(i => counts(starts(i)) >= 2)
          .flatMap(i => i until i + n).toSet
        val tot = t.map(cpLen).sum
        val dup = covered.toSeq.map(p => cpLen(t(p))).sum
        (id, tot, dup, if (tot > 0) r9(dup.toDouble / tot.toDouble) else 0.0)
      }
    }
    def topGold(rows: Seq[(Long, String)], n: Int) = {
      val toks = perDoc[Seq[String]](rows, toksOf)
      rows.map(_._1).sorted.map { id =>
        val (g, c) = topGram(toks(id), n)
        val tot = toks(id).map(cpLen).sum
        (id, g, c, if (c > 0 && tot > 0)
          r9(c.toDouble * (cpLen(g) - (n - 1)).toDouble / tot.toDouble) else 0.0)
      }
    }
    def repGold(rows: Seq[(Long, String)]) = {
      val toks = perDoc[Seq[String]](rows, toksOf)
      val text = rows.toMap
      rows.map(_._1).sorted.map { id =>
        val t = toks(id)
        val dup = t.groupBy(identity).values.map(_.size).filter(_ > 1).sum
        val (g, c) = topGram(t, 2)
        (id, if (t.nonEmpty) r9(dup.toDouble / t.size.toDouble) else 0.0,
          g, c, if (c > 0)
            r9(c.toDouble * cpLen(g).toDouble / cpLen(text(id)).toDouble) else 0.0)
      }
    }
    import graft.text.Quality
    for (rows <- Seq(edge, real)) {
      val df = nonLocal(rows).toDF("doc_id", "text")
      val dup = bothModes(Quality.dupNgramCharFrac(df, "doc_id", "text",
        n = 2, minOccur = 2).orderBy("doc_id")
        .as[(Long, Long, Long, Double)].collect().toSeq)
      assert(dup === dupGold(rows, 2))
      assert(dup.exists(_._3 > 0))
      for (n <- Seq(2, 3)) {
        val top = bothModes(Quality.topNgramCharFrac(df, "doc_id", "text",
          n = n).orderBy("doc_id").as[(Long, String, Long, Double)]
          .collect().toSeq)
        assert(top === topGold(rows, n))
      }
      val rep = bothModes(Quality.repetitionStats(df, "doc_id", "text")
        .orderBy("doc_id").as[(Long, Double, String, Long, Double)]
        .collect().toSeq)
      assert(rep === repGold(rows))
    }
  }

  test("extractiveSummary equals a driver-side TF-IDF golden, edges included") {
    val docs = (Seq(
      (1L, "spark is fast. spark is very fast! the cat sat? done"),
      (2L, "a b. a b. a b."),        // identical sentences, tie on score
      (3L, "x"),                      // one sentence, one short token
      (4L, ""),                       // empty -> no row
      (5L, "  .  !  "),               // only empty sentences -> no row
      (41L, "ab cd. ab cd. ab cd."),  // scorable tie -> first sentence
      (42L, "ab cd! cd ab? ab")       // sentences 0 and 1 tie on top
    ) ++ (6L to 40L).map(i =>
      (i, s"w$i row${i % 5} scan. merge w$i table! row${i % 5} scan " +
        s"row${i % 5}? the end of doc $i.")))
    val minLen = 2
    // sentences as Spark's split spells them; trim and lower as the
    // tokens column does (trim strips spaces only)
    def golden(id: Long, text: String): Option[(Long, Int, String, Double)] = {
      def trimSp(s: String) = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val sents = java.util.regex.Pattern.compile("[.!?]\\s+").split(text, -1)
        .toSeq.zipWithIndex.filter { case (s, _) => trimSp(s).nonEmpty }
      val toks = sents.map { case (s, i) =>
        i -> trimSp(s).toLowerCase.split("\\s+", -1).toSeq
          .filter(t => cpLen(t) >= minLen)
      }
      val ns = sents.size
      val sdf = toks.flatMap(_._2.distinct).groupBy(identity)
        .map { case (t, v) => t -> v.size }
      val scored = toks.filter(_._2.nonEmpty).map { case (i, ts) =>
        val tf = ts.groupBy(identity).map { case (t, v) => t -> v.size }
        val sum = tf.map { case (t, c) =>
          BigDecimal(c) * BigDecimal(StrictMath.log(ns.toDouble / sdf(t)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        (i, sum.toDouble / tf.size.toDouble)
      }
      if (scored.isEmpty) None
      else {
        val (i, score) = scored.minBy { case (i, sc) => (-sc, i) }
        Some((id, i, sents.find(_._2 == i).get._1, score))
      }
    }
    for (rows <- Seq(docs, corpusRows)) {
      val got = bothModes(graft.text.Keywords.extractiveSummary(
          nonLocal(rows).toDF("doc_id", "text"), "doc_id", "text",
          minTokenLen = minLen)
        .orderBy("doc").as[(Long, Int, String, Double)].collect().toSeq)
      val want = rows.sortBy(_._1).flatMap { case (id, t) => golden(id, t) }
      assert(got.nonEmpty && got === want)
    }
  }

  test("qaEval matches hand-computed EM and token F1") {
    val cand = Seq(
      (1L, "The CAT, sat!"),      // == ref after normalization -> em 1
      (2L, "a b c d"),            // half overlap with "c d e f"
      (3L, "x y"),                // no reference row
      (4L, ""),                   // both empty -> em 1, f1 0
      (5L, "q w")                 // empty ref, nonempty cand
    ).toDF("doc_id", "text")
    val ref = Seq((1L, "the cat sat"), (2L, "c d e f"), (4L, ""),
      (5L, "")).toDF("doc_id", "text")
    val out = graft.text.EvalMetrics.qaEval(cand, ref, "doc_id",
        "text", "text")
      .orderBy("doc").as[(Long, Int, Double)].collect()
    assert(out(0) === ((1L, 1, 1.0)))
    // doc 2: m=2, P=R=0.5 -> f1 = 2*.25/1 = 0.5
    assert(out(1) === ((2L, 0, 0.5)))
    assert(out(2) === ((3L, 0, 0.0))) // missing ref
    assert(out(3) === ((4L, 1, 0.0))) // both empty: EM by convention
    assert(out(4) === ((5L, 0, 0.0)))
  }

  test("eval metrics ride the fluent surface") {
    import graft.core.GfFrame._
    val cand = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val ref = Seq((1L, "a b c e"), (2L, "x y")).toDF("doc_id", "text")
    assert(cand.graft.rougeN(ref, "doc_id", "text", "text")
      .result.count() === 2)
    assert(cand.graft.rougeL(ref, "doc_id", "text", "text")
      .result.count() === 2)
    assert(cand.graft.corpusBleu(ref, "doc_id", "text", "text")
      .result.count() === 1)
    // maxN = 2: "xy" has no order-3+ grams, and the fixed-total
    // convention would dilute the identical doc below 1 at maxN = 6
    val f = cand.graft.chrF(ref, "doc_id", "text", "text", maxN = 2)
      .result.orderBy("doc").collect()
    assert(f(1).getDouble(3) === 1.0) // identical doc scores chrF 1
    // single-char tokens fall under minTokenLen — summarize real words
    val prose = Seq((1L, "spark is fast. joins shuffle data."),
      (2L, "one sentence only here")).toDF("doc_id", "text")
    assert(prose.graft.extractiveSummary("doc_id", "text")
      .result.count() === 2)
  }

  test("chrf_doc entry runs and scores the dropped-word twin below 1") {
    val out = SparkEntry.queries("chrf_doc")(spark, sf)
    val rows = out.as[(Long, Double, Double, Double)].collect()
    assert(rows.length === 500)
    // recall vs a strict-substring reference is 1-bounded but the
    // offset shift keeps precision < 1 on real multi-word docs
    assert(rows.forall(r => r._2 >= 0 && r._2 <= 1 && r._4 >= 0 && r._4 <= 1))
    assert(rows.count(_._4 > 0.5) > 400) // twin is mostly-identical text
    assert(rows.exists(_._4 < 1.0))
  }
}
