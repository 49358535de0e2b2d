package graft

import graft.text.LangModel

/** Round-12 continuation: trigram Stupid Backoff scoring —
  * hand-computed scores per backoff branch (Brants et al. 2007). */
class Batch32Spec extends SparkSpec {
  import spark.implicits._

  test("scoreByStupidBackoff matches hand-computed scores per branch") {
    // ref "a b c a b d": uni a:2 b:2 c:1 d:1 (N=6, V=4);
    // bi (a,b):2 (b,c):1 (c,a):1 (b,d):1;
    // tri (a,b,c) (b,c,a) (c,a,b) (a,b,d) x1 each.
    // add-α floor denominator: N + 0.5·(V+1) = 8.5.
    val ref = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b c"), // tri seen: 1 / c(a,b)=2 -> 0.5
      (11L, "c a b"), // tri seen: 1 / c(c,a)=1 -> 1.0
      (12L, "x a b"), // tri unseen, bi (a,b) seen: 0.4 * 2/c(a)=2 -> 0.4
      (13L, "b c d"), // both unseen: 0.16 * (1+0.5)/8.5
      (14L, "b d x"), // both unseen, w3 OOV: 0.16 * (0+0.5)/8.5
      (15L, "a b")    // <3 tokens: neutral
    ).toDF("doc_id", "text")
    val out = LangModel.scoreByStupidBackoff(docs, ref, "doc_id", "text",
        lambda = 0.4, alpha = 0.5)
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    def r6(x: Double) = math.round(math.log(x) * 1e6) / 1e6
    assert(out(0) === ((10L, 1L, 0L, r6(0.5), math.round(math.exp(-r6(0.5)) * 1e6) / 1e6)))
    assert(out(1)._4 === r6(1.0) && out(1)._3 == 0L)
    assert(math.abs(out(2)._4 - r6(0.4)) < 1e-9 && out(2)._3 == 1L)
    assert(math.abs(out(3)._4 - r6(0.16 * 1.5 / 8.5)) < 1e-9 && out(3)._3 == 1L)
    assert(math.abs(out(4)._4 - r6(0.16 * 0.5 / 8.5)) < 1e-9 && out(4)._3 == 1L)
    assert(out(5) === ((15L, 0L, 0L, 0.0, 1.0)))
    // the backoff ladder preserves the ranking a filter relies on:
    // seen trigram > bigram backoff > unigram floor > OOV floor
    assert(out(0)._5 < out(2)._5 && out(2)._5 < out(3)._5 &&
      out(3)._5 < out(4)._5)
  }

  test("sb_ppl entry runs on testdata and scores held-in docs lower") {
    val out = SparkEntry.queries("sb_ppl")(spark, sf)
    val rows = out.collect()
    assert(rows.length > 0)
    // held-in docs (doc_id % 5 != 0) were in the training corpus, so
    // their trigrams are all seen -> zero OOV and lower mean ppl than
    // the held-out fifth
    val df = out.toDF()
    val heldIn = df.filter($"doc" % 5 =!= 0 && $"n_trigrams" > 0)
    val heldOut = df.filter($"doc" % 5 === 0 && $"n_trigrams" > 0)
    val inPpl = heldIn.agg(org.apache.spark.sql.functions.avg($"ppl"))
      .head().getDouble(0)
    val outPpl = heldOut.agg(org.apache.spark.sql.functions.avg($"ppl"))
      .head().getDouble(0)
    assert(inPpl < outPpl,
      s"held-in mean ppl $inPpl should beat held-out $outPpl")
    assert(heldIn.agg(org.apache.spark.sql.functions.sum($"n_oov"))
      .head().getLong(0) == 0L, "held-in docs must have zero OOV trigrams")
  }

  test("connectedComponentsStar matches min-label propagation on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 120
      val pairs = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
      val star = graft.text.Dedup.connectedComponentsStar(pairs)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val prop = graft.text.Dedup.connectedComponents(pairs, maxIter = 120)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(star.sameElements(prop),
        s"star ${star.take(10).mkString(",")} vs prop ${prop.take(10).mkString(",")}")
    }
  }

  test("connectedComponentsStar collapses a long chain in few rounds") {
    // a 400-node chain has diameter 400: min-label propagation at its
    // default maxIter=25 must throw (partially propagated labels would
    // be silently wrong), while the alternating star algorithm
    // converges in O(log^2 n) rounds well under its default 50.
    val chain = (0L until 399L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.text.Dedup.connectedComponentsStar(chain)
    assert(out.count() == 400)
    assert(out.agg(org.apache.spark.sql.functions.max($"comp"))
      .head().getLong(0) == 0L, "every chain node must label to the root 0")
    intercept[IllegalStateException] {
      graft.text.Dedup.connectedComponents(chain)
    }
  }

  test("scoreByKneserNey3 matches hand-computed order-3 KN per branch") {
    // ref "a b c a b d": trigram types (a,b,c) (b,c,a) (c,a,b) (a,b,d).
    // c12: (a,b) c12d=2 n1f12=2; (b,c) 1,1; (c,a) 1,1.
    // bgc: (b,c) (c,a) (a,b) (b,d) -> n1b23=1 each.
    // c2: b nmid=2 n1f2=2; c 1,1; a 1,1. unc: each of a,b,c,d -> 1.
    // tot: nbt=4, V3=4 -> P1 denom = 4 + 0.5*5 = 6.5.
    val ref = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val p1Seen = 1.5 / 6.5
    val p1Unseen = 0.5 / 6.5
    val docs = Seq(
      (10L, "a b c"), // tri seen: .125/… full interpolation chain
      (11L, "x a b"), // ctx12 unseen -> P2(b|a) = .25 + .75*p1Seen
      (12L, "z z q"), // everything unseen -> P1(q) = 0.5/6.5
      (13L, "a b")    // <3 tokens: neutral
    ).toDF("doc_id", "text")
    val out = graft.text.LangModel.scoreByKneserNey3(docs, ref,
        "doc_id", "text", discount = 0.75, alpha = 0.5)
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    def r6(x: Double) = math.round(math.log(x) * 1e6) / 1e6
    val p2bc = 0.25 / 2 + 0.75 * 2 / 2 * p1Seen
    val p3abc = 0.25 / 2 + 0.75 * 2 / 2 * p2bc
    assert(math.abs(out(0)._4 - r6(p3abc)) < 1e-9 && out(0)._3 == 0L)
    val p2ab = 0.25 / 1 + 0.75 * 1 / 1 * p1Seen
    assert(math.abs(out(1)._4 - r6(p2ab)) < 1e-9 && out(1)._3 == 1L)
    assert(math.abs(out(2)._4 - r6(p1Unseen)) < 1e-9 && out(2)._3 == 1L)
    assert(out(3) == ((13L, 0L, 0L, 0.0, 1.0)))
    // the interpolation ladder preserves the filter's ranking
    assert(out(0)._5 < out(2)._5 && out(1)._5 < out(2)._5)
  }

  test("bucketed budget selection matches the one-window rule exactly") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    // ties on score across bucket candidates, multi-source, boundary
    // docs crossing the line — the places the two forms could diverge
    val rows = (0 until 400).map { i =>
      (i.toLong, if (i % 3 == 0) "a" else "b",
        (rnd.nextInt(20) / 2).toDouble, // heavy score ties
        (rnd.nextInt(50) + 1).toLong)
    }
    val df = rows.toDF("id", "src", "score", "tok")
    val plain = graft.text.Quality.selectByTokenBudget(
        df, "id", "src", "score", "tok", 1000L)
      .select("id").as[Long].collect().sorted
    val bucketed = graft.text.Quality.selectByTokenBudgetBucketed(
        df, "id", "src", "score", "tok", 1000L,
        bucketExpr = -col("score"))
      .select("id").as[Long].collect().sorted
    assert(plain.sameElements(bucketed),
      s"plain ${plain.length} vs bucketed ${bucketed.length}")
    // coarser buckets (several scores per bucket) must also agree
    val coarse = graft.text.Quality.selectByTokenBudgetBucketed(
        df, "id", "src", "score", "tok", 1000L,
        bucketExpr = -floor(col("score") / 3))
      .select("id").as[Long].collect().sorted
    assert(plain.sameElements(coarse))
    // a null bucket must fail loudly, not silently drop the row
    intercept[Exception] {
      graft.text.Quality.selectByTokenBudgetBucketed(
        df.withColumn("score",
          when(col("id") === 7L, lit(null).cast("double"))
            .otherwise(col("score"))),
        "id", "src", "score", "tok", 1000L,
        bucketExpr = -col("score")).collect()
    }
  }

  test("unicode_norm matches java.text.Normalizer across forms") {
    import org.apache.spark.sql.functions._
    graft.functions.NativeFunctions.register(spark)
    val samples = Seq(
      "café",        // decomposed e + combining acute
      "café",              // composed
      "ﬁne ﬂow",           // ligatures (NFKC folds, NFC keeps)
      "Ⅻ ½ ①",             // compatibility chars
      "plain ascii", "")
    val df = nonLocal(samples.zipWithIndex.map { case (s, i) => (i.toLong, s) })
      .toDF("id", "s")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val out = df.select($"id",
          call_function("unicode_norm", $"s", lit(form)).as("n"))
        .orderBy("id").as[(Long, String)].collect()
      out.foreach { case (i, n) =>
        val expect = java.text.Normalizer.normalize(samples(i.toInt),
          java.text.Normalizer.Form.valueOf(form))
        assert(n == expect, s"form=$form sample=$i")
      }
    }
    // nulls propagate; non-literal form is rejected at registration
    val nulls = nonLocal(Seq((1L, null.asInstanceOf[String]))).toDF("id", "s")
      .select(call_function("unicode_norm", $"s", lit("NFC"))).head()
    assert(nulls.isNullAt(0))
    intercept[Exception] {
      df.select(call_function("unicode_norm", $"s", $"s")).collect()
    }
  }

  test("NFC normalization repairs hash-based dedup across encodings") {
    import org.apache.spark.sql.functions._
    graft.functions.NativeFunctions.register(spark)
    // the same text, composed vs decomposed: raw md5 sees two
    // documents, normalized md5 sees one — the reason the expression
    // exists
    val df = Seq((1L, "café menu"), (2L, "café menu"))
      .toDF("doc_id", "text")
    assert(df.select(md5(col("text").cast("binary"))).distinct().count() == 2)
    assert(df.select(md5(call_function("unicode_norm", col("text"),
      lit("NFC")).cast("binary"))).distinct().count() == 1)
  }

  test("approx_count_distinct honors the HLL++ error bound vs exact counts") {
    val exact = SparkEntry.queries("unique_stats")(spark, sf)
      .head()
    val approx = SparkEntry.queries("unique_stats_approx")(
      spark, sf).head()
    // default rsd 0.05; allow 3 standard errors plus slack for tiny
    // cardinalities (HLL is exact in the sparse regime anyway)
    (0 until 3).foreach { i =>
      val e = exact.getLong(i).toDouble
      val a = approx.getLong(i).toDouble
      assert(math.abs(a - e) <= math.max(2.0, 0.15 * e),
        s"col $i: approx $a vs exact $e")
    }
    assert(exact.getLong(3) == approx.getLong(3), "n_rows must be exact")
  }

  test("corpusBleu and rougeN match hand-computed clipped overlaps") {
    import org.apache.spark.sql.functions._
    val cand = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val ref = Seq((1L, "a b c d f")).toDF("doc_id", "text")
    val r = graft.text.EvalMetrics.corpusBleu(cand, ref, "doc_id",
      "text", "text").head()
    // p1 4/5, p2 3/4, p3 2/3 (round-6), p4 1/2; equal lengths -> bp 1
    val p = Seq(0.8, 0.75, 0.666667, 0.5)
    val expect = math.round(math.exp(p.map(math.log).sum / 4.0) * 1e6) / 1e6
    assert(math.abs(r.getDouble(0) - expect) < 1e-9, s"bleu $r")
    assert(r.getDouble(1) == 1.0 && r.getLong(6) == 5L && r.getLong(7) == 5L)
    // clipping: "the the the" vs "the" -> p1 = 1/3; rouge_1 recall = 1/1
    val c2 = Seq((1L, "the the the")).toDF("doc_id", "text")
    val r2 = Seq((1L, "the")).toDF("doc_id", "text")
    val b2 = graft.text.EvalMetrics.corpusBleu(c2, r2, "doc_id",
      "text", "text", maxN = 1).head()
    assert(math.abs(b2.getDouble(2) - 0.333333) < 1e-9, s"clipped p1 $b2")
    val rg = graft.text.EvalMetrics.rougeN(c2, r2, "doc_id", "text", "text",
      maxN = 2).head()
    assert(rg.getDouble(1) == 1.0, s"rouge_1 $rg")
    assert(rg.getDouble(2) == 0.0, "no reference bigrams -> rouge_2 = 0")
    // a zero higher-order precision floors corpus BLEU to 0
    val b3 = graft.text.EvalMetrics.corpusBleu(
      Seq((1L, "x y")).toDF("doc_id", "text"),
      Seq((1L, "y x")).toDF("doc_id", "text"),
      "doc_id", "text", "text", maxN = 2).head()
    assert(b3.getDouble(0) == 0.0 && b3.getDouble(2) == 1.0 &&
      b3.getDouble(3) == 0.0)
  }

  test("lcs_len matches a reference DP on random token arrays") {
    import org.apache.spark.sql.functions._
    graft.functions.NativeFunctions.register(spark)
    def goldLcs(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d")
    val cases = (0 until 40).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(4))),
        Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(4))))
    } :+ ((99L, Seq.empty[String], Seq("a", "b")))
    val df = nonLocal(cases).toDF("id", "a", "b")
    val out = df.select($"id",
        call_function("lcs_len", $"a", $"b").as("lcs"))
      .orderBy("id").collect()
    out.zip(cases.sortBy(_._1)).foreach { case (r, (_, a, b)) =>
      assert(r.getInt(1) == goldLcs(a, b), s"id ${r.getLong(0)}: $a vs $b")
    }
    // null ELEMENTS are rejected loudly, null ARRAYS propagate
    intercept[Exception] {
      nonLocal(Seq((1L, Seq("a", null), Seq("a")))).toDF("id", "a", "b")
        .select(call_function("lcs_len", $"a", $"b")).collect()
    }
    val nullRow = df.limit(1)
      .select(call_function("lcs_len", lit(null).cast("array<string>"), $"a"))
      .head()
    assert(nullRow.isNullAt(0))
  }

  test("degenerate reference corpora fail loudly, never score neutral") {
    val short = Seq((1L, "a b")).toDF("doc_id", "text") // no trigrams
    val empty = Seq((1L, "  ")).toDF("doc_id", "text")  // no tokens
    val docs = Seq((9L, "a b c")).toDF("doc_id", "text")
    // KN3 needs trigram statistics: a bigram-only corpus must refuse
    intercept[IllegalArgumentException] {
      graft.text.LangModel.scoreByKneserNey3(docs, short, "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      graft.text.LangModel.fitKneserNey3(short, "text")
    }
    intercept[IllegalArgumentException] {
      graft.text.LangModel.scoreByStupidBackoff(docs, empty, "doc_id", "text")
    }
    // SB degrades gracefully on a trigram-free (but token-bearing)
    // corpus: every trigram backs off to the bigram/unigram floors
    val out = graft.text.LangModel.scoreByStupidBackoff(
        docs, short, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(out.head._2 == 1L && out.head._3 == 1L && out.head._5 > 1.0)
  }

  test("round-12 additions ride the fluent surface") {
    import graft.core.GfFrame._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val sb = docs.graft.scoreByStupidBackoff(docs, "doc_id", "text").result
    val kn3 = docs.graft.scoreByKneserNey3(docs, "doc_id", "text").result
    assert(sb.count() == 3 && kn3.count() == 3)
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    assert(pairs.graft.dedupClustersStar().result.count() == 2)
    val scored = docs.withColumn("src", lit("w"))
      .withColumn("score", col("doc_id").cast("double"))
      .withColumn("tok", lit(2L))
    val sel = scored.graft.selectByTokenBudgetBucketed(
      "doc_id", "src", "score", "tok", 4L, -col("score")).result
    assert(sel.count() == 2)
  }

  test("connectedComponentsStar handles singletons, self-pairs and string ids") {
    val pairs = Seq(("7", "7"), ("3", "9"), ("9", "4")).toDF("id_a", "id_b")
    val out = graft.text.Dedup.connectedComponentsStar(pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((3L, 3L), (4L, 3L), (7L, 7L), (9L, 3L)))
    intercept[Exception] {
      Seq(("a", "b")).toDF("id_a", "id_b")
        .transform(graft.text.Dedup.connectedComponentsStar(_))
        .collect()
    }
  }
}
