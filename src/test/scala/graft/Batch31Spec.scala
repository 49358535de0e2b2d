package graft

import org.apache.spark.sql.functions._
import graft.text.LangModel

/** Round-12 closing additions: interpolated Kneser–Ney bigram scoring
  * (hand-computed probabilities per branch, continuation-count
  * semantics) and the GK approximate-quantile rank-error bound. */
class Batch31Spec extends SparkSpec {
  import spark.implicits._

  test("scoreByKneserNey matches hand-computed interpolated KN per branch") {
    // ref bigrams: (a,b)x2, (b,a), (b,c) -> ctx a:(c1=2,n1f=1),
    // b:(c1=2,n1f=2); pred a/b/c: n1b=1 each; nbg=3 types, V2=3.
    // P_cont(seen) = 1.5/5 = 0.3, P_cont(unseen) = 0.5/5 = 0.1.
    val ref = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b"),  // max(2-.75,0)/2 + .75*1/2*.3 = 0.7375
      (11L, "b c"),  // max(1-.75,0)/2 + .75*2/2*.3 = 0.35
      (12L, "a c"),  // context-only: 0 + .75*1/2*.3 = 0.1125, oov
      (13L, "z q"),  // context unseen: P_cont(q) = 0.1, oov
      (14L, "solo")  // <2 tokens: neutral
    ).toDF("doc_id", "text")
    val out = LangModel.scoreByKneserNey(docs, ref, "doc_id", "text",
        discount = 0.75, alpha = 0.5)
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    assert(math.abs(out(0)._4 - math.round(math.log(0.7375) * 1e6) / 1e6) < 1e-9)
    assert(out(0)._3 == 0L)
    assert(math.abs(out(1)._4 - math.round(math.log(0.35) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(out(2)._4 - math.round(math.log(0.1125) * 1e6) / 1e6) < 1e-9)
    assert(out(2)._3 == 1L)
    assert(math.abs(out(3)._4 - math.round(math.log(0.1) * 1e6) / 1e6) < 1e-9)
    assert(out(3)._3 == 1L)
    assert(out(4) == ((14L, 0L, 0L, 0.0, 1.0)))
    // discounting preserves the ranking a filter relies on:
    // seen pair > context-only interpolation > blind backoff
    assert(out(0)._5 < out(2)._5 && out(2)._5 < out(3)._5)
  }

  test("KN continuation beats raw frequency for a one-context collocate") {
    // "san francisco" x4 makes "francisco" FREQUENT (raw unigram tail
    // would love it) but it completes only ONE context, so its
    // continuation count stays 1 — after an unseen context, KN must
    // prefer "the" (3 distinct contexts) over "francisco".
    val ref = Seq((1L, "san francisco san francisco san francisco " +
      "san francisco a the b the c the")).toDF("doc_id", "text")
    val docs = Seq((10L, "zz the"), (11L, "zz francisco"))
      .toDF("doc_id", "text")
    val out = LangModel.scoreByKneserNey(docs, ref, "doc_id", "text")
      .orderBy("doc").as[(Long, Long, Long, Double, Double)].collect()
    assert(out(0)._4 > out(1)._4,
      s"P_cont(the) should exceed P_cont(francisco): $out")
  }

  test("percentile_approx honors the GK rank-error bound vs exact ranks") {
    val vals = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_extendedprice").cast("double").as("x"))
      .as[Double].collect().sorted
    val n = vals.length
    val acc = 10000
    val row = SparkEntry.queries("quantiles_approx")(
      spark, sf).head()
    Seq(0.25 -> 0, 0.5 -> 1, 0.75 -> 2, 0.99 -> 3).foreach {
      case (q, i) =>
        val v = row.getDouble(i)
        val below = vals.count(_ < v)
        val atOrBelow = vals.count(_ <= v)
        val err = n.toDouble / acc + 1
        assert(below <= q * n + err && atOrBelow >= q * n - err,
          s"q=$q v=$v rank window [$below,$atOrBelow] outside ${q * n}±$err")
        // the sketch returns a real element, never an interpolation
        assert(vals.contains(v))
    }
  }
}
