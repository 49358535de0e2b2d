package graft

import org.apache.spark.sql.DataFrame
import graft.ml.Similarity
import graft.text.Dedup

/** Every pair-generating dedup/LSH operator must join keyed on its
  * band/bucket column. A self-join that loses the band equi-key still
  * returns CORRECT rows (the verify filter re-checks similarity), so
  * the oracle can never catch the degeneration — only the physical
  * plan can: assert a hash/merge join on the per-leg band attribute
  * and the absence of cartesian anywhere. */
class BandJoinPlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon eta"),
    (3L, "one two three four five six seven"),
    (4L, "one two three four five six eight"),
    (5L, "totally different content here now")).toDF("doc_id", "text")

  private def assertBandKeyed(df: DataFrame, key: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val keyed = plan.split('\n').exists(l =>
      l.matches(s".*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*$key.*"))
    assert(keyed, s"no $key-keyed join in plan:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"), "cartesian in pair plan")
  }

  test("minhash band join is keyed on the band column (both hash families)") {
    assertBandKeyed(Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 8, bands = 4, threshold = 0.5), "_band_a")
    assertBandKeyed(Dedup.minhashPairsPortable(docs, "doc_id", "text",
      numHashes = 8, bands = 4, threshold = 0.5), "_band_a")
  }

  test("minhash signature builders plan no window and no exchange (both hash families)") {
    for (sigs <- Seq(
        Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3),
        Dedup.minhashSignaturesPortable(docs, "doc_id", "text", 8, 3))) {
      val plan = sigs.queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && !plan.contains("Exchange"),
        s"signature plan shuffles:\n${plan.take(1200)}")
    }
  }

  test("simhash band join is keyed on the band column (both hash families)") {
    assertBandKeyed(Dedup.simhashPairs(docs, "doc_id", "text"), "_band_a")
    assertBandKeyed(Dedup.simhashPairsPortable(docs, "doc_id", "text"), "_band_a")
  }

  test("lsh cosine bucket join is keyed on the bucket column") {
    val vecs = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(4)(d => math.sin(i * 4 + d).toFloat)))
      .toDF("id", "vec")
    assertBandKeyed(Similarity.lshCosineJoin(vecs, "id", "vec", dim = 4,
      nPlanes = 2, nTables = 2, threshold = 0.5), "_bucket_a")
  }
}
