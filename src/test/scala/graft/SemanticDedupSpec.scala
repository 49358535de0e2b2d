package graft

import org.apache.spark.sql.functions._
import graft.ml.Similarity

/** SemDeDup-style embedding dedup: greedy upper-triangle semantics,
  * exact-screen correctness on the planted corpus, and the bucketed
  * variant's drop recall against the exact screen. */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private def vec(deg: Double): Seq[Float] = {
    val r = math.toRadians(deg)
    Seq(math.cos(r).toFloat, math.sin(r).toFloat)
  }

  test("greedy policy: a vector can be dropped for resembling an " +
      "already-dropped one") {
    // cos(0°,18°) ≈ 0.951 and cos(18°,36°) ≈ 0.951 are above the 0.9
    // threshold; cos(0°,36°) ≈ 0.809 is below. The paper's greedy
    // upper-triangle screen drops BOTH 2 and 3: id 2 for resembling 1,
    // id 3 for resembling 2 — even though 2 itself was dropped.
    val df = Seq((1L, vec(0)), (2L, vec(18)), (3L, vec(36)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedupExact(df, "vec_id", "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("exact screen on the planted corpus keeps exactly the base ids") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planted = graft.entries.MlEntries.withPlantedDups(emb)
    val kept = Similarity
      .semanticDedupExact(planted, "vec_id", "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    val baseIds = emb.select("vec_id").as[Long].collect().toSet
    assert(kept == baseIds,
      s"planted duplicates (+100000 ids) must all drop; kept ${kept.size}")
  }

  test("dropSeenVectors filters a stream against the indexed corpus") {
    implicit val sqlCtx = spark.sqlContext
    // corpus on 30°-spaced unit vectors; threshold 0.99 keeps only
    // near-exact re-arrivals as dups (cos(15°) ≈ 0.966 stays novel).
    // nlist = 2 (KMeans floor) splits the circle into two arcs whose
    // boundary falls midway between corpus points, so a 0.2°
    // re-arrival always co-buckets with its original (bucket recall
    // at tighter nlist is the previous test's subject).
    val corpus = (0 until 12).map(i => (i.toLong, vec(i * 30.0)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding", nlist = 2)
    try {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val q = idx.dropSeenVectors(
          in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", 0.99)
        .writeStream.format("memory").queryName("dsv")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      // 100 ≈ re-arrival of corpus 60° (dup); 101 sits 15° off every
      // corpus vector (novel); 102 is an exact re-arrival (dup)
      in.addData((100L, vec(60.2)), (101L, vec(75.0)), (102L, vec(330.0)))
      q.processAllAvailable()
      val kept = spark.table("dsv").select("vec_id").as[Long].collect().toSet
      q.stop()
      assert(kept == Set(101L), s"stream survivors $kept")
      // the plan is stateless, so the same call runs in batch mode
      val batchKept = idx.dropSeenVectors(
          Seq((100L, vec(60.2)), (101L, vec(75.0)), (102L, vec(330.0)))
            .toDF("vec_id", "embedding"), "vec_id", "embedding", 0.99)
        .select("vec_id").as[Long].collect().toSet
      assert(batchKept == kept)
    } finally idx.unpersist()
  }

  test("bucketed screen reaches >= 0.9 drop recall vs the exact screen") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planted = graft.entries.MlEntries.withPlantedDups(emb)
    val allIds = planted.select("vec_id").as[Long].collect().toSet
    val exactKept = Similarity
      .semanticDedupExact(planted, "vec_id", "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    val exactDropped = allIds -- exactKept
    val idx = Similarity.ivfIndex(planted, "vec_id", "embedding", nlist = 16)
    try {
      val ivfKept = idx.semanticDedup(0.9)
        .select("vec_id").as[Long].collect().toSet
      val ivfDropped = allIds -- ivfKept
      // bucketed can only MISS pairs (drop set shrinks), never invent
      assert(ivfDropped.subsetOf(exactDropped))
      val recall = ivfDropped.size.toDouble / exactDropped.size.max(1)
      assert(recall >= 0.9, s"drop recall $recall below 0.9 " +
        s"(${ivfDropped.size}/${exactDropped.size})")
    } finally idx.unpersist()
  }

  test("clone collapse leaves the bucketed drop set identical, " +
      "including exact clone sets and threshold 1.0") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planted = graft.entries.MlEntries.withPlantedDups(emb)
    // plant EXACT clone sets on top of the near-dups: ids +200000/+300000
    // re-use the base vector byte-for-byte (the dominant real dup mode)
    val clones = Seq(200000L, 300000L).map { off =>
      planted.filter(col("vec_id") < 50)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"))
    }.reduce(_ unionByName _)
    val corpus = planted.select("vec_id", "embedding").unionByName(clones)
    Seq(0.9, 1.0).foreach { t =>
      val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
        nlist = 16)
      try {
        val collapsed = idx.semanticDedup(t)
          .select("vec_id").as[Long].collect().toSet
        val plain = idx.semanticDedup(t, collapseClones = false)
          .select("vec_id").as[Long].collect().toSet
        assert(collapsed == plain, s"threshold $t drop sets diverge")
        if (t == 0.9) {
          // every clone of a surviving base must be gone
          assert(Seq(200000L, 300000L).forall(off =>
            collapsed.intersect((0L until 50L).map(_ + off).toSet).isEmpty))
        }
      } finally idx.unpersist()
    }
  }

  test("semanticDedup output schema is the input schema, even withPQ") {
    // the survivors contract is "input rows unchanged" — no index
    // bookkeeping column (_ivf_bucket/_vec_i8/_pq64) may leak
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 4)
      .withPQ(m = 8, k = 16)
    try assert(idx.semanticDedup(0.9).columns.toSeq ==
      emb.columns.toSeq)
    finally idx.unpersist()
  }
}
