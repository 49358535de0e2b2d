package graft

import org.apache.spark.sql.functions._
import graft.functions.{NativeFunctions, VectorExpressions}
import graft.ml.Similarity

class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  test("dot_f32/cosine_f32 match the interpreted HOF formulation bit-for-bit") {
    NativeFunctions.register(spark)
    val df = nonLocal(Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, -0.5f, 0.0f), Array(0.5f, 0.5f, 1.0f)))).toDF("id", "a", "b")
    val out = df.select(
      call_function("dot_f32", col("a"), col("b")).as("dn"),
      Similarity.dot(col("a"), col("b")).as("dh"),
      call_function("cosine_f32", col("a"), col("b")).as("cn"),
      Similarity.cosine(col("a"), col("b")).as("ch")).collect()
    out.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // identical double sums
      assert(r.getDouble(2) == r.getDouble(3))
    }
    assert(out(0).getDouble(0) == 32.0)
  }

  test("quantize_i8 codes: exact bytes, scale invariance, zero vector") {
    NativeFunctions.register(spark)
    val df = nonLocal(Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(4.0f, -2.0f, 1.0f, 0.0f)), // same direction, 4x scale
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)))).toDF("id", "v")
    val codes = Similarity.quantizeI8(df, "v").orderBy("id")
      .select("vec_i8").as[Array[Byte]].collect()
    // hand math: max=1.0 → floor(x*127+0.5): 127, floor(-63.5+0.5)=-63, 32, 0
    assert(codes(0).toSeq == Seq[Byte](127, -63, 32, 0))
    // cosine is scale-invariant and the codes literally coincide here
    assert(codes(1).toSeq == codes(0).toSeq)
    assert(codes(2).toSeq == Seq[Byte](0, 0, 0, 0))
    // driver-side query quantizer agrees with the expression
    assert(Similarity.quantizeQuery(Seq(1.0, -0.5, 0.25, 0.0)).toSeq ==
      codes(0).toSeq)
  }

  test("cosine_i8 approximates cosine_f32 and ranks real embeddings") {
    NativeFunctions.register(spark)
    val emb = graft.core.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1)
      .map(_.toDouble)
    val coded = Similarity.quantizeI8(emb, "embedding").persist()
    try {
      // per-vector quantized-vs-float cosine error stays small
      val errs = coded.select(
          call_function("cosine_i8", col("vec_i8"),
            lit(Similarity.quantizeQuery(q))).as("ci"),
          call_function("cosine_f32", col("embedding"),
            array(q.map(v => lit(v.toFloat)): _*)).as("cf"))
        .select(abs(col("ci") - col("cf")).as("err"))
        .agg(max("err")).head.getDouble(0)
      assert(errs < 0.02, s"max |cos_i8 - cos_f32| = $errs")
      // the self-match still ranks first and recall@10 vs f32 is high
      val i8Top = Similarity.cosineI8TopK(coded, "vec_i8", "vec_id", q, 10)
        .collect().map(_.getLong(0))
      val f32Top = Similarity.cosineTopK(emb, "embedding", "vec_id", q, 10)
        .collect().map(_.getLong(0)).toSet
      assert(i8Top.head == 0L)
      assert(i8Top.count(f32Top) >= 8,
        s"recall@10 ${i8Top.count(f32Top)}/10 vs f32")
    } finally coded.unpersist()
  }

  test("quantized IVF probe: i8 candidate scan, recall vs full probe") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1)
      .map(_.toDouble)
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nlist = 8, withI8 = true)
    try {
      // full probe (nprobe = nlist) is exact under any clustering, so
      // it is the ground truth; the i8 scan of the same buckets must
      // keep the self-match first and high overlap
      val exact = idx.search(q, 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSet
      val i8 = idx.searchI8(q, 10, nprobe = 8)
        .collect().map(_.getLong(0))
      assert(i8.head == 0L)
      assert(i8.count(exact) >= 8, s"i8 full-probe recall ${i8.count(exact)}/10")
      // batched quantized probe agrees with the per-query one
      val batch = idx.searchManyI8(Seq(7L -> q), 10, nprobe = 8)
        .orderBy(desc("cos"), asc("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(batch.map(_._1).forall(_ == 7L))
      assert(batch.map(_._2).toSeq == i8.toSeq)
    } finally idx.unpersist()
    // an index built without codes refuses the quantized probe loudly
    val plain = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 4)
    try {
      val err = intercept[IllegalArgumentException] { plain.searchI8(q, 5) }
      assert(err.getMessage.contains("withI8"))
    } finally plain.unpersist()
  }

  test("null input yields null, not a crash") {
    NativeFunctions.register(spark)
    val df = nonLocal(Seq((Some(Array(1.0f)), None: Option[Array[Float]])))
      .toDF("a", "b")
    val r = df.select(call_function("dot_f32", col("a"), col("b"))).head
    assert(r.isNullAt(0))
  }

  test("expressions survive whole-stage codegen on real embeddings") {
    NativeFunctions.register(spark)
    val emb = graft.core.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1).toArray
    val out = emb.select(col("vec_id"),
      call_function("cosine_f32", col("embedding"),
        array(q.map(lit(_)): _*)).as("cos"))
    // vec 0 against itself is exactly the max
    val top = out.orderBy(col("cos").desc).head
    assert(top.getLong(0) == 0L)
    assert(math.abs(top.getDouble(1) - 1.0) < 1e-6)
  }

  test("IVF index recall vs brute force on real embeddings") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 7).head.getSeq[Float](1)
      .map(_.toDouble).toSeq
    val exact = Similarity.cosineTopK(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 8)
    val approx = idx.search(q, 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    idx.unpersist()
    val recall = (exact intersect approx).size / 10.0
    assert(recall >= 0.5, s"recall $recall too low")
    assert(approx.contains(7L)) // the query vector's own bucket is probed
  }

  test("SQL surface works after registration") {
    NativeFunctions.register(spark)
    val r = spark.sql(
      "SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head
    assert(r.getDouble(0) == 11.0)
  }

  test("DESCRIBE FUNCTION gives every native function its usage") {
    // a fresh session: no earlier register() call on the shared test
    // session can satisfy it, only the GraftSession extension that
    // installs the vector, text and MinHash tables
    val fresh = spark.newSession()
    val names = Seq("dot_f32", "cosine_f32", "quantize_i8", "cosine_i8",
      "lcs_len", "unicode_norm", "ngram_overlap_all",
      "chargram_overlap_all", "dup_ngram_chars", "top_ngram_stats",
      "dup_token_counts", "summarize_doc", "winnow_fps", "multi_contains",
      "md5_60", "minhash_sig")
    for (name <- names) {
      val usage = fresh.sql(s"DESCRIBE FUNCTION $name")
        .collect().map(_.getString(0)).find(_.startsWith("Usage:"))
      assert(usage.exists(u => u.contains(s"$name(") && !u.contains("N/A")),
        s"$name: $usage")
    }
    assert(NativeFunctions.functions.map(_._1.funcName) === names)
    assert(VectorExpressions.functions.map(_._1.funcName) === names.take(4))
  }
}
