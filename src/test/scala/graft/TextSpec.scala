package graft

import org.apache.spark.sql.functions._
import graft.ml.Similarity
import graft.text.{Dedup, Keywords, Quality, TextFns}

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("cleanText strips punctuation and squeezes whitespace") {
    val out = Seq("  Hello,   WORLD!! 42 ").toDF("t")
      .select(TextFns.cleanText(col("t"))).as[String].head
    assert(out == "hello world 42")
  }

  test("tokens of blank input is empty, not ['']") {
    val out = Seq("", "   ", "a b").toDF("t")
      .select(TextFns.tokenCount(col("t"))).as[Int].collect().toSeq
    assert(out == Seq(0, 0, 2))
  }

  test("shingles produces overlapping k-word grams") {
    val out = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(col("t"), 3)).as[Seq[String]].head
    assert(out == Seq("a b c", "b c d"))
  }

  test("langId identifies real-language sentences") {
    val df = Seq(
      (1, "the cat and the dog is in the house"),
      (2, "der hund und die katze ist das tier"),
      (3, "el perro y la casa es de los gatos"),
      (4, "le chien et la maison est des chats les")).toDF("id", "text")
    val out = Quality.langId(df, "text").select("id", "lang_pred")
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "en", 2 -> "de", 3 -> "es", 4 -> "fr"))
  }

  test("minhashPairs finds planted near-duplicates, not unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq(
      (1L, base),
      (2L, base.replace("alpha ", "")),              // near-dup of 1
      (3L, "one two three four five six seven eight nine ten eleven " +
           "twelve thirteen fourteen fifteen sixteen")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", 32, 8, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("portable md5 variants match the xxhash family's dedup semantics") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq(
      (1L, base),
      (2L, base.replace("alpha ", "")),              // near-dup of 1
      (3L, "one two three four five six seven eight nine ten eleven " +
           "twelve thirteen fourteen fifteen sixteen")).toDF("doc_id", "text")
    val mh = Dedup.minhashPairsPortable(df, "doc_id", "text", 32, 8, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)) && !mh.exists(p => p._1 == 3L || p._2 == 3L))
    val sh = Dedup.simhashPairsPortable(df, "doc_id", "text", maxHamming = 15)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh.contains((1L, 2L)))
    // sketches are 60-bit: no bit above 59 is ever set
    val sk = Dedup.simhashesPortable(df, "doc_id", "text")
      .select("_sh").as[Long].collect()
    assert(sk.forall(s => (s >>> 60) == 0L))
  }

  test("simhash is stable and near for perturbed text, far for unrelated") {
    val df = Seq(
      (1L, "spark engine shuffle partition broadcast join aggregate window"),
      (2L, "spark engine shuffle partition broadcast join aggregate windows"),
      (3L, "completely different words about cooking pasta tomatoes basil")
    ).toDF("doc_id", "text")
    val hs = Dedup.simhashes(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) < ham(hs(1L), hs(3L)))
  }

  test("simhashes and simhashesPortable equal a driver-side majority golden") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .toSeq ++ Seq((90001L, ""), (90002L, "solo"), (90003L, "x x x y"),
        (90004L, "\tleading tab, then words"))
    val toks = rows.toDF("doc_id", "text")
      .select(col("doc_id"), TextFns.tokens(col("text")))
      .as[(Long, Seq[String])].collect().toMap
    def xxh(t: String): Long = {
      val b = t.getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    def md5_60(t: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map(x => f"${x & 0xff}%02x").mkString.take(15), 16)
    // bit i is set when more than half of the doc's tokens set it
    def majority(hs: Seq[Long], bits: Int): Long = (0 until bits).map { i =>
      val set = hs.count(h => ((h >>> i) & 1L) == 1L)
      if (2 * set > hs.size) 1L << i else 0L
    }.sum
    val df = nonLocal(rows).toDF("doc_id", "text")
    for ((sketch, hash, bits) <- Seq(
        (Dedup.simhashes _, xxh _, 64), (Dedup.simhashesPortable _, md5_60 _, 60))) {
      val want = toks.filter(_._2.nonEmpty)
        .map { case (id, ts) => id -> majority(ts.map(hash), bits) }
      val got = bothModes(sketch(df, "doc_id", "text")
        .as[(Long, Long)].collect().toMap)
      assert(got === want)
      assert(got.values.toSet.size > rows.size / 2)
    }
  }

  test("cosineTopK returns the query vector itself first") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(df, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0), 2).select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L))
  }

  test("lshCosineJoin finds high-cosine planted pair") {
    val v = (0 until 64).map(i => math.sin(i * 0.7).toFloat).toArray
    val vNear = v.zipWithIndex.map { case (x, i) => x + (if (i == 0) 0.01f else 0f) }
    val rows = Seq((0L, v), (1L, vNear)) ++ (2L until 30L).map { s =>
      (s, (0 until 64).map(i => math.cos(i * 0.31 * s + s).toFloat).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.lshCosineJoin(df, "vec_id", "embedding", 64,
      nPlanes = 6, nTables = 4, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("meanWordEmbedding averages in-vocabulary token vectors") {
    import graft.text.Embeddings
    val docs = Seq((1L, "cat dog"), (2L, "cat unknown"), (3L, "zzz")).toDF("doc_id", "text")
    val vocab = Seq(
      ("cat", Array(1.0f, 0.0f)),
      ("dog", Array(0.0f, 2.0f))).toDF("token", "vec")
    val out = Embeddings.meanWordEmbedding(docs, "doc_id", "text", vocab)
      .orderBy("doc")
      .as[(Long, Seq[Double], Long)].collect()
    assert(out.length == 2) // doc 3 fully OOV -> absent
    assert(out(0) == ((1L, Seq(0.5, 1.0), 2L)))
    assert(out(1) == ((2L, Seq(1.0, 0.0), 1L)))
  }

  test("tfidfTopK ranks a document-unique token first") {
    val df = Seq(
      (1L, "common common unique1 common"),
      (2L, "common common common other"),
      (3L, "common other other zed")).toDF("doc_id", "text")
    val top1 = Keywords.tfidfTopK(df, "doc_id", "text", 1)
      .filter(col("doc") === 1).select("token").as[String].head
    assert(top1 == "unique1")
  }

  test("extractiveSummary picks the most distinctive sentence") {
    // "aa bb" tokens recur in every sentence (idf 0); the rare-token
    // sentence wins.
    val df = Seq(
      (1L, "aa bb aa bb. rare tokens here. aa bb again")).toDF("doc_id", "text")
    val r = Keywords.extractiveSummary(df, "doc_id", "text").head
    assert(r.getAs[String]("summary") == "rare tokens here")
    assert(r.getAs[Int]("sidx") == 1)
  }

  test("extractiveSummary ties break to the first sentence") {
    val df = Seq((1L, "one two. one two")).toDF("doc_id", "text")
    val r = Keywords.extractiveSummary(df, "doc_id", "text").head
    assert(r.getAs[Int]("sidx") == 0)
  }
}
