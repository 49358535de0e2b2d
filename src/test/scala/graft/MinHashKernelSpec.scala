package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.Dedup

/** The native MinHash kernels (`md5_60`, `minhash_sig`) against the
  * Catalyst compositions they replaced, kept here only as the
  * reference: bit-equal signatures for both hash families over the
  * inputs the relational path treated specially, in codegen and
  * interpreted mode alike. */
class MinHashKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced md5 spelling: first 15 hex digits of md5, base 16. */
  private def convMd5(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The replaced signature plan: lead()-window shingles, one hash per
    * shingle, then one `min` per seed in a groupBy on the id. */
  private def referenceSigs(df: DataFrame, k: Int, numHashes: Int,
                            md5Family: Boolean): Map[Long, Seq[Long]] = {
    val h = if (md5Family) convMd5(col("_sh")) else xxhash64(col("_sh"))
    val mins = (0 until numHashes).map { seed =>
      min(if (md5Family)
        convMd5(concat(lit(s"${seed}_"), col("_h").cast("string")))
      else xxhash64(lit(seed), col("_h"))).as(s"_h$seed")
    }
    Dedup.shinglesExploded(df, "id", "text", k).withColumn("_h", h)
      .groupBy("_id").agg(mins.head, mins.tail: _*)
      .select(col("_id"), array((0 until numHashes).map(i => col(s"_h$i")): _*))
      .as[(Long, Seq[Long])].collect().toMap
  }

  private def nativeSigs(df: DataFrame, k: Int, numHashes: Int,
                         md5Family: Boolean): Map[Long, Seq[Long]] =
    (if (md5Family) Dedup.minhashSignaturesPortable(df, "id", "text", numHashes, k)
     else Dedup.minhashSignatures(df, "id", "text", numHashes, k))
      .as[(Long, Seq[Long])].collect().toMap

  private lazy val docs: DataFrame = nonLocal(Seq[(Long, String)](
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "a b"),                               // fewer than k = 3 / 5 tokens
    (4L, ""),                                  // blank
    (5L, "   "),                               // blank after trim
    (6L, null),                                // null text
    (7L, "x y x y x y x y x y x y"),           // repeated shingles
    (8L, "\tleading tab then words here"),    // split yields an empty token
    (9L, "\nleading newline and more words"),
    (10L, "café naïve 日本語 テキスト über straße ñandú"),
    (11L, "one"),
    (12L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
  )).toDF("id", "text")

  for (md5Family <- Seq(true, false); k <- Seq(1, 3, 5); n <- Seq(8, 32)) {
    val family = if (md5Family) "md5" else "xxhash"
    test(s"minhash_sig equals the shingle-window reference ($family, k=$k, numHashes=$n)") {
      val want = referenceSigs(docs, k, n, md5Family)
      val got = nativeSigs(docs, k, n, md5Family)
      assert(got == want)
      // a row below k tokens, blank or null text gets no signature row
      val unsigned = Seq(4L, 5L, 6L) ++ (if (k > 1) Seq(11L) else Nil) ++
        (if (k > 2) Seq(3L) else Nil)
      assert(unsigned.forall(id => !got.contains(id)), got.keySet)
      assert(got.values.forall(_.size == n))
      assert(interpreted(nativeSigs(docs, k, n, md5Family)) == got)
    }
  }

  test("md5_60 equals the conv chain on random strings, the empty string and null") {
    val rnd = new scala.util.Random(7)
    val strs = Seq("", " ", "a", "Ω≈ç√", "\u0000x") ++
      Seq.fill(200)(rnd.nextString(rnd.nextInt(40)))
    val df = nonLocal(strs.map(Option(_)) :+ None).toDF("s")
    def pairs: Seq[(Option[Long], Option[Long])] =
      df.select(Dedup.md5Hash64(col("s")), convMd5(col("s")))
        .as[(Option[Long], Option[Long])].collect().toSeq
    val codegen = pairs
    assert(codegen.size == strs.size + 1)
    codegen.foreach { case (got, want) => assert(got == want) }
    assert(codegen.last == ((None, None)))
    assert(codegen.forall(_._1.forall(v => v >= 0 && v < (1L << 60))))
    assert(interpreted(pairs) == codegen)
  }

  test("md5_60 and minhash_sig are SQL functions that reject bad arguments") {
    graft.functions.NativeFunctions.register(spark)
    val row = spark.sql(
      "SELECT md5_60('abc'), md5_60(CAST('abc' AS BINARY)), " +
        "minhash_sig(split('a b c d', ' '), 3, 4, 'md5'), " +
        "minhash_sig(split('a b', ' '), 3, 4, 'xxhash')").head()
    val want = Seq("abc").toDF("s").select(convMd5(col("s"))).as[Long].head
    assert(row.getLong(0) == want && row.getLong(1) == want)
    assert(row.getSeq[Long](2).size == 4)
    assert(row.isNullAt(3))
    val bad = intercept[Exception](spark.sql(
      "SELECT minhash_sig(split('a b', ' '), 3, 4, 'sha1')").collect())
    assert(bad.getMessage.contains("family"))
    val nullToken = intercept[Exception](spark.sql(
      "SELECT minhash_sig(array('a', CAST(NULL AS STRING), 'b'), 1, 4, 'md5')")
      .collect())
    assert(nullToken.getMessage.contains("null token"))
  }
}
