package graft

import graft.text.{Blocklist, CorpusStats, Retrieval, Winnow}
import org.apache.spark.sql.functions._

/** Round-12: winnowing fingerprints (local-guarantee property),
  * the C4 blocklist stage (token-exact + phrase-bounded matching),
  * positional phrase search (overlap + repeated-token offsets), and
  * cross-corpus divergence (information-theory invariants). */
class Batch34Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- winnow

  test("winnowing: short docs yield no fingerprints, guarantee-length docs do") {
    val df = Seq((1L, "abcdefg"), (2L, "abcdefgh"), (3L, ""))
      .toDF("id", "text")
    // k=5, w=4: guarantee threshold k+w-1 = 8 normalized chars
    val fps = Winnow.fingerprints(df, "id", "text", k = 5, w = 4)
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(!fps.contains(1L)) // 7 chars -> 3 grams < w windows -> none
    assert(fps(2L) >= 1L)     // 8 chars -> 4 grams -> exactly 1 window
    assert(!fps.contains(3L))
  }

  test("winnowing guarantee: docs sharing a >= k+w-1 substring share a fingerprint") {
    // The paper's theorem: any match of length >= w+k-1 spans at least
    // one full window on both sides, whose min-hash both select.
    val shared = "zqxjvkwpbyfmg" // 13 chars >= 5+4-1, rare letters
    val rnd = new scala.util.Random(7)
    def noise(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString
    val docs = (0 until 20).map { i =>
      (i.toLong, noise(30) + shared + noise(30))
    }.toDF("id", "text")
    val fps = Winnow.fingerprints(docs, "id", "text", k = 5, w = 4)
    // every pair of the 20 docs must share >= 1 fingerprint
    val n = fps.as("a").join(fps.as("b"), Seq("fp"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count()
    assert(n === 20L * 19 / 2)
  }

  test("winnowing pairs: first-word-dropped twins pair despite the offset shift") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"))
      .toDF("id", "text")
    val twins = base.withColumn("id", col("id") + 100)
      .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
    val pairs = Winnow.pairs(base.unionByName(twins), "id", "text",
        k = 8, w = 4, minShared = 3, maxDf = 10)
      .as[(Long, Long, Long)].collect()
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 101L)))
    assert(pairSet.contains((2L, 102L)))
    // unrelated docs (disjoint vocab) never pair
    assert(!pairSet.contains((1L, 2L)) && !pairSet.contains((1L, 102L)))
  }

  test("winnowing portable and xxhash64 families select the same pair structure here") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated words nothing shared here at all today"))
      .toDF("id", "text")
    def pairsOf(portable: Boolean) =
      Winnow.pairs(docs, "id", "text", k = 8, w = 4, minShared = 3,
          portableHash = portable)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // hash family changes VALUES, not which grams exist; on disjoint-
    // vs-near-dup structure the detected pairs coincide
    assert(pairsOf(true) === Set((1L, 2L)))
    assert(pairsOf(false) === Set((1L, 2L)))
  }

  test("winnowing crossPairs screens a corpus against a fixed reference set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "totally different words with no overlap at all whatsoever"))
      .toDF("id", "text")
    val ref = Seq( // near-dup of doc 1 only, first word dropped
      (100L, "beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("id", "text")
    val out = Winnow.crossPairs(corpus, ref, "id", "text",
        k = 8, w = 4, minShared = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 100L)))
  }

  test("winnowing fingerprints equal a driver-side window-min golden (both hash families)") {
    val rnd = new scala.util.Random(11)
    val random = (0 until 40).map { i =>
      val words = Seq.fill(3 + rnd.nextInt(25))(
        Seq.fill(1 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString)
      (i.toLong, words.mkString(" "))
    } ++ Seq((99L, ""), (98L, "ab"), (97L, "!!! ... ???"),
      (96L, "abcdefgh"), (95L, "AbC-dEf, GhI"))
    val real = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val (k, w) = (5, 4)
    def xxh(g: String): Long = {
      val b = g.getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    def md5_60(g: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
        .map(x => f"${x & 0xff}%02x").mkString.take(15), 16)
    for (rows <- Seq(random, real); portable <- Seq(false, true)) {
      // the normalized char stream, as the operator cleans it
      val streams = rows.toDF("id", "text").select(col("id"),
          regexp_replace(graft.text.TextFns.cleanText(col("text")), " ", ""))
        .as[(Long, String)].collect().toMap
      val hash: String => Long = if (portable) md5_60 else xxh
      val want = streams.toSeq.flatMap { case (id, s) =>
        val hs = (0 to s.length - k).map(i => hash(s.substring(i, i + k)))
        (0 to hs.size - w).map(j => hs.slice(j, j + w).min).distinct
          .map(id -> _)
      }.toSet
      val got = bothModes(Winnow.fingerprints(nonLocal(rows).toDF("id", "text"),
          "id", "text", k = k, w = w, portableHash = portable)
        .as[(Long, Long)].collect().toSeq.sorted)
      assert(got.size === got.toSet.size, "an (id, fp) row repeats")
      assert(got.toSet === want)
      assert(want.nonEmpty)
    }
  }

  test("winnow_fps registers as a SQL function") {
    graft.functions.NativeFunctions.register(spark)
    val out = spark.sql(
      "SELECT winnow_fps('abcdefghij', 5, 4) AS f").as[Seq[Long]].head()
    assert(out.nonEmpty) // 10 chars -> 6 grams -> 3 complete windows
  }

  // ------------------------------------------------------------- blocklist

  private val blockDocs = Seq(
    (1L, "Spark Is Fast!"),          // term 'spark' under normalization
    (2L, "the hashtag economy"),     // 'hashtag' must NOT hit term 'hash'
    (3L, "a dup; a DUP."),           // punctuation-normalized term hit
    (4L, "bad batch batch ending"),  // phrase hit mid-text
    (5L, "batch batch"),             // phrase hit spanning whole text
    (6L, "clean text only"))
    .toDF("doc_id", "text")

  test("blocklist hits: token-exact terms, space-bounded phrases, literal order") {
    val h = Blocklist.hits(blockDocs, "doc_id", "text",
        terms = Seq("spark", "dup", "hash"),
        phrases = Seq("batch batch"))
      .orderBy("doc_id")
      .as[(Long, Seq[String], Seq[String], Boolean)].collect()
    assert(h(0) === ((1L, Seq("spark"), Seq(), true)))
    assert(h(1) === ((2L, Seq(), Seq(), false))) // no substring false positive
    assert(h(2) === ((3L, Seq("dup"), Seq(), true)))
    assert(h(3) === ((4L, Seq(), Seq("batch batch"), true)))
    assert(h(4) === ((5L, Seq(), Seq("batch batch"), true)))
    assert(h(5) === ((6L, Seq(), Seq(), false)))
  }

  test("blocklist filterClean drops exactly the blocked docs; report counts df") {
    val kept = Blocklist.filterClean(blockDocs, "text",
        terms = Seq("spark", "dup", "hash"), phrases = Seq("batch batch"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 6L))
    val rep = Blocklist.report(blockDocs, "doc_id", "text",
        terms = Seq("spark", "dup", "hash"), phrases = Seq("batch batch"))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(rep === Map(("spark", "term") -> 1L, ("dup", "term") -> 1L,
      ("batch batch", "phrase") -> 2L))
  }

  test("blocklist normalizes patterns and rejects an empty effective list") {
    val h = Blocklist.hits(blockDocs, "doc_id", "text",
        terms = Seq("  SPARK!  "), phrases = Nil)
      .filter(col("blocked")).select("doc_id").as[Long].collect()
    assert(h.toSeq === Seq(1L))
    intercept[IllegalArgumentException] {
      Blocklist.hits(blockDocs, "doc_id", "text", Seq("  ", "!!"), Nil)
    }
  }

  test("multi_contains finds overlapping and suffix patterns via fail links") {
    graft.functions.NativeFunctions.register(spark)
    val out = spark.sql(
      "SELECT multi_contains('xabcy', array('ab', 'abc', 'bc', 'zz')) AS m")
      .as[Seq[Int]].head()
    assert(out === Seq(0, 1, 2)) // all but 'zz', ascending ids
    val none = spark.sql(
      "SELECT multi_contains('qqq', array('ab', 'bc')) AS m")
      .as[Seq[Int]].head()
    assert(none === Seq())
  }

  test("blocklist AC engine is identical to the literal engine") {
    val rnd = new scala.util.Random(21)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    // 80 terms + 20 phrases: above the auto threshold
    val terms = (0 until 80).map(i => s"w$i")
    val phrases = (0 until 20).map(i => s"w$i w${i + 1}")
    def run(engine: String) =
      Blocklist.hits(docs, "doc_id", "text", terms, phrases, engine)
        .orderBy("doc_id")
        .as[(Long, Seq[String], Seq[String], Boolean)].collect().toSeq
    val literal = run("literal")
    val ac = run("ac")
    assert(ac === literal)
    assert(literal.exists(_._4) && literal.exists(r => r._3.nonEmpty))
    assert(run("auto") === literal) // auto picks ac above 64 patterns
  }

  test("blocklist AC engine handles a phrase-only and a term-only list") {
    val docs = Seq((1L, "please buy now today"), (2L, "clean text"))
      .toDF("doc_id", "text")
    val phraseOnly = Blocklist.hits(docs, "doc_id", "text", Nil,
        phrases = Seq("buy now"), engine = "ac")
      .orderBy("doc_id")
      .as[(Long, Seq[String], Seq[String], Boolean)].collect()
    assert(phraseOnly(0) === ((1L, Seq(), Seq("buy now"), true)))
    assert(phraseOnly(1)._4 === false)
    val termOnly = Blocklist.hits(docs, "doc_id", "text", Seq("clean"),
        Nil, engine = "ac")
      .orderBy("doc_id")
      .as[(Long, Seq[String], Seq[String], Boolean)].collect()
    assert(termOnly(1) === ((2L, Seq("clean"), Seq(), true)))
  }

  test("blocklist engines agree on NULL text: ([], [], false) on both paths") {
    // AC's concat would propagate NULL without the coalesce bind,
    // making engine choice (auto switches at 64 patterns) change the
    // output shape on null rows
    val docs = Seq((1L, null: String), (2L, "w3 here"))
      .toDF("doc_id", "text")
    def run(engine: String) =
      Blocklist.hits(docs, "doc_id", "text", Seq("w3"), Seq("w3 here"), engine)
        .orderBy("doc_id")
        .as[(Long, Seq[String], Seq[String], Boolean)].collect().toSeq
    val literal = run("literal")
    assert(literal.head === ((1L, Seq(), Seq(), false)))
    assert(run("ac") === literal)
    val kept = Blocklist.filterClean(docs, "text", Seq("w3"), Nil, "ac")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L)) // null text has no hits -> kept, both engines
    assert(Blocklist.filterClean(docs, "text", Seq("w3"), Nil, "literal")
      .select("doc_id").as[Long].collect().toSet === Set(1L))
  }

  test("blocklist filterClean AC engine matches the literal engine") {
    val terms = (0 until 70).map(i => s"w$i") // above the auto threshold
    val docs = Seq((1L, "w3 content"), (2L, "clean text"), (3L, "w69 here"))
      .toDF("doc_id", "text")
    def kept(engine: String) =
      Blocklist.filterClean(docs, "text", terms, Nil, engine)
        .select("doc_id").as[Long].collect().toSet
    assert(kept("literal") === Set(2L))
    assert(kept("ac") === Set(2L))
    assert(kept("auto") === Set(2L))
  }

  // ---------------------------------------------------------- phrase search

  test("phrase search counts overlapping and repeated-token occurrences") {
    val docs = Seq(
      (1L, "go stop go stop go"),     // "go stop go" occurs at 0 and 2
      (2L, "b b b b"),                // "b b b" at starts 0 and 1
      (3L, "stop go"),                // partial only
      (4L, "Go! Stop? Go."))          // normalization: one occurrence
      .toDF("doc_id", "text")
    val out = Retrieval.phraseSearch(docs, "doc_id", "text",
        Seq("go stop go", "b b b"))
      .orderBy("phrase", "doc")
      .as[(String, Long, Long)].collect()
    assert(out.toSeq === Seq(
      ("b b b", 2L, 2L),
      ("go stop go", 1L, 2L),
      ("go stop go", 4L, 1L)))
  }

  test("phrase search: single-token phrase degenerates to a postings count") {
    val docs = Seq((1L, "a b a"), (2L, "b")).toDF("doc_id", "text")
    val out = Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a"))
      .orderBy("doc").as[(String, Long, Long)].collect()
    assert(out.toSeq === Seq(("a", 1L, 2L)))
    intercept[IllegalArgumentException] {
      Retrieval.phraseSearch(docs, "doc_id", "text", Seq("  ", "!"))
    }
  }

  // ------------------------------------------------------------- divergence

  test("corpus divergence: zero on identical corpora, positive and symmetric-js otherwise") {
    val a = Seq((1L, "x y z x"), (2L, "y z w")).toDF("id", "text")
    val b = Seq((1L, "w w w q"), (2L, "q q x")).toDF("id", "text")
    val same = CorpusStats.corpusDivergence(a, a, "text", "text")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(same._4 === 0.0 && same._5 === 0.0 && same._6 === 0.0)
    val ab = CorpusStats.corpusDivergence(a, b, "text", "text")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    val ba = CorpusStats.corpusDivergence(b, a, "text", "text")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(ab._1 === 5L) // union vocab {x,y,z,w,q}
    assert(ab._2 === 7L && ab._3 === 7L)
    assert(ab._4 > 0 && ab._5 > 0)
    assert(ab._6 > 0 && ab._6 < math.log(2) + 1e-9) // JS bounded by ln 2
    assert(ab._6 === ba._6) // JS symmetric
    assert(ab._4 === ba._5 && ab._5 === ba._4) // KL swaps
  }

  test("corpus divergence hand-check on a one-token vocabulary difference") {
    // A = {x}, B = {y}: V = 2, Na = Nb = 1, alpha = 0.5
    // p = (1+.5)/(1+1) = .75 over x, (0+.5)/2 = .25 over y; q mirrored
    // KL(P||Q) = .75 ln 3 + .25 ln(1/3) = .5 ln 3 = 0.549306
    val a = Seq((1L, "x")).toDF("id", "text")
    val b = Seq((1L, "y")).toDF("id", "text")
    val d = CorpusStats.corpusDivergence(a, b, "text", "text")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(d._4 === math.rint(0.5 * math.log(3) * 1e6) / 1e6)
    assert(d._4 === d._5)
  }
}
