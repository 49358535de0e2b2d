package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.clean.Missing
import graft.rel.{Filters, Reshape}

/** Algebraic property tests (SURVEY §5 engine test plan): filter
  * composition, pivot∘unpivot round-trip, ffill idempotence.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling loop (no scalatest-scalacheck bridge in the
    * offline cache): evaluates the property on `n` seeded samples. */
  private def forSamples[A](gen: Gen[A], n: Int = 10)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private val rowsGen = Gen.listOfN(40,
    Gen.zip(Gen.choose(0, 5), Gen.choose(-100, 100)))

  test("filter(a) ∘ filter(b) == filter(a AND b)") {
    forSamples(Gen.zip(rowsGen, Gen.choose(-50, 50), Gen.choose(-50, 50))) {
      case (rows, t1, t2) =>
        val df = rows.toDF("g", "v")
        val chained = Filters.filterExpr(Filters.filterExpr(df, s"v > $t1"), s"v < $t2")
        val combined = Filters.filterExpr(df, s"v > $t1 AND v < $t2")
        assert(chained.exceptAll(combined).isEmpty &&
          combined.exceptAll(chained).isEmpty)
    }
  }

  test("int8 quantized cosine stays within the rounding error bound") {
    // per-element rounding error ≤ scale/254; the direction error of a
    // whole vector is ≤ 0.5·√n/127 of its norm (norm ≥ scale), so the
    // cosine of two quantized vectors can drift at most ~2·0.5·√n/127
    // ≈ 0.06 at n = 64 — assert a 0.08 bound over random vectors,
    // including adversarial shapes (one dominant element, tiny tails)
    graft.functions.NativeFunctions.register(spark)
    val vecGen = for {
      n <- Gen.choose(4, 64)
      a <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
      b <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
      spikeA <- Gen.choose(0, n - 1)
      spike <- Gen.oneOf(1.0, 1000.0) // sometimes one element dominates
    } yield (a.updated(spikeA, a(spikeA) * spike), b)
    forSamples(vecGen, n = 8) { case (a, b) =>
      if (a.exists(_ != 0.0) && b.exists(_ != 0.0)) {
        val df = nonLocal(Seq((a.map(_.toFloat).toArray, b.map(_.toFloat).toArray)))
          .toDF("a", "b")
        val r = df.select(
          call_function("cosine_i8",
            call_function("quantize_i8", col("a")),
            call_function("quantize_i8", col("b"))).as("ci"),
          call_function("cosine_f32", col("a"), col("b")).as("cf")).head
        val err = math.abs(r.getDouble(0) - r.getDouble(1))
        assert(err < 0.08, s"|cos_i8 - cos_f32| = $err for n=${a.size}")
      }
    }
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    val edgesGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)))
    forSamples(edgesGen, n = 5) { raw =>
      val edges = raw.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // reference: plain union-find with min-root normalization
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expect = parent.keys.map(k => k -> find(k)).toMap
        val got = graft.text.Dedup.connectedComponents(
            edges.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(got == expect, s"edges=$edges")
      }
    }
  }

  test("pivot then unpivot recovers the original aggregate") {
    forSamples(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.map { case (g, v) => (g, s"c${math.abs(v) % 3}", v.toLong) }
          .toDF("id", "cat", "v")
        val agg = df.groupBy("id", "cat").agg(sum("v").as("value"))
        val cats = Seq("c0", "c1", "c2")
        val wide = Reshape.toWide(df, Seq("id"), "cat", sum("v"), cats)
        val long = Reshape.toLong(wide, Seq("id"), cats, "cat", "value")
        assert(long.exceptAll(agg).isEmpty && agg.exceptAll(long).isEmpty)
      }
    }
  }

  test("ffill is idempotent") {
    forSamples(Gen.listOfN(30, Gen.zip(Gen.choose(0, 3), Gen.option(Gen.choose(-9.0, 9.0))))) {
      rows =>
        val df = rows.zipWithIndex.map { case ((g, v), i) => (g, i.toLong, v) }
          .toDF("g", "t", "v")
        val once = Missing.ffill(df, "v", Seq("g"), Seq(col("t")), "f")
          .select("g", "t", "f")
        val twice = Missing.ffill(once.withColumnRenamed("f", "v"), "v",
            Seq("g"), Seq(col("t")), "f")
          .select("g", "t", "f")
        assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
    }
  }

  test("clip is idempotent and bounded") {
    forSamples(Gen.listOfN(30, Gen.choose(-1000.0, 1000.0))) { vals =>
      if (vals.nonEmpty) {
        val df = vals.toDF("x")
        val once = graft.clean.Outliers.clip(df, "x", -100.0, 100.0)
        val twice = graft.clean.Outliers.clip(once, "x", -100.0, 100.0)
        assert(once.exceptAll(twice).isEmpty)
        val r = once.agg(min("x"), max("x")).head
        assert(r.getDouble(0) >= -100.0 && r.getDouble(1) <= 100.0)
      }
    }
  }

  test("exactPercentilesByGroup interpolates as DuckDB quantile_cont") {
    // DuckDB 1.0's quantile_cont, the oracle of every exact-quantile
    // query, interpolates lo·(1−d) + hi·d; lo + d·(hi − lo) differs in
    // the last ulp, which moves tied rows across a strict `v > edge`
    def reference(vs: Seq[Double], p: Double): Double = {
      val s = vs.sorted
      val pos = p * (s.size - 1)
      val (lo, hi, d) = (s(pos.floor.toInt), s(pos.ceil.toInt), pos - pos.floor)
      if (d == 0.0) lo else lo * (1 - d) + hi * d
    }
    val ps = Seq(0.1, 0.25, 0.3, 0.37, 0.5, 0.73, 0.9, 0.99)
    // cent-rounded values like the testdata's prices; a tied group
    // repeats its values three times, as replicated inputs do
    val groupGen = for {
      n <- Gen.choose(1, 12)
      vs <- Gen.listOfN(n, Gen.choose(-1e5, 1e5).map(v => math.rint(v * 100) / 100))
      tied <- Gen.oneOf(false, true)
    } yield if (tied) vs ++ vs ++ vs else vs
    // an exact position (d = 0) takes its value as is: DuckDB gives
    // inf at p 0.1 of the third group, where inf·1 + inf·0 is NaN
    val pinned = Seq(Seq(0.1, 0.7), Seq(3.3, 7.9, 11.1),
      1.0 +: Seq.fill(10)(Double.PositiveInfinity))
    forSamples(Gen.listOfN(6, groupGen), n = 5) { random =>
      val groups = pinned ++ random
      val df = groups.zipWithIndex
        .flatMap { case (vs, g) => vs.map(v => (g, v)) }.toDF("g", "v")
      val got = graft.stats.Quantiles
        .exactPercentilesByGroup(df, Seq("g"), "v", ps)
        .as[(Int, Double, Double)].collect()
        .map { case (g, p, v) => (g, p) -> v }.toMap
      assert(got((0, 0.3)) == 0.27999999999999997)
      assert(got((1, 0.37)) == 6.704)
      assert(got((2, 0.1)) == Double.PositiveInfinity)
      for ((vs, g) <- groups.zipWithIndex; p <- ps)
        assert(got((g, p)) == reference(vs, p), s"group $vs at p $p")
    }
  }

  private val docGen = Gen.listOfN(12,
    Gen.zip(Gen.choose(0L, 1L << 40),
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", "the", "of", "x9", "#"))
        .map(_.mkString(" "))))

  test("gopherRules signals are bounded and kept implies every rule") {
    forSamples(docGen) { rows =>
      val df = rows.toDF("doc_id", "text").dropDuplicates("doc_id")
      graft.text.Quality.gopherRules(df, "doc_id", "text",
          minWords = 2, maxWords = 50, minStopHits = 1)
        .collect().foreach { r =>
          // bullet/ellipsis/alpha fractions are true fractions; the
          // symbol ratio is per-WORD and can exceed 1 ("###" alone)
          val ratios = Seq(4, 5, 6).map(r.getDouble)
          assert(ratios.forall(v => v >= 0.0 && v <= 1.0),
            s"ratio out of [0,1]: $r")
          assert(r.getDouble(3) >= 0.0)
          if (r.getBoolean(8)) {
            assert(r.getInt(1) >= 2 && r.getInt(1) <= 50)
            assert(r.getDouble(2) >= 3.0 && r.getDouble(2) <= 10.0)
            assert(r.getDouble(3) <= 0.1 && r.getDouble(6) >= 0.8)
            assert(r.getInt(7) >= 1)
          }
        }
    }
  }

  test("dupNgramCharFrac is a [0,1] fraction with dup_chars <= total_chars") {
    forSamples(docGen) { rows =>
      val df = rows.toDF("doc_id", "text").dropDuplicates("doc_id")
      graft.text.Quality.dupNgramCharFrac(df, "doc_id", "text", n = 2)
        .collect().foreach { r =>
          val (tot, dup, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
          assert(dup >= 0L && dup <= tot, s"coverage exceeds doc: $r")
          assert(frac >= 0.0 && frac <= 1.0)
          // a doc's covered mass is consistent with its fraction
          if (tot > 0L) assert(math.abs(frac - dup.toDouble / tot) < 1e-6)
          else assert(dup == 0L && frac == 0.0)
        }
    }
  }

  test("star and propagation components agree on random multigraphs") {
    // beyond Batch32Spec's fixed seeds: arbitrary edge lists with
    // self-loops, duplicate edges and both orientations — the two
    // algorithms must be interchangeable everywhere
    val edgesGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L)))
    forSamples(edgesGen, n = 5) { edges =>
      val pairs = edges.toDF("id_a", "id_b")
      val star = graft.text.Dedup.connectedComponentsStar(pairs)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val prop = graft.text.Dedup.connectedComponents(pairs, maxIter = 60)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(star.sameElements(prop))
    }
  }

  test("unicode_norm is idempotent and NFC∘NFD == NFC") {
    graft.functions.NativeFunctions.register(spark)
    // strings mixing ascii, precomposed accents, combining marks and
    // compatibility characters
    val charGen = Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('é', 'ü', 'ñ', '́', '̈',
        'ﬁ', '½', 'Ⅻ', ' '))
    val strGen = Gen.listOfN(24, charGen).map(_.mkString)
    forSamples(Gen.listOfN(20, strGen), n = 5) { strs =>
      val df = nonLocal(strs.zipWithIndex.map { case (s, i) => (i.toLong, s) })
        .toDF("id", "s")
      def norm(c: org.apache.spark.sql.Column, f: String) =
        call_function("unicode_norm", c, lit(f))
      val bad = df.filter(
        norm(norm($"s", "NFC"), "NFC") =!= norm($"s", "NFC") ||
        norm(norm($"s", "NFD"), "NFC") =!= norm($"s", "NFC") ||
        norm(norm($"s", "NFKC"), "NFKC") =!= norm($"s", "NFKC"))
      assert(bad.isEmpty, bad.collect().mkString(","))
    }
  }
}
