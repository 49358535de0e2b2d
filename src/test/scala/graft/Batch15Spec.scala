package graft

import org.apache.spark.sql.functions._
import graft.clean.Extras
import graft.rel.{Sampling, Spatial}
import graft.stats.Regression

class Batch15Spec extends SparkSpec {
  import spark.implicits._

  test("distributed Otsu agrees with the driver-side scalar on a bimodal column") {
    val vals = (Seq.fill(300)(10.0) ++ Seq.fill(200)(90.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, v + (i % 7) * 0.5) }
    val df = vals.toDF("id", "v")
    val scalar = Extras.otsuThreshold(df, "v", bins = 32)
    val row = Extras.otsuThresholdDf(df, "v", bins = 32).head()
    assert(math.abs(row.getAs[Double]("threshold") - scalar) < 1e-9)
    // threshold separates the two modes
    assert(row.getAs[Double]("threshold") > 15 &&
      row.getAs[Double]("threshold") < 90)
  }

  test("errorMetricsSimple recovers a perfect linear fit") {
    val df = (1 to 500).map(i => (i.toDouble, 3.0 + 2.0 * i)).toDF("x", "y")
    val r = Regression.errorMetricsSimple(df, "y", "x").head()
    assert(r.getAs[Double]("mae") < 1e-9)
    assert(r.getAs[Double]("rmse") < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
    assert(r.getAs[Long]("n") === 500L)
  }

  test("errorMetricsSimple R2 drops on noisy data") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 500)
      .map(i => (i.toDouble, 2.0 * i + 50 * rnd.nextGaussian()))
      .toDF("x", "y")
    val r = Regression.errorMetricsSimple(df, "y", "x").head()
    assert(r.getAs[Double]("r2") > 0.8 && r.getAs[Double]("r2") < 1.0)
    assert(r.getAs[Double]("rmse") > r.getAs[Double]("mae"))
  }

  test("bootstrapMeanCi brackets the true mean with a sane interval") {
    val df = (0 until 400).map(i => (i.toLong, 10.0 + (i % 21))).toDF("id", "v")
    val r = Sampling.bootstrapMeanCi(df, "id", "v", b = 100).head()
    val (lo, med, hi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    val trueMean = (0 until 400).map(i => 10.0 + (i % 21)).sum / 400
    assert(lo <= med && med <= hi)
    assert(lo < trueMean + 1 && hi > trueMean - 1)
    assert(hi - lo < 3.0) // n=400 → se ≈ 0.3; CI must be tight
  }

  test("drawIndex covers the full range past n = 1,000,003 and is uniform") {
    val n = 1200000L
    val idx = spark.range(2 * n)
      .select(Sampling.drawIndex(col("id"), n).as("i")).persist()
    val row = idx.agg(min("i"), max("i"), countDistinct("i")).head()
    // reaches both ends — in particular PAST the old 1,000,003 modulus cap
    assert(row.getLong(0) < 100, s"min=${row.getLong(0)}")
    assert(row.getLong(1) > n - 100, s"max=${row.getLong(1)}")
    assert(row.getLong(1) > 1000003L)
    // 2n draws from n: iid coverage is 1 - e^-2 = 0.8647
    assert(math.abs(row.getLong(2).toDouble / n - 0.8647) < 0.01,
      s"coverage=${row.getLong(2).toDouble / n}")
    // one replicate (n draws of n): iid distinct fraction 1 - 1/e = 0.6321
    // — a LINEAR hash fails this (near 1.0: low-discrepancy, no variance)
    val d0 = spark.range(n).select(Sampling.drawIndex(col("id"), n).as("i"))
      .agg(countDistinct("i")).head().getLong(0)
    assert(math.abs(d0.toDouble / n - 0.6321) < 0.01, s"rep0=${d0.toDouble / n}")
    // uniform marginal: 100 equal bins of 2n draws, expect 24000 ± 5%
    val bins = idx.select((col("i") / lit(n / 100)).cast("int").as("b"))
      .groupBy("b").agg(count(lit(1)).as("c")).collect()
    assert(bins.length === 100)
    bins.foreach(r => assert(math.abs(r.getLong(1) - 24000.0) < 1200.0,
      s"bin ${r.getInt(0)} = ${r.getLong(1)}"))
    idx.unpersist()
  }

  test("drawIndex long-arithmetic body matches the documented decimal tree") {
    // the decimal(38,0) tree is the SPEC (it is what the DuckDB oracle
    // replays); the shipped body is primitive-long mulmod — assert
    // bit-identical indexes over small, large and near-2^63 keys, and
    // over negative keys down to -2^63, where `mod P` is the
    // non-negative residue (pmod; equal to % for the other keys)
    def decimalDraw(k: org.apache.spark.sql.Column, n: Long)
        : org.apache.spark.sql.Column = {
      val kd = k.cast("decimal(19,0)")
      val p = lit(Sampling.DrawP).cast("decimal(19,0)")
      val h1 = pmod(kd * kd, p)
      val h = pmod(h1 * lit(Sampling.DrawA).cast("decimal(19,0)")
        + kd * lit(Sampling.DrawB).cast("decimal(19,0)")
        + lit(Sampling.DrawC).cast("decimal(19,0)"), p)
      (h % lit(n).cast("decimal(19,0)")).cast("long")
    }
    val ks = spark.range(200000)
      .select(col("id"))
      .unionAll(spark.range(200)
        .select((lit(Long.MaxValue) - col("id") * 982451653L).as("id")))
      .unionAll(spark.range(200)
        .select((lit(Sampling.DrawP) + col("id") * 7919L - 100L).as("id")))
      .unionAll(spark.range(1, 2000).select((-col("id")).as("id")))
      .unionAll(spark.range(200)
        .select((lit(Long.MinValue) + col("id") * 982451653L).as("id")))
      .unionAll(spark.range(200)
        .select((lit(-Sampling.DrawP) + col("id") * 7919L - 100L).as("id")))
    for (n <- Seq(7L, 1000000L, 3037000499L)) {
      val mismatches = ks
        .select(Sampling.drawIndex(col("id"), n).as("a"),
          decimalDraw(col("id"), n).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(mismatches === 0L, s"n=$n")
    }
  }

  test("bootstrapMeanCi non-broadcast path (n past the gate) is identical") {
    val df = (0 until 400).map(i => (i.toLong, 10.0 + (i % 21))).toDF("id", "v")
    val bc = Sampling.bootstrapMeanCi(df, "id", "v", b = 60).head()
    // force the shuffle-join path: gate below n
    val sj = Sampling.bootstrapMeanCi(df, "id", "v", b = 60,
      broadcastMaxRows = 0L).head()
    assert(bc.getDouble(0) === sj.getDouble(0))
    assert(bc.getDouble(1) === sj.getDouble(1))
    assert(bc.getDouble(2) === sj.getDouble(2))
    // the gate drops the unconditional HINT: Catalyst remains free to
    // auto-broadcast a genuinely small side from size stats (fine —
    // that decision is size-based, not unconditional), but the logical
    // plan must carry no forced-broadcast hint past the gate
    val hinted = Sampling.bootstrapMeanCi(df, "id", "v", b = 2)
      .queryExecution.analyzed.toString
    val gated = Sampling.bootstrapMeanCi(df, "id", "v", b = 2,
      broadcastMaxRows = 0L).queryExecution.analyzed.toString
    assert(hinted.toLowerCase.contains("hint"))
    assert(!gated.toLowerCase.contains("hint"), gated.take(400))
  }

  test("bootstrapMeanCi is shift-invariant in ids and rejects sparse ids") {
    val vals = (0 until 400).map(i => 10.0 + (i % 21))
    val df0 = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val df1 = vals.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }.toDF("id", "v")
    val a = Sampling.bootstrapMeanCi(df0, "id", "v", b = 50).head()
    val c = Sampling.bootstrapMeanCi(df1, "id", "v", b = 50).head()
    assert(a.getDouble(0) === c.getDouble(0))
    assert(a.getDouble(1) === c.getDouble(1))
    assert(a.getDouble(2) === c.getDouble(2))
    intercept[IllegalArgumentException] {
      Sampling.bootstrapMeanCi(df0.filter(col("id") =!= 5L), "id", "v", b = 10)
    }
  }

  test("haversine matches a known city-pair distance") {
    // Paris (48.8566, 2.3522) — Berlin (52.52, 13.405): ~878 km
    val df = Seq(Tuple1(1L)).toDF("id")
    val d = df.select(Spatial.haversineKm(lit(48.8566), lit(2.3522),
      lit(52.52), lit(13.405)).as("d")).head().getDouble(0)
    assert(math.abs(d - 878) < 5, s"got $d")
  }

  test("nearestByHaversine picks the closest point with deterministic ties") {
    val left = Seq((1L, 0.0, 0.0)).toDF("lid", "clat", "clon")
    val right = Seq((10L, 0.0, 1.0), (11L, 0.0, 1.0), (12L, 0.0, 2.0))
      .toDF("rid", "slat", "slon")
    val r = Spatial.nearestByHaversine(left, right, "lid", "rid",
      "clat", "clon", "slat", "slon").head()
    assert(r.getAs[Long]("rid") === 10L) // tie with 11 broken by id
  }

  test("banded nearestByHaversine equals brute force and has no cartesian") {
    // mixed densities: a dense cluster (resolves at level 0), sparse
    // mid-latitude points (graduate a level), and polar isolates that
    // only the final 180° level can resolve
    val left = ((0 until 60).map(i => (i.toLong, (i * 37 % 160) - 80.0 + 0.1,
        (i * 53 % 340) - 170.0 + 0.1)) ++
      Seq((100L, 89.5, 0.0), (101L, -89.5, 12.0)))
      .toDF("lid", "clat", "clon")
    val right = ((0 until 25).map(j => (j.toLong, (j * 13 % 160) - 80.0 + 0.25,
        (j * 11 % 340) - 170.0 + 0.25)) ++
      Seq((200L, 0.05, 0.05))) // near-dup magnet for the dense cluster
      .toDF("rid", "slat", "slon")
    val banded = Spatial.nearestByHaversine(left, right, "lid", "rid",
      "clat", "clon", "slat", "slon", bandDeg = 2.0)
      .select("lid", "rid", "dist_km").orderBy("lid").collect()
    // brute force via the pre-banding formulation
    val brute = left.crossJoin(right)
      .withColumn("dist_km",
        round(Spatial.haversineKm(col("clat"), col("clon"),
          col("slat"), col("slon")), 3))
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lid")
          .orderBy(col("dist_km").asc, col("rid").asc)))
      .filter(col("_rn") === 1)
      .select("lid", "rid", "dist_km").orderBy("lid").collect()
    assert(banded.toSeq == brute.toSeq)
    val plan = Spatial.nearestByHaversine(left, right, "lid", "rid",
      "clat", "clon", "slat", "slon", bandDeg = 2.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "banded plan must stay keyed")
  }

  test("fast path: a NaN-distance right row never wins the argmin") {
    // a corrupt NaN coordinate propagates through radians/sin to a NaN
    // distance (the trig form can also go NaN on adversarial boundary
    // values via sqrt of an fp-negative). Before the NaN guard that
    // row's packed key 0-cast into a false minimum for EVERY left row.
    val left = Seq((1L, 0.0, 0.0)).toDF("lid", "clat", "clon")
    val right = Seq((10L, 0.0, 1.0), (11L, Double.NaN, 179.0))
      .toDF("rid", "slat", "slon")
    val nanCheck = left.crossJoin(right.filter(col("rid") === 11L))
      .select(Spatial.haversineKm(col("clat"), col("clon"),
        col("slat"), col("slon")).as("d")).head().getDouble(0)
    assert(nanCheck.isNaN, "fixture must actually produce a NaN distance")
    val r = Spatial.nearestByHaversine(left, right, "lid", "rid",
      "clat", "clon", "slat", "slon").head()
    assert(r.getAs[Long]("rid") === 10L)
    assert(!r.getAs[Double]("dist_km").isNaN)
  }

  test("banded path: a NULL payload column does not duplicate the row across levels") {
    // the remainder anti-join must be NULL-SAFE: with plain equality a
    // resolved row carrying a NULL never matches itself, stays in the
    // remainder, and is re-emitted at every wider level
    val left = Seq((1L, 0.0, 0.0, Option.empty[String]),
        (2L, 10.0, 10.0, Option("ok")))
      .toDF("lid", "clat", "clon", "tag")
    val right = Seq((10L, 0.1, 0.1), (11L, 10.1, 10.1))
      .toDF("rid", "slat", "slon")
    val out = Spatial.nearestByHaversine(left, right, "lid", "rid",
        "clat", "clon", "slat", "slon", bandDeg = 1.0)
      .select("lid", "rid").collect()
    assert(out.length == 2, s"expected 2 rows, got ${out.toSeq}")
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toSet ==
      Set(1L -> 10L, 2L -> 11L))
  }

  test("unorderable (map) payload falls back to leftId-keyed semantics") {
    val left = Seq((1L, 0.0, 0.0)).toDF("lid", "clat", "clon")
    val right = Seq((10L, 0.0, 1.0, Map("a" -> "b")),
        (11L, 0.0, 5.0, Map("c" -> "d")))
      .toDF("rid", "slat", "slon", "tags")
    val r = Spatial.nearestByHaversine(left, right, "lid", "rid",
      "clat", "clon", "slat", "slon").head()
    assert(r.getAs[Long]("rid") === 10L)
    assert(r.getAs[Map[String, String]]("tags") == Map("a" -> "b"))
  }

  test("duplicate left ids with distinct rows each get their own nearest") {
    // both rows share lid=1: the near-origin row resolves at level 0
    // (15.7 km < the 111.19 km width-1° bound), while the far row's
    // only in-ring candidate sits ~240 km away — OVER the level-0
    // bound, so it must graduate through the remainder anti-join and
    // resolve at the 4°-wide level 1 (bound ≈ 445 km). The anti-join
    // must key on ALL left columns or the graduating sibling silently
    // disappears when its id-twin resolved a level earlier.
    val left = Seq((1L, 0.0, 0.0), (1L, 60.0, 100.0))
      .toDF("lid", "clat", "clon")
    val right = Seq((10L, 0.1, 0.1), (11L, 60.9, 104.0))
      .toDF("rid", "slat", "slon")
    val out = Spatial.nearestByHaversine(left, right, "lid", "rid",
      "clat", "clon", "slat", "slon", bandDeg = 1.0)
      .select("clat", "rid").collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(out == Map(0.0 -> 10L, 60.0 -> 11L))
  }
}
