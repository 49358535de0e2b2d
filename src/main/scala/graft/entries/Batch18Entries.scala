package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.mm.Multimodal
import graft.rel.Spatial
import graft.stream.Streaming

/** Round-9 batch: the real image codec path (javax.imageio decode →
  * luma → nearest-neighbor thumbnail → exact pixel moments) proven
  * against an analytic SQL oracle, plus scale-gate hardening entries.
  */
object Batch18Entries extends Entries {

  /** Deterministic synthetic corpus: 24 BMPs whose pixel luma is the
    * closed-form `(x·7 + y·13 + id·31) mod 256`, sizes varying with id
    * so the resize path (integer floor sampling) is exercised. The
    * oracle recomputes the identical integers from `range()` — the
    * Spark side must really decode the container to match. */
  private[graft] def syntheticBmps(s: SparkSession): DataFrame = {
    val rows = (0 until 24).map { id =>
      val w = 16 + (id % 3) * 4
      val h = 12 + (id % 2) * 6
      (id.toLong,
        Multimodal.encodeBmp(w, h, (x, y) => (x * 7 + y * 13 + id * 31) % 256),
        "bmp", w, h, 0L)
    }
    Multimodal.toMediaFrame(s, rows)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.10 multimodal image codec (gofast/dataops/preprocessing.py:2161
    // Features.image_extraction): REAL decode of BMP containers via
    // javax.imageio, grayscale, 8×8 nearest-neighbor thumbnail, exact
    // integer pixel moments. Hash-match against the analytic oracle
    // proves the whole codec chain end-to-end.
    "image_features" -> ((s, dir) =>
      Multimodal.imageFeatures(syntheticBmps(s), thumbSide = 8)
        .orderBy("media_id"))
,
    // §2.3 geo nearest over the FULL customer×supplier (no pre-filter):
    // proves the internally-banded search returns the exact global
    // nearest while every join in the plan stays a keyed equi-join —
    // the DuckDB oracle brute-forces all pairs.
    // §2.12 streaming dedup throughput probe: 120k events (2 identical
    // arrivals per key) through MemoryStream → watermarked
    // dropDuplicatesWithinWatermark → memory sink, run to completion.
    // Duplicate rows are bit-identical, so the surviving row per key is
    // deterministic regardless of which arrival wins — fully
    // oracle-checkable, and the one streaming north-star with a bench
    // number. (State scales by distinct keys inside the watermark
    // horizon; eviction is what makes this viable on an unbounded
    // stream.)
    "stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val n = 120000
      val rows = (0 until n).map { i =>
        val k = (i % (n / 2)).toLong
        (k, (i / 1000).toLong, k.toDouble)
      }
      // one micro-batch; state = one row per distinct key inside the
      // watermark horizon
      Streaming.replay(s, Seq(rows), "append", stateRows = n / 2) { in =>
        val df = in.toDF("k", "toff", "v")
          .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("toff")))
        Streaming.dedupWithinWatermark(df, "ts", "60 seconds", Seq("k"))
          .select("k", "v")
      }.orderBy("k")
    }),

    // §2.9 single-linkage merge heights, FULL oracle: the dendrogram
    // heights of single linkage are exactly the minimum-spanning-tree
    // edge weights sorted ascending (min-merge preserves original
    // pairwise distances), and Prim's algorithm IS expressible as a
    // DuckDB recursive CTE — so the driver-loop linkage gets an
    // independent engine check, not just the scipy golden test.
    // (complete/average recombine distances through the sequential
    // Lance-Williams state and have no such closed form — documented
    // in COVERAGE.md.)
    "linkage_single_heights" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("height"))
      graft.ml.Hierarchy.linkageMatrix(
          T.supplier(s, dir).filter(col("s_suppkey") <= 25),
          "s_suppkey", Seq("s_acctbal", "s_nationkey"), method = "single")
        .select(round(col("dist"), 9).as("height"))
        .withColumn("merge_step", row_number().over(w).cast("long"))
        .select("merge_step", "height")
        .orderBy("merge_step")
    }),

    "haversine_nn_full" -> ((s, dir) => {
      val c = T.customer(s, dir)
        .select(col("c_custkey"),
          ((col("c_custkey") % 160).cast("double") - 80.0 + 0.25).as("clat"),
          (((col("c_custkey") * 7) % 340).cast("double") - 170.0 + 0.25).as("clon"))
      val su = T.supplier(s, dir)
        .select(col("s_suppkey"),
          (((col("s_suppkey") * 13) % 160).cast("double") - 80.0 + 0.25).as("slat"),
          (((col("s_suppkey") * 11) % 340).cast("double") - 170.0 + 0.25).as("slon"))
      Spatial.nearestByHaversine(c, su, "c_custkey", "s_suppkey",
          "clat", "clon", "slat", "slon")
        .select("c_custkey", "s_suppkey", "dist_km")
        .orderBy("c_custkey")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "image_features" ->
      """WITH ids AS (SELECT unnest(range(0, 24)) AS media_id),
        |dims AS (SELECT media_id,
        |    16 + (media_id % 3) * 4 AS w,
        |    12 + (media_id % 2) * 6 AS h
        |  FROM ids),
        |t AS (
        |  SELECT d.media_id, d.w, d.h,
        |    ((tx.i * d.w // 8) * 7 + (ty.i * d.h // 8) * 13 + d.media_id * 31) % 256 AS v
        |  FROM dims d,
        |    (SELECT unnest(range(0, 8)) AS i) tx,
        |    (SELECT unnest(range(0, 8)) AS i) ty)
        |SELECT media_id, TRUE AS ok,
        |  MIN(w) AS width, MIN(h) AS height,
        |  CAST(MIN(v) AS BIGINT) AS px_min,
        |  CAST(MAX(v) AS BIGINT) AS px_max,
        |  CAST(SUM(v) AS BIGINT) AS px_sum,
        |  CAST(SUM(v) AS BIGINT) / 64.0 AS px_mean,
        |  (64 * CAST(SUM(v * v) AS BIGINT) - CAST(SUM(v) AS BIGINT) * CAST(SUM(v) AS BIGINT)) / 4096.0 AS px_var
        |FROM t GROUP BY media_id ORDER BY media_id""".stripMargin,

    "stream_dedup" ->
      """SELECT i AS k, CAST(i AS DOUBLE) AS v
        |FROM (SELECT unnest(range(0, 60000)) AS i)
        |ORDER BY k""".stripMargin,

    "linkage_single_heights" ->
      """WITH RECURSIVE pts AS (
        |  SELECT s_suppkey AS id, CAST(s_acctbal AS DOUBLE) AS x,
        |    CAST(s_nationkey AS DOUBLE) AS y
        |  FROM supplier WHERE s_suppkey <= 25),
        |pairs AS (
        |  SELECT a.id AS ia, b.id AS ib,
        |    SQRT((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS d
        |  FROM pts a JOIN pts b ON a.id <> b.id),
        |mst(step, visited, d) AS (
        |  SELECT 0, [1], CAST(NULL AS DOUBLE)
        |  UNION ALL
        |  SELECT step + 1, list_append(visited, nxt), nd FROM (
        |    SELECT m.step, m.visited, p.ib AS nxt, p.d AS nd,
        |      ROW_NUMBER() OVER (ORDER BY p.d, p.ib) AS rn
        |    FROM mst m JOIN pairs p
        |      ON list_contains(m.visited, p.ia)
        |     AND NOT list_contains(m.visited, p.ib))
        |  WHERE rn = 1)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY ROUND(d, 9)) AS BIGINT)
        |    AS merge_step,
        |  ROUND(d, 9) AS height
        |FROM mst WHERE d IS NOT NULL
        |ORDER BY merge_step""".stripMargin,

    "haversine_nn_full" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 160 AS DOUBLE) - 80.0 + 0.25 AS clat,
        |    CAST((c_custkey * 7) % 340 AS DOUBLE) - 170.0 + 0.25 AS clon
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey * 13) % 160 AS DOUBLE) - 80.0 + 0.25 AS slat,
        |    CAST((s_suppkey * 11) % 340 AS DOUBLE) - 170.0 + 0.25 AS slon
        |  FROM supplier),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |    ROUND(12742.0 * ASIN(SQRT(
        |      SIN(RADIANS((slat - clat) / 2)) * SIN(RADIANS((slat - clat) / 2))
        |      + COS(RADIANS(clat)) * COS(RADIANS(slat))
        |        * SIN(RADIANS((slon - clon) / 2)) * SIN(RADIANS((slon - clon) / 2)))), 3) AS dist_km
        |  FROM c, s),
        |r AS (
        |  SELECT c_custkey, s_suppkey, dist_km,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY dist_km, s_suppkey) AS rn
        |  FROM d)
        |SELECT c_custkey, s_suppkey, dist_km FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin
  )
}
