package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial helpers: haversine distance + nearest-point join.
  *
  * Reference: the lon/lat operator family — `filter_position`
  * (gofast/utils/spatial_utils.py:1813), `extract_zones_from` (:2036),
  * `dual_merge` closest-coordinate merge (:2318), nearest-neighbor
  * lookup (gofast/geo/system.py:499).
  *
  * Scale design: distance is a pure codegen'd column expression; the
  * nearest join is either a broadcast brute-force scan (tiny right
  * side) or a banded keyed join, both reduced per-left-row by a
  * map-side-combining min-struct aggregate — never a driver-side loop.
  */
object Spatial {

  /** Great-circle distance in km (haversine, Earth diameter 12742 km).
    * Trig outputs are libm-dependent in the last ulp — round the result
    * (e.g. 3 dp ≈ meter precision) before using it as a sort/join key
    * that must be engine-portable. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column)
      : Column = {
    val sdlat = sin(radians((lat2 - lat1) / 2))
    val sdlon = sin(radians((lon2 - lon1) / 2))
    lit(12742.0) * asin(sqrt(
      sdlat * sdlat + cos(radians(lat1)) * cos(radians(lat2)) * sdlon * sdlon))
  }

  /** Right-side row cap for the broadcast brute-force fast path: the
    * per-LEFT-row cost is a linear scan of the broadcast table, so the
    * cap bounds total work at |left|·cap distance evaluations — cheap
    * codegen arithmetic, but still linear in the cap at 100 TB left
    * sizes, hence kept well under what the byte threshold alone would
    * admit. */
  private val BruteForceMaxRightRows = 8192L

  /** An internal working-column name guaranteed absent from the user's
    * schemas: `withColumn` silently REPLACES an existing column, so a
    * left table that happens to carry e.g. `_d` would otherwise have
    * its data overwritten by the scratch distance column. */
  private def fresh(base: String, taken: Set[String]): String =
    Iterator.iterate(base)(_ + "_").dropWhile(taken).next()

  /** For each left row, the EXACT nearest right row by haversine
    * distance — banded internally, never a cartesian product.
    *
    * Fast path (adaptive mode only): when the right side is tiny —
    * under `spark.sql.autoBroadcastJoinThreshold` bytes (estimated
    * from the schema's default sizes) AND under
    * [[BruteForceMaxRightRows]] rows — the nearest is a broadcast
    * nested-loop scan + min-struct aggregate: one pass over left, no
    * banding levels, no persists. The row cap keeps the per-left-row
    * scan bounded, so the path stays linear in |left| at scale.
    *
    * Banded path: search runs in latitude-band levels of geometrically
    * widening width (`bandDeg`, 4·bandDeg, …, 180°): at each level both
    * sides key on `floor(lat / width)`, the left explodes to its bucket
    * ±1 (a 3-way ring), and the join is a plain keyed equi-join. A left
    * row is RESOLVED at a level when its best rounded distance is
    * below that level's exactness bound — any point outside the ring
    * differs in latitude by ≥ width, so its distance is at least the
    * meridian arc `2R·asin(sin(width/2))`; a candidate strictly inside
    * that bound cannot be beaten from outside (the 1.5·10^-roundDp
    * margin keeps rounded comparisons safe). Unresolved rows (sparse
    * neighborhoods) graduate to the next, 4× wider level; the final
    * 180° level puts every right row in one ring, so the search is
    * exact with no cross-join fallback. Levels run EAGERLY with an
    * unresolved-count check, so when level 0 resolves every left row
    * (the dense common case — at 100 TB densities virtually everything
    * resolves at level 0 with ~|left|·k candidate rows) no wider level
    * is ever constructed or executed.
    *
    * Per-left top-1 is a `min(struct(dist, rightId, …))` aggregate, not
    * a row_number window: partial aggregation combines map-side, so
    * each level shuffles ~|left| best-so-far rows instead of every
    * candidate row.
    *
    * Deterministic: distance rounded to `roundDp` (trig is
    * libm-dependent in the last ulp), ties broken by `rightId`
    * ascending; equal-rounded ties are always co-resident in a ring,
    * so the tie-break is level-independent.
    *
    * `bandDeg <= 0` (the default) sizes the first band adaptively from
    * one small aggregate over the right side: width ≈ 0.5·√(area/n)
    * degrees — about the median nearest-neighbor spacing at that
    * density — so level 0 stays cheap and the geometric escalation
    * (×4 per level) resolves the tail in one or two more passes.
    * Measured faster than a wide first band: a band twice as wide
    * quadruples level-0 candidate volume to save at most one cheap
    * extra level. Pass an explicit width to skip the aggregate (which
    * also skips the brute-force fast path — explicit width is an
    * explicit request for the banded plan). */
  def nearestByHaversine(left: DataFrame, right: DataFrame,
                         leftId: String, rightId: String,
                         latL: String, lonL: String,
                         latR: String, lonR: String,
                         roundDp: Int = 3,
                         bandDeg: Double = 0.0): DataFrame = {
    require(bandDeg <= 180, s"bandDeg must be <= 180, got $bandDeg")
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    val taken = (leftCols ++ rightCols).toSet
    val bestC = fresh("_best", taken)
    val rnC = fresh("_rn", taken)
    val hbC = fresh("_hb", taken)
    val hb0C = fresh("_hb0", taken + hbC)

    def withDist(cand: DataFrame): DataFrame = cand.withColumn("dist_km",
      round(haversineKm(col(latL), col(lonL), col(latR), col(lonR)), roundDp))

    // grouping by every left column and min-ing a struct of every
    // right column requires orderable types; a map-typed payload on
    // either side falls back to leftId-keyed semantics (the
    // pre-round-10 contract: leftId uniquely identifies left rows).
    // Catalyst's own orderability rule, not a hand-rolled re-derivation
    // that could drift from the engine (UDTs, future types).
    val rowKeyable = (left.schema.fields ++ right.schema.fields)
      .forall(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))

    // per-left-row top-1 as a combinable aggregate: struct comparison
    // is field-order lexicographic, so min(struct(dist, rightId, rest))
    // ≡ ORDER BY dist ASC, rightId ASC LIMIT 1 — with map-side partial
    // combine, unlike a row_number window over all candidates. The
    // unorderable-payload fallback IS that window (correct for any
    // type, but single-task per leftId group of candidates).
    def top1(cand: DataFrame): DataFrame =
      if (rowKeyable) {
        val rest = rightCols.filterNot(_ == rightId)
        val best = struct(col("dist_km") +: col(rightId) +: rest.map(col): _*)
        cand.groupBy(leftCols.map(col): _*)
          .agg(min(best).as(bestC))
          .select(leftCols.map(col) ++
            rightCols.map(c => col(s"`$bestC`.`$c`")) :+
            col(s"`$bestC`.dist_km"): _*)
      } else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(leftId)
          .orderBy(col("dist_km").asc, col(rightId).asc)
        cand.withColumn(rnC, row_number().over(w))
          .filter(col(rnC) === 1)
          .select(leftCols.map(col) ++ rightCols.map(col) :+
            col("dist_km"): _*)
      }

    val width0 = if (bandDeg > 0) bandDeg else {
      val r = right.agg(count(lit(1)).as("n"),
        (max(col(latR).cast("double")) - min(col(latR).cast("double")))
          .as("latSpan"),
        (max(col(lonR).cast("double")) - min(col(lonR).cast("double")))
          .as("lonSpan")).head()
      val n = math.max(1L, r.getLong(0))

      // broadcast brute-force fast path for a tiny right side
      val bytesPerRow = math.max(1, right.schema.map(_.dataType.defaultSize).sum)
      val bcBytes = broadcastThresholdBytes(left)
      // rowKeyable: the fast path groups by every left column too
      if (bcBytes > 0 && rowKeyable && n <= BruteForceMaxRightRows &&
          n * bytesPerRow <= bcBytes && roundDp <= 9)
        return bruteForceBroadcast(left, right, leftId, rightId,
          latL, lonL, latR, lonR, roundDp)

      // either span can be null (all-null coordinate column): fall
      // back to the whole-globe area rather than unboxing a null
      val latSpan = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val lonSpan = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val area = (latSpan, lonSpan) match {
        case (Some(la), Some(lo)) =>
          math.max(1e-6, math.max(1e-3, la) * math.max(1e-3, lo))
        case _ => 180.0 * 360.0
      }
      math.min(180.0, math.max(0.5, 0.5 * math.sqrt(area / n)))
    }
    val widths =
      Iterator.iterate(width0)(_ * 4).takeWhile(_ < 180.0).toSeq :+ 180.0

    def level(l: DataFrame, width: Double): DataFrame = {
      val rb = right.withColumn(hbC, floor(col(latR) / width).cast("long"))
      val cand = l
        .withColumn(hb0C, floor(col(latL) / width).cast("long"))
        .withColumn(hbC,
          explode(array(col(hb0C) - 1, col(hb0C), col(hb0C) + 1)))
        .join(rb, hbC)
      top1(withDist(cand))
    }

    // Eager level loop: each non-final level persists its best-per-row
    // result (it feeds BOTH the output union and the next level's
    // anti-join — without a cut the lineage re-evaluates every earlier
    // level once per descendant) and COUNTS the unresolved remainder,
    // so the loop stops at the first level that resolves everything
    // instead of constructing every wider level against an empty
    // remainder. try/finally guarantees the persisted handles are
    // dropped even when a level throws mid-loop.
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      var rem = left
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var i = 0
      var done = false
      while (!done) {
        val width = widths(i)
        if (i == widths.size - 1) { parts += level(rem, width); done = true }
        else {
          val best = level(rem, width).persist()
          cached += best
          val bound = 12742.0 * math.asin(math.sin(math.toRadians(width / 2))) -
            1.5 * math.pow(10.0, -roundDp)
          val resolved = best.filter(col("dist_km") <= bound)
          // unpersist on a derived view is a no-op, so keep the
          // persisted handle itself for the finally-cleanup.
          // Anti-join on ALL left columns, not just leftId: top1 groups
          // by every left column, so two distinct left rows sharing an
          // id resolve independently — keying the remainder on id alone
          // would drop the unresolved sibling when the other resolved
          // at an earlier level. NULL-SAFE equality: a plain USING join
          // never matches a NULL payload value, so such a row would
          // stay in the remainder after resolving and be emitted again
          // at every later level. (Unorderable-payload fallback keys on
          // leftId, matching its leftId-unique contract.)
          val unresolved = (if (rowKeyable) {
            val l = rem.as("_ba_l")
            val res = resolved.select(leftCols.map(col): _*).as("_ba_r")
            val cond = leftCols.map(c =>
              col(s"_ba_l.`$c`") <=> col(s"_ba_r.`$c`")).reduce(_ && _)
            l.join(res, cond, "left_anti")
          } else {
            rem.join(resolved.select(leftId), Seq(leftId), "left_anti")
          }).persist()
          cached += unresolved
          parts += resolved
          if (unresolved.count() == 0L) done = true
          else { rem = unresolved; i += 1 }
        }
      }
      // cut the final result and run its last stage (the count) while
      // the per-level caches it reads are alive; then the finally drops
      // them
      val out = graft.core.Cut.of(parts.reduce(_.unionByName(_)),
        graft.core.Cut.Reread)
      out.count()
      out
    } finally cached.foreach(_.unpersist(false))
  }

  /** Brute-force nearest against a tiny broadcast right side.
    *
    * The per-left argmin must stay a PRIMITIVE aggregate — `min` over a
    * struct buffer falls out of HashAggregate into SortAggregate, which
    * sorts every candidate row (measured 5× slower at |left|·|right| =
    * 15M candidates). Instead each right row gets a dense index in
    * `rightId` order (≤ [[BruteForceMaxRightRows]] = 2^13 rows, single
    * cheap window over the tiny side), the scaled rounded distance and
    * index pack into one long, and `min(packed)` — codegen HashAgg with
    * map-side combine, shuffling one long per left row — is exactly
    * argmin by (rounded dist, rightId). One broadcast join on the index
    * recovers the right payload, and `dist_km` is recomputed with the
    * SAME rounded expression the banded path and the SQL oracles use.
    * The packed integer is only the selection key; its floor(x+0.5)
    * quantization can disagree with round()'s decimal-string HALF_UP by
    * one quantum on adversarial .5-boundary distances, so path-equality
    * is exact except for such manufactured ties (Batch15Spec asserts
    * banded == brute on real data). NaN distances pack above every real
    * one (see the key expression) instead of 0-casting to a false
    * minimum. */
  private def bruteForceBroadcast(left: DataFrame, right: DataFrame,
                                  leftId: String, rightId: String,
                                  latL: String, lonL: String,
                                  latR: String, lonR: String,
                                  roundDp: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val taken = (left.columns ++ right.columns).toSet
    val ridxC = fresh("_ridx", taken)
    val dC = fresh("_d", taken + ridxC)
    val packedC = fresh("_packed", taken + ridxC + dC)
    val rIdx = right.withColumn(ridxC,
      (row_number().over(Window.orderBy(col(rightId))) - 1).cast("long"))
    val scale = math.pow(10.0, roundDp) // powers of 10 are double-exact here
    // HALF_UP for a non-negative double is floor(x + 0.5) — native math,
    // NOT round(x, 0), whose per-row BigDecimal allocation dominates the
    // 15M-candidate hot loop (measured ~10x on this path). The quantized
    // double can disagree with round()'s decimal-string HALF_UP by one
    // quantum on adversarial .5-boundary values — below the roundDp the
    // output is reported at, and the emitted dist_km is recomputed with
    // round() either way.
    // NaN distances (asin arg pushed past 1.0 by a degenerate/corrupt
    // coordinate) must NOT win the argmin via a 0-cast: they pack above
    // every real distance (max real packed ≈ 1.7e17 < 2^62), keyed by
    // _ridx so an all-NaN group still returns the lowest rightId — the
    // same order the banded path's min(struct) gives NaN candidates.
    // the distance is PROJECTED once as `_d` before the aggregate: the
    // when/otherwise key references it twice, and an inline expression
    // would evaluate the full trig chain twice per candidate
    val packed = when(isnan(col(dC)), lit(4611686018427387904L) + col(ridxC))
      .otherwise(floor(col(dC) * lit(scale) + lit(0.5)).cast("long") *
        lit(8192L) + col(ridxC)).as(packedC)
    // a small left side may plan as one input split; the cross+agg then
    // runs single-task. Repartition ONLY in that case — a left side big
    // enough to have >= defaultParallelism splits never pays a shuffle.
    val par = left.sparkSession.sparkContext.defaultParallelism
    val lsrc = if (left.rdd.getNumPartitions < par) left.repartition(par)
      else left
    val best = lsrc.crossJoin(broadcast(rIdx.select(col(ridxC),
        col(latR), col(lonR))))
      .withColumn(dC,
        haversineKm(col(latL), col(lonL), col(latR), col(lonR)))
      .groupBy(left.columns.map(col): _*)
      .agg(min(packed).as(packedC))
      .withColumn(ridxC, col(packedC) % lit(8192L))
    best.join(broadcast(rIdx), ridxC)
      .withColumn("dist_km",
        round(haversineKm(col(latL), col(lonL), col(latR), col(lonR)), roundDp))
      .select(left.columns.map(col) ++ right.columns.map(col) :+
        col("dist_km"): _*)
  }

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (<= 0 disables) —
    * Spark's own typed accessor, not a re-parse of the byte-string. */
  private def broadcastThresholdBytes(df: DataFrame): Long =
    df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
}
