package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (north-star similarity-search operators).
  *
  * Baseline: brute-force cosine top-k — one streaming pass per query,
  * fine for a broadcastable query set. Scale path: random-hyperplane
  * LSH bucketing so candidate generation joins on bucket keys instead
  * of crossing n².
  */
object Similarity {

  /** Spread the PROBE side of a quadratic pair scan (broadcast
    * nested-loop n×m cosine screens) across the cluster: a small
    * corpus read from one file arrives in 1-2 scan partitions, so the
    * n² work — orders of magnitude larger than the input — would
    * otherwise serialize onto 1-2 tasks while every other core idles
    * (guide: straggler/idle-capacity). Round-robin repartition to at
    * least defaultParallelism; inputs that already carry more
    * partitions keep them. Row placement never affects results here
    * (pair joins are keyed by id predicates, outputs re-sorted). */
  private[graft] def spreadForPairScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Dot product of two array<float|double> columns as a sequential
    * left-to-right fold — deterministic, engine-portable. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Codegen'd cosine over array<float> columns — identical double
    * math to [[cosine]] (per-element double products, sequential sum)
    * but a tight JIT loop instead of interpreted HOF dispatch. */
  def cosineNative(df: DataFrame, a: Column, b: Column): Column = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    call_function("cosine_f32", a, b)
  }

  /** Brute-force cosine top-k against one query vector (as a literal
    * array). No shuffle except the final top-k (TakeOrdered). Query is
    * float-cast: the native kernel runs on array<float>, the embedding
    * storage type. */
  def cosineTopK(df: DataFrame, vecCol: String, idCol: String,
                 query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toFloat)): _*)
    df.select(col(idCol), cosineNative(df, col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Symmetric per-vector int8 codes of an array<float> column
    * (`quantize_i8` native expression) — the 4×-memory scan format: a
    * 100 TB embedding store is usually memory/IO-bound, and cosine is
    * scale-invariant so the codes alone rank candidates. Quantize
    * once, persist the codes, scan with [[cosineI8TopK]]. */
  def quantizeI8(df: DataFrame, vecCol: String,
                 outCol: String = "vec_i8"): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.withColumn(outCol, call_function("quantize_i8", col(vecCol)))
  }

  /** Exact replica of the driver-side quantization formula (floor of
    * x·127/max|x| + 0.5) — used to encode QUERY vectors so the scan
    * compares codes to codes. */
  def quantizeQuery(query: Seq[Double]): Array[Byte] = {
    val m = query.foldLeft(0.0)((acc, v) => math.max(acc, math.abs(v)))
    if (m == 0.0) Array.fill(query.size)(0: Byte)
    else query.map(v => math.floor(v * 127.0 / m + 0.5).toByte).toArray
  }

  /** Brute-force top-k over PRE-QUANTIZED int8 codes (`cosine_i8`
    * native expression: integer multiply-adds, one double division).
    * Same plan shape as [[cosineTopK]] — projection + TakeOrdered —
    * over a 4×-smaller column; recall vs the f32 scan is asserted in
    * VectorExprSpec and measured at the million-vector probe. */
  def cosineI8TopK(df: DataFrame, codeCol: String, idCol: String,
                   query: Seq[Double], k: Int): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    val q = lit(quantizeQuery(query))
    df.select(col(idCol),
        call_function("cosine_i8", col(codeCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN index: coarse KMeans centroids learned
    * once; vectors live in their nearest-centroid bucket; a query
    * searches only the `nprobe` closest buckets. The north-star scale
    * path beside LSH — bucket assignment is one pass, the search
    * touches n·nprobe/nlist vectors.
    *
    * @param nlist  number of coarse centroids (√n is the usual choice)
    * @param nprobe buckets searched per query (recall/cost dial)
    */
  class IvfIndex private[Similarity] (
      bucketed: DataFrame, centroids: Array[Array[Double]],
      vecCol: String, idCol: String,
      pqCb: Option[PQ.PQCodebook] = None) {

    // driver-side cosine for ranking the (tiny) centroid table — ONE
    // definition shared by search and searchMany so the per-query and
    // batched paths can never probe different buckets
    private def cos(a: Seq[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }

    def search(query: Seq[Double], k: Int, nprobe: Int = 4): DataFrame = {
      val probeIds = centroids.zipWithIndex
        .sortBy { case (c, _) => -cos(query, c) }
        .take(nprobe).map(_._2)
      val q = array(query.map(v => lit(v.toFloat)): _*)
      val candidates = bucketed.filter(col("_ivf_bucket").isin(probeIds: _*))
      candidates.select(col(idCol),
          cosineNative(candidates, col(vecCol), q).as("cos"))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)
    }

    /** Quantized probe: the same bucket pruning (full-precision
      * centroid ranking on the driver — asymmetric search), but the
      * candidate scan runs over the int8 codes column, so the two
      * scale levers MULTIPLY: IVF touches n·nprobe/nlist vectors and
      * i8 reads 4× fewer bytes per vector. Requires the index built
      * with `withI8 = true`. */
    def searchI8(query: Seq[Double], k: Int, nprobe: Int = 4): DataFrame = {
      require(bucketed.columns.contains("_vec_i8"),
        "index built without int8 codes: pass withI8 = true to ivfIndex")
      graft.functions.NativeFunctions.register(bucketed.sparkSession)
      val probeIds = centroids.zipWithIndex
        .sortBy { case (c, _) => -cos(query, c) }
        .take(nprobe).map(_._2)
      val q = lit(quantizeQuery(query))
      bucketed.filter(col("_ivf_bucket").isin(probeIds: _*))
        .select(col(idCol),
          call_function("cosine_i8", col("_vec_i8"), q).as("cos"))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)
    }

    /** One-pass batched probe plan shared by [[searchMany]] and
      * [[searchManyI8]] — the two paths differ ONLY in how a query is
      * encoded and how a candidate row is scored, so the bucket
      * inversion / candidate explode / top-k window live here once and
      * cannot drift apart. The driver ranks buckets for all queries at
      * once (nq × nlist × dim — trivial), inverts that into a
      * bucket → probing-queries literal map (bounded: nq · nprobe
      * entries), and one scan over the probed buckets explodes each
      * row against only the queries that probe its bucket. Candidate
      * volume is nq · n · nprobe / nlist rows into the per-query top-k
      * window — the same bounded fraction as one probe, amortized
      * across the batch. */
    private def batchedProbe[Q](
        queries: Seq[(Long, Seq[Double])], k: Int, nprobe: Int,
        encode: (Seq[Double], Int) => Q, scanCol: String,
        score: (Column, Column) => Column)(
        implicit tt: scala.reflect.runtime.universe.TypeTag[Map[Int, Seq[(Long, Q)]]])
        : DataFrame = {
      val byBucket: Map[Int, Seq[(Long, Q)]] = queries
        .flatMap { case (qid, q) =>
          centroids.zipWithIndex.sortBy { case (c, _) => -cos(q, c) }
            .take(nprobe).map { case (_, b) => b -> (qid, encode(q, b)) }
        }
        .groupBy(_._1).map { case (b, qs) => b -> qs.map(_._2) }
      val probeLit = typedlit(byBucket)
      val cand = bucketed
        .filter(col("_ivf_bucket").isin(byBucket.keys.toSeq: _*))
        .select(col(idCol), col(scanCol),
          explode(element_at(probeLit, col("_ivf_bucket"))).as("_q"))
        .select(col("_q._1").as("query_id"), col(idCol),
          score(col(scanCol), col("_q._2")).as("cos"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col(idCol).asc)
      cand.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k).drop("_rn")
    }

    /** Batched search: top-k for EVERY query in ONE pass.
      *
      * Per-query `search` pays a full Spark job (schedule + scan) per
      * lookup — fine interactively, wasteful for the batch lookups a
      * pipeline actually does; see [[batchedProbe]] for the plan.
      *
      * Returns (query_id, idCol, cos), top-k per query, ties by id. */
    def searchMany(queries: Seq[(Long, Seq[Double])], k: Int,
                   nprobe: Int = 4): DataFrame =
      batchedProbe[Seq[Float]](queries, k, nprobe,
        (q, _) => q.map(_.toFloat), vecCol,
        (v, q) => cosineNative(bucketed, v, q))

    /** Batched quantized search — [[batchedProbe]]'s plan with the
      * candidate scan over the int8 codes (queries ship as quantized
      * byte literals). The batch shape is where IVF pruning pays, and
      * the i8 scan stacks its 4×-fewer-bytes on top. Requires
      * `withI8 = true` at build. */
    def searchManyI8(queries: Seq[(Long, Seq[Double])], k: Int,
                     nprobe: Int = 4): DataFrame = {
      require(bucketed.columns.contains("_vec_i8"),
        "index built without int8 codes: pass withI8 = true to ivfIndex")
      graft.functions.NativeFunctions.register(bucketed.sparkSession)
      batchedProbe[Array[Byte]](queries, k, nprobe,
        (q, _) => quantizeQuery(q), "_vec_i8",
        (v, q) => call_function("cosine_i8", v, q))
    }

    /** Batched IVFADC: [[batchedProbe]]'s one-pass plan with the
      * candidate scan over the 8-byte residual codes. Every probing
      * (query, bucket) pair's LUT lives in ONE reference double[]
      * inside the scoring expression ([[graft.functions.PQAdcLut]]);
      * the explode carries only a small pair INDEX per candidate —
      * shipping the 16 KB LUT through the rows was measured SLOWER
      * than the i8 batch it should beat. Distance is negated to reuse
      * the shared descending top-k. Stage 2 re-ranks the bounded
      * nq·refineC shortlist by exact cosine: one broadcast join for
      * the vectors, one for the query vectors, one slim window.
      * Returns (query_id, idCol, cos), top-k per query. */
    def searchManyPQ(queries: Seq[(Long, Seq[Double])], k: Int,
                     nprobe: Int = 4, refineC: Int = 200): DataFrame = {
      require(pqCb.isDefined && bucketed.columns.contains("_pq64"),
        "index has no residual PQ codes: call withPQ first")
      require(refineC >= k, "refineC must be at least k")
      val rcb = pqCb.get
      // pair registry filled while batchedProbe enumerates the probes
      // (eager Seq.flatMap, so it is complete before `score` builds
      // the expression)
      val luts = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      val short = batchedProbe[Int](queries, refineC, nprobe,
        (q, b) => {
          luts += PQ.lutFor(rcb,
            q.indices.map(i => q(i) - centroids(b)(i)))
          luts.size - 1
        },
        "_pq64",
        (codeCol, pairCol) => {
          import org.apache.spark.sql.GraftColumnBridge
          val spark0 = bucketed.sparkSession
          -GraftColumnBridge.toColumn(graft.functions.PQAdcLut(
            GraftColumnBridge.toExpr(spark0, codeCol),
            GraftColumnBridge.toExpr(spark0, pairCol),
            rcb.m, rcb.k, luts.toArray.flatten.toIndexedSeq))
        })
      val spark = bucketed.sparkSession
      import spark.implicits._
      val qv = queries.map { case (qid, q) => (qid, q.map(_.toFloat)) }
        .toDF("query_id", "_qv")
      // restrict the re-rank fetch to the probed buckets before the
      // join — the shortlist can only contain probed rows, and the
      // bucket filter prunes cached batches instead of scanning the
      // whole corpus to hash-probe 15k matches
      val allProbed = queries.flatMap { case (_, q) =>
        centroids.zipWithIndex.sortBy { case (c, _) => -cos(q, c) }
          .take(nprobe).map(_._2)
      }.distinct
      val cand = bucketed
        .filter(col("_ivf_bucket").isin(allProbed: _*))
        .join(broadcast(short.select(col("query_id"), col(idCol))),
          Seq(idCol))
        .join(broadcast(qv), Seq("query_id"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col(idCol).asc)
      cand.select(col("query_id"), col(idCol),
          cosineNative(cand, col(vecCol), col("_qv")).as("cos"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k).drop("_rn")
    }

    /** SemDeDup over the index's buckets: the pairwise screen of
      * [[Similarity.semanticDedupExact]] scoped to IVF buckets, so the
      * self-join is an equi-join on the bucket id and cost is
      * Σ_b d_b² over DISTINCT vectors per bucket (identical
      * embeddings — exact-dup documents — collapse to one screened
      * representative first; see the collapse comment in the body) —
      * never n² across the corpus, and immune to clone skew. Near-duplicate pairs
      * that straddle a centroid boundary are missed by design (the
      * SemDeDup recall dial is nlist; SemanticDedupSpec asserts drop
      * recall ≥ 0.9 against the exact screen on the planted corpus).
      * Returns surviving rows with the index bookkeeping columns
      * removed. */
    def semanticDedup(threshold: Double,
                      collapseClones: Boolean = true): DataFrame = {
      val keyed = bucketed.select(col("_ivf_bucket").as("_bk"),
        col(idCol), col(vecCol))
      // Clone collapse (the nearDupDrops argument in embedding space):
      // exact-duplicate documents produce IDENTICAL embeddings, so k
      // clones of one vector cost the bucketed screen C(k,2) cosine
      // pairs just to learn "everyone but the min drops". Collapse
      // them first — one linear shuffle keyed by (bucket, vector) —
      // and screen only one representative (the min id) per distinct
      // vector. Exactness, including at threshold = 1.0 where the
      // FLOAT self-cosine of an identical pair may land just under 1:
      // clones drop iff cos(v,v) >= threshold under the SAME float
      // kernel the pair screen runs (the identical decision the
      // (rep, clone) pair would reach), and a clone group whose
      // self-cosine misses the threshold is left uncollapsed — every
      // member enters the screen exactly as before. Any witness a < b
      // for a screened item b has its group's rep (same vector,
      // id <= a) in the screen, so the drop set is IDENTICAL to the
      // uncollapsed kernel's (asserted in SemanticDedupSpec).
      val (screen, cloneDrops) = if (!collapseClones) {
        (keyed, keyed.filter(lit(false)).select(col(idCol)))
      } else {
        val w = Window.partitionBy(col("_bk"), col(vecCol))
        val m = keyed.withColumn("_rep", min(col(idCol)).over(w))
        val withSelf = m.withColumn("_selfcos",
          cosineNative(m, col(vecCol), col(vecCol)))
        val collapsible = col("_selfcos") >= threshold
        (withSelf.filter(!collapsible || col(idCol) === col("_rep"))
           .select(col("_bk"), col(idCol), col(vecCol)),
         withSelf.filter(collapsible && col(idCol) > col("_rep"))
           .select(col(idCol)))
      }
      val a = screen.select(col("_bk"),
        col(idCol).as("_id_a"), col(vecCol).as("_ea"))
      val b = screen.select(col("_bk"),
        col(idCol).as("_id_b"), col(vecCol).as("_eb"))
      val pairs = a.join(b, Seq("_bk")).filter(col("_id_a") < col("_id_b"))
      val dropped = pairs
        .filter(cosineNative(pairs, col("_ea"), col("_eb")) >= threshold)
        .select(col("_id_b").as(idCol)).union(cloneDrops).distinct()
      bucketed.drop("_ivf_bucket", "_vec_i8", "_pq64")
        .join(dropped, Seq(idCol), "left_anti")
    }

    /** Streaming dedup-on-ingest: arriving vectors that are NOT
      * near-duplicates (cosine ≥ threshold) of the INDEXED corpus —
      * the embedding analogue of
      * [[graft.text.Snapshot.dropSeenDocs]]'s re-crawl filter, and the
      * stream-deploy face of [[semanticDedup]].
      *
      * Stateless plan a stream can run in append mode with no
      * watermark: the arriving vector's bucket is its nearest centroid
      * computed as a PURE expression (per-centroid cosine structs,
      * `array_max` argmax — the centroid table is a literal, nlist·dim
      * floats), then one stream-static LEFT ANTI equi-join on the
      * bucket id with the cosine threshold as the join residual.
      * Candidate volume per arriving vector is its bucket's size —
      * n/nlist, never n. Like [[semanticDedup]], a near-dup straddling
      * a centroid boundary is missed by design (nlist is the recall
      * dial). Within-stream duplicates are NOT deduped — compose with
      * `dropDuplicatesWithinWatermark` for that. */
    /** IVFADC (Jégou §VII): attach residual PQ codes — each vector's
      * `vec − centroid(bucket)` quantized to one 8-byte long by the
      * native residual kernel — and return a new index sharing the
      * coarse centroids. The residual codebook is Lloyd-trained on
      * (sampled) float residuals; the per-row centroid rides as ONE
      * typed literal (no join). Composes the two biggest ANN levers:
      * bucket pruning touches n·nprobe/nlist rows, and each touched
      * row is 8 bytes instead of 4·dim. */
    def withPQ(m: Int = 8, k: Int = 256, iters: Int = 2,
               sampleFraction: Double = 1.0): IvfIndex = {
      val centsSeq: Seq[Seq[Double]] = centroids.map(_.toSeq).toSeq
      val centCol = element_at(typedlit(centsSeq), col("_ivf_bucket") + 1)
      val resDf = bucketed.select(col(idCol).as("_rid"),
        zip_with(col(vecCol), centCol,
          (a, b) => (a.cast("double") - b).cast("float")).as("_res"))
      val rcb = PQ.fitLloyd(resDf, "_rid", "_res", m, k, iters,
        sampleFraction)
      val coded = PQ.encodeResidualPacked(bucketed, vecCol, centCol, rcb,
        "_pq64").persist()
      new IvfIndex(coded, centroids, vecCol, idCol, Some(rcb))
    }

    /** IVFADC search: rank buckets on the driver (asymmetric, full
      * precision), scan ONLY the probed buckets' 8-byte residual codes
      * with a per-bucket LUT built from `query − centroid(bucket)`,
      * shortlist `refineC` by ADC distance, then re-rank just those
      * full vectors by exact cosine (broadcast semi-join — the scan
      * itself never reads the f32 column). Output schema matches
      * [[search]]/[[searchI8]]: (id, cos). */
    def searchPQ(query: Seq[Double], k: Int, nprobe: Int = 4,
                 refineC: Int = 200): DataFrame = {
      require(pqCb.isDefined && bucketed.columns.contains("_pq64"),
        "index has no residual PQ codes: call withPQ first")
      require(refineC >= k, "refineC must be at least k")
      val rcb = pqCb.get
      val probeIds = centroids.zipWithIndex
        .sortBy { case (c, _) => -cos(query, c) }
        .take(nprobe).map(_._2)
      val ad2 = probeIds.foldLeft(lit(Double.MaxValue)) { (acc, b) =>
        val resQ = query.indices.map(i => query(i) - centroids(b)(i))
        when(col("_ivf_bucket") === b,
          PQ.adcDistFromLut(col("_pq64"), rcb,
            PQ.lutFor(rcb, resQ).toIndexedSeq))
          .otherwise(acc)
      }
      // codes-only shortlist scan (column pruning keeps the f32 column
      // out of this pass), then a BOUNDED driver round-trip of refineC
      // ids feeds an InSet filter for the re-rank — one job fewer than
      // a broadcast semi-join, and the fetch stays probed-bucket-bounded
      val shortIds = bucketed
        .filter(col("_ivf_bucket").isin(probeIds: _*))
        .select(col(idCol), ad2.as("_ad2"))
        .orderBy(col("_ad2").asc, col(idCol).asc)
        .limit(refineC)
        .select(col(idCol))
        .collect().map(_.get(0))
      val cands = bucketed
        .filter(col("_ivf_bucket").isin(probeIds: _*))
        .filter(col(idCol).isInCollection(shortIds))
      val q = array(query.map(v => lit(v.toFloat)): _*)
      cands.select(col(idCol),
          cosineNative(cands, col(vecCol), q).as("cos"))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)
    }

    def dropSeenVectors(stream: DataFrame, streamIdCol: String,
                        streamVecCol: String,
                        threshold: Double): DataFrame = {
      val cents = centroids.zipWithIndex.map { case (c, i) =>
        struct(cosineNative(stream, col(streamVecCol),
          array(c.map(v => lit(v.toFloat)): _*)).as("c"),
          lit(i).as("i"))
      }
      val bucket = array_max(array(cents: _*)).getField("i")
      val probed = stream.withColumn("_bk", bucket)
      val staticSide = bucketed.select(col("_ivf_bucket").as("_bk_s"),
        col(vecCol).as("_v_s"))
      probed.join(staticSide,
          col("_bk") === col("_bk_s") &&
            cosineNative(probed, col(streamVecCol), col("_v_s")) >= threshold,
          "left_anti")
        .drop("_bk")
    }

    def unpersist(): Unit = bucketed.unpersist()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop semantic
    * near-duplicate embeddings, keeping one representative per
    * duplicate neighborhood. Greedy upper-triangle policy with id
    * order as the deterministic priority: a vector is DROPPED iff
    * some LOWER-id vector in the candidate scope has cosine ≥
    * threshold with it (the paper screens the upper triangle of each
    * cluster's similarity matrix the same way — note this is greedy,
    * not transitive: a vector can be dropped for resembling an
    * already-dropped one).
    *
    * This exact variant scopes candidates to ALL pairs — the
    * oracle-checkable baseline (semantic_dedup entry). The corpus
    * path is [[IvfIndex.semanticDedup]], which scopes the screen to
    * KMeans buckets. Returns surviving input rows unchanged. */
  def semanticDedupExact(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val a = spreadForPairScan(
      df.select(col(idCol).as("_id_a"), col(vecCol).as("_ea")))
    val b = df.select(col(idCol).as("_id_b"), col(vecCol).as("_eb"))
    val pairs = a.join(b, col("_id_a") < col("_id_b"))
    val dropped = pairs
      .filter(cosineNative(pairs, col("_ea"), col("_eb")) >= threshold)
      .select(col("_id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding-space decontamination — the semantic complement of
    * [[graft.text.Decontaminate]]'s k-gram screen: a training vector is
    * contaminated iff its cosine against ANY benchmark/eval vector
    * reaches `threshold` (paraphrased eval leakage that exact n-gram
    * overlap misses). Returns every training row with `max_eval_cos`
    * (the evidence column — tune the threshold from its distribution)
    * and the `contaminated` flag; [[dropContaminatedVectors]] is the
    * filtering face.
    *
    * Plan shape for 100 TB: eval sets are small by nature (thousands of
    * rows), so the eval side BROADCASTS and the corpus streams through
    * one n×m nested-loop expansion that collapses in a
    * partial-aggregable `max` — map-side combine, the only shuffle is
    * the per-id aggregation merge, identical to [[assignToCentroids]].
    * The flag compares the UNROUNDED max (round only for display): both
    * engines fold the same doubles in the same index order, so the
    * comparison is IEEE-exact. An empty eval set contaminates nothing
    * (max_eval_cos NULL, flag false). */
  def semanticDecontam(train: DataFrame, evalDf: DataFrame,
                       idCol: String, vecCol: String, evalVecCol: String,
                       threshold: Double): DataFrame = {
    val ev = broadcast(evalDf.select(col(evalVecCol).as("_ev")))
    val x = train.select(col(idCol), col(vecCol)).crossJoin(ev)
    val scored = x
      .withColumn("_cos", cosineNative(x, col(vecCol), col("_ev")))
      .groupBy(col(idCol)).agg(max(col("_cos")).as("max_eval_cos"))
    train.join(scored, Seq(idCol), "left")
      .withColumn("contaminated",
        coalesce(col("max_eval_cos") >= threshold, lit(false)))
  }

  /** Kernelized [[semanticDecontam]] — same inputs, same output schema,
    * bit-identical doubles, different physical plan: the eval matrix is
    * COLLECTED (bounded — eval sets are driver-small by nature) and
    * rides as one reference double[] inside the native
    * `max_cosine_f32` codegen expression, so the screen is a single
    * whole-stage-codegen projection over the corpus. No n×m row
    * expansion, no join, no shuffle at all — the DECONTAM scale probe
    * measured the join path super-linear under memory pressure (8.5×
    * wall at 4× corpus) while this kernel is embarrassingly linear.
    * Use the join form only when the eval set is itself too large to
    * collect (then it isn't an eval set). */
  def semanticDecontamKernel(train: DataFrame, evalDf: DataFrame,
                             idCol: String, vecCol: String,
                             evalVecCol: String,
                             threshold: Double): DataFrame = {
    val evs = evalDf.select(col(evalVecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    if (evs.isEmpty)
      return train.withColumn("max_eval_cos", lit(null).cast("double"))
        .withColumn("contaminated", lit(false))
    val dim = evs.head.length
    require(evs.forall(_.length == dim),
      "eval vectors must share one dimensionality")
    val expr = graft.functions.MaxCosineF32(
      org.apache.spark.sql.GraftColumnBridge.toExpr(train.sparkSession,
        col(vecCol)),
      evs.flatten.toIndexedSeq, dim)
    train.withColumn("max_eval_cos",
        org.apache.spark.sql.GraftColumnBridge.toColumn(expr))
      .withColumn("contaminated",
        coalesce(col("max_eval_cos") >= threshold, lit(false)))
  }

  /** Training rows surviving the [[semanticDecontam]] screen, evidence
    * columns removed — the drop-in cleaning step. */
  def dropContaminatedVectors(train: DataFrame, evalDf: DataFrame,
                              idCol: String, vecCol: String,
                              evalVecCol: String,
                              threshold: Double): DataFrame =
    semanticDecontam(train, evalDf, idCol, vecCol, evalVecCol, threshold)
      .filter(!col("contaminated"))
      .drop("max_eval_cos", "contaminated")

  /** Nearest-centroid assignment against a small centroid table — the
    * deploy half of a KMeans fit (or any fixed centroid artifact: the
    * `ivfIndex` centroids, a seed subset, an externally trained
    * codebook). Plan shape for 100 TB: the K centroids BROADCAST, the
    * corpus streams through one n×K nested-loop expansion, and the
    * argmax collapses in a partial-aggregable `max(struct)` — map-side
    * combine, no window, the only shuffle is the K-bounded final
    * aggregation merge. Ties (exactly equal cosines) break to the
    * lowest centroid id via the negated-id struct field.
    *
    * Returns (idCol, cluster, cos) — cos is the similarity to the OWN
    * centroid, so downstream selection can rank "most prototypical
    * first". */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, cidCol: String,
                        cvecCol: String): DataFrame = {
    val cts = centroids.select(col(cidCol).cast("long").as("_cid"),
      col(cvecCol).as("_cvec"))
    val expanded = df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cts))
    expanded
      .withColumn("_cos", cosineNative(expanded, col(vecCol), col("_cvec")))
      .groupBy(col(idCol))
      .agg(max(struct(col("_cos").as("c"), (-col("_cid")).as("n"))).as("_b"))
      .select(col(idCol), (-col("_b.n")).cast("int").as("cluster"),
        col("_b.c").as("cos"))
  }

  /** Literal-codebook variant of [[assignToCentroids]]: the argmax is
    * a PURE projection (per-centroid cosine structs, `array_max` over
    * (cos, −cid) — same lowest-id tie-break), so it keeps every input
    * column, adds `cluster`/`cos`, and runs UNCHANGED on a streaming
    * DataFrame in append mode — no aggregation, no state store, no
    * watermark: the cluster-assignment analogue of
    * [[IvfIndex.dropSeenVectors]]'s stateless deploy. Use when the
    * codebook is driver-resident (K·dim floats — it always is); the
    * DataFrame-codebook form exists for codebooks that live in the
    * Catalog. Bit-equal to [[assignToCentroids]] by construction:
    * same per-centroid cosine fold, same tie rule. */
  def assignToCentroidsExpr(df: DataFrame, vecCol: String,
                            centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "codebook must be non-empty")
    val cs = centroids.map { case (cid, v) =>
      struct(cosineNative(df, col(vecCol),
        array(v.map(x => lit(x.toFloat)): _*)).as("c"),
        lit(-cid).as("n"))
    }
    df.withColumn("_b", array_max(array(cs: _*)))
      .withColumn("cluster", (-col("_b.n")).cast("int"))
      .withColumn("cos", col("_b.c"))
      .drop("_b")
  }

  /** Cluster-balanced selection — the cluster-diversity data-curation
    * step (DoReMi/DSIR-adjacent: balance the training mix across
    * semantic clusters instead of raw sources): assign every vector to
    * its nearest centroid, then spend a GLOBAL row budget across
    * clusters by α-temperature weights (n_c^α — α = 1 natural, α = 0
    * uniform, between up-weights rare clusters), keeping each
    * cluster's most-prototypical (cos desc, id asc) rows first.
    * Composes [[assignToCentroids]] with the token-budget mixer's
    * selection rule — one broadcast pass + one keyed window, nothing
    * corpus-squared. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, cidCol: String,
                            cvecCol: String, totalRows: Long,
                            alpha: Double): DataFrame = {
    // cut: the temperature mixer reads its input twice (weight table,
    // selection window) through different exchanges, and the
    // assignment is the expensive n×K pass — cut to the narrow
    // (id, cluster, cos) table it runs ONCE (measured 13.4 → ~7 s at
    // 2M vectors)
    val assigned = graft.core.Cut.of(assignToCentroids(df, idCol, vecCol,
        centroids, cidCol, cvecCol)
      .withColumn("_one", lit(1L))
      .withColumn("_src", concat(lit("c"), col("cluster"))),
      graft.core.Cut.Reread)
    graft.text.Quality.selectByTokenBudgetTemperature(assigned, idCol,
        "_src", "cos", "_one", totalRows, alpha)
      .select(col(idCol), col("cluster"), col("cos"))
  }

  /** Build an IVF index over an array<float> embedding column.
    *
    * `maxIter` bounds the KMeans refinement: centroid quality affects
    * only probe *recall* at nprobe < nlist (bucket-count balance), never
    * result correctness — a full probe (nprobe = nlist) is exact under
    * any clustering, so cheap index builds are safe.
    *
    * `fitFraction` < 1 fits the centroids on a seeded sample and then
    * bucket-assigns the FULL corpus in one pass — the only sane build
    * at 10⁸+ vectors (KMeans cost is iterations × n × nlist × dim;
    * assignment is one pass). Sampling again only moves recall, never
    * correctness.
    *
    * The bucketed table is hash-repartitioned on the bucket id and
    * sorted within partitions before caching: cached batches become
    * bucket-homogeneous, so the in-memory scan's per-batch min/max
    * stats prune non-probed buckets instead of filtering row by row —
    * the cache-layout analogue of partition pruning. */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, seed: Long = 42L, maxIter: Int = 8,
               fitFraction: Double = 1.0,
               withI8: Boolean = false): IvfIndex = {
    import org.apache.spark.ml.functions.array_to_vector
    require(fitFraction > 0.0 && fitFraction <= 1.0,
      s"fitFraction must be in (0, 1], got $fitFraction")
    if (withI8) graft.functions.NativeFunctions.register(df.sparkSession)
    val base = if (withI8)
      df.withColumn("_vec_i8", call_function("quantize_i8", col(vecCol)))
    else df
    val withVec = base.withColumn("_v", array_to_vector(col(vecCol)))
    val fitOn = if (fitFraction < 1.0) {
      val s = withVec.sample(fitFraction, seed)
      // a sample smaller than nlist cannot seed nlist centroids: fall
      // back to the full set instead of an obscure MLlib failure
      // (limit(nlist).count() touches at most nlist+ rows)
      if (s.limit(nlist).count() < nlist) withVec else s
    } else withVec
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("_v")
      .setMaxIter(maxIter)
      .setPredictionCol("_ivf_bucket")
    val model = km.fit(fitOn)
    val bucketed = model.transform(withVec).drop("_v")
      .repartition(col("_ivf_bucket"))
      .sortWithinPartitions("_ivf_bucket")
      .persist()
    new IvfIndex(bucketed, model.clusterCenters.map(_.toArray), vecCol, idCol)
  }

  /** Deterministic pseudo-random hyperplane component h_{p,i} in [-1,1]
    * derived from xxhash64 — no RNG state, same plane set on every
    * executor and engine. */
  private def plane(p: Int, dim: Int): Column =
    array((0 until dim).map { i =>
      (xxhash64(lit(p * 10007 + i)).cast("double") / lit(Long.MaxValue.toDouble))
    }: _*)

  /** LSH bucket key: sign bits of `nPlanes` random-hyperplane dots.
    * Vectors in the same bucket are near in angle with high
    * probability. */
  def lshBucket(vecCol: Column, dim: Int, nPlanes: Int = 8): Column =
    aggregate(
      array((0 until nPlanes).map { p =>
        when(dot(vecCol, plane(p, dim)) > 0,
          shiftleft(lit(1L), p)).otherwise(lit(0L))
      }: _*),
      lit(0L), (acc, v) => acc.bitwiseOR(v))

  /** All-pairs near-neighbor join restricted to shared LSH buckets:
    * returns (id_a, id_b, cos) with id_a < id_b and cos >= threshold.
    * Shuffle cost ∝ bucket sizes, not n².
    *
    * OR-amplified across `nTables` independent hash tables (each with
    * its own `nPlanes` hyperplanes): a pair is a candidate if it
    * collides in ANY table, so recall for a pair at angle θ is
    * 1 − (1 − p^nPlanes)^nTables with p = 1 − θ/π. One 4-plane table
    * alone recalls only ~77% of cosine-0.98 pairs; 8 tables push that
    * past 0.9999. Candidates are verified with the exact cosine, so
    * precision (vs the brute-force pair set at the same threshold) is
    * 1.0 by construction — the dial trades recall against candidate
    * volume only. Scale dials: more planes → 2^nPlanes smaller buckets
    * (raise for bigger corpora), more tables → recall back up;
    * DedupRecallSpec asserts recall ≥ 0.9 against the exact n² join. */
  def lshCosineJoin(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    nPlanes: Int = 4, nTables: Int = 8,
                    threshold: Double = 0.8): DataFrame = {
    val tables = array((0 until nTables).map { t =>
      struct(lit(t).as("t"),
        aggregate(
          array((0 until nPlanes).map { p =>
            when(dot(col("_v"), plane(t * nPlanes + p, dim)) > 0,
              shiftleft(lit(1L), p)).otherwise(lit(0L))
          }: _*),
          lit(0L), (acc, v) => acc.bitwiseOR(v)).as("h"))
    }: _*)
    val bucketed = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .select(col("_id"), col("_v"), explode(tables).as("_bucket"))
    // no cut: the bucket rows are a row-local explode of the input
    // (a few hyperplane dots per row), which each join leg recomputes
    // in its own scan tasks rather than copying every vector to blocks
    // distinct per-leg attribute names so the bucket equi-join never
    // leans on Spark's self-join disambiguation heuristic
    val a = bucketed.select(col("_id").as("id_a"), col("_v").as("_va"),
      col("_bucket").as("_bucket_a"))
    val b = bucketed.select(col("_id").as("id_b"), col("_v").as("_vb"),
      col("_bucket").as("_bucket_b"))
    a.join(b, col("_bucket_a") === col("_bucket_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineNative(df, col("_va"), col("_vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }
}
