package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Cut
import graft.functions.MinHashExpressions

/** Document deduplication — exact, MinHash/LSH, SimHash, n-gram
  * Jaccard (north-star training-data-pipeline operators).
  *
  * Scale design: every variant is bounded-shuffle —
  *  - exact: one groupBy on a 128-bit hash;
  *  - MinHash: signatures are per-row expressions (no shuffle), banding
  *    turns the O(n²) pair search into groupBys on band keys;
  *  - SimHash: per-row 64-bit sketch + prefix-band self-join;
  *  - verification joins only touch candidate pairs.
  */
object Dedup {

  /** Exact duplicate groups by content hash: one row per distinct text
    * with multiplicity and canonical (min) id.
    * Reference: `handle_duplicates` (quality.py:4677) on text. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))

  /** Drop exact duplicates, keeping the min-id row per text. */
  def dropExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary")))
      .orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** k-word shingles of a text column → array<string>. */
  def shingles(c: Column, k: Int = 3): Column = {
    val toks = TextFns.tokens(c)
    filter(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => when(size(toks) >= k,
          concat_ws(" ", slice(toks, i + 1, lit(k))))),
      s => s.isNotNull)
  }

  /** Distinct k-word shingles, one row per (id, shingle), built with
    * codegen'd operators: posexplode tokens, then concat with lead()
    * windows — the array-HOF shingle constructor is interpreted and
    * dominates corpus-scale runs. One shuffle on the id. The shingle
    * ROWS are what n-gram Jaccard and decontamination join on;
    * MinHash needs no shingle rows ([[minhashSignatures]]). */
  def shinglesExploded(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("_id"),
      posexplode(TextFns.tokens(col(textCol))).as(Seq("_p", "_t")))
    val w = Window.partitionBy("_id").orderBy("_p")
    val parts = (0 until k).map(i =>
      if (i == 0) col("_t") else lead(col("_t"), i).over(w))
    toks.withColumn("_sh", concat_ws(" ", parts: _*))
      .withColumn("_last", parts.last)
      .filter(col("_last").isNotNull)
      .select("_id", "_sh").distinct()
  }

  /** Corpus-scale MinHash signatures on the xxhash64 family: one
    * row-local `minhash_sig` projection over the row's tokens
    * ([[graft.functions.MinHashSig]]), so the hashing runs in the
    * scan's tasks and nothing is shuffled. A row with fewer than
    * `shingleK` tokens has no shingle and no signature. Output:
    * (_id, _sig array<long>), one row per signed input row — the id
    * column is a key. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleK: Int): DataFrame =
    signatures(df, idCol, textCol, numHashes, shingleK, "xxhash")

  /** Engine-portable 60-bit hash: the top 60 bits of md5 (the native
    * `md5_60`, [[graft.functions.Md5Sixty]]) — reproducible in ANY
    * engine with an md5 built-in (DuckDB:
    * `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`), unlike xxhash64
    * which is Spark-internal. The one definition every oracle-checked
    * hash goes through. */
  def md5Hash64(c: Column): Column = MinHashExpressions.md5_60(c.cast("binary"))

  /** [[minhashSignatures]] on the portable md5 hash family: the
    * shingle hash is [[md5Hash64]] of the shingle and seed j hashes
    * `"<j>_" ‖ decimal(h)` the same way, so every signature is
    * replayable in SQL. Same row-local plan. */
  def minhashSignaturesPortable(df: DataFrame, idCol: String, textCol: String,
                                numHashes: Int, shingleK: Int): DataFrame =
    signatures(df, idCol, textCol, numHashes, shingleK, "md5")

  private def signatures(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int, shingleK: Int,
                         family: String): DataFrame =
    df.select(col(idCol).as("_id"),
        MinHashExpressions.minhashSig(TextFns.tokens(col(textCol)),
          shingleK, numHashes, family).as("_sig"))
      .filter(col("_sig").isNotNull)

  /** Candidate near-duplicate pairs via LSH banding: rows sharing any
    * band (contiguous signature slice) hash are candidates; candidates
    * are verified with exact signature similarity >= `threshold`.
    *
    * bands*rowsPerBand must equal numHashes. Returns (id_a, id_b,
    * sig_similarity) with id_a < id_b. The heavy O(n²) compare never
    * happens: the join key is the band hash.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 32, bands: Int = 8,
                   threshold: Double = 0.6, shingleK: Int = 3): DataFrame =
    minhashPairsFromSigs(
      minhashSignatures(df, idCol, textCol, numHashes, shingleK),
      numHashes, bands, threshold)

  /** [[minhashPairs]] over the portable md5 hash family — the
    * oracle-checked variant (band-hash collisions could in principle
    * admit an extra candidate the oracle's true-band-equality test
    * would not, at ~2⁻⁶⁴ per pair; candidates are exact-verified by
    * sig_sim either way). */
  def minhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 32, bands: Int = 8,
                           threshold: Double = 0.6, shingleK: Int = 3): DataFrame =
    minhashPairsFromSigs(
      minhashSignaturesPortable(df, idCol, textCol, numHashes, shingleK),
      numHashes, bands, threshold)

  /** The LSH band membership of a signature array: one
    * (band-index, band-hash) struct per contiguous slice. The single
    * definition both the self-join ([[minhashPairsFromSigs]]) and the
    * cross-corpus join ([[Snapshot.crossCorpusNearDupPairs]]) key on —
    * a banding fix must reach every consumer at once. */
  private[text] def bandStructs(sig: Column, bands: Int,
                                rowsPer: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPer + 1, rowsPer)).as("bh"))
    }: _*)

  /** Exact signature similarity of two equal-length signature arrays
    * — the verification stage shared by every banding consumer. */
  private[text] def sigSimilarity(a: Column, b: Column,
                                  numHashes: Int): Column =
    size(filter(zip_with(a, b,
      (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
      .cast("double") / lit(numHashes)

  /** Banding + exact-verification stage shared by the hash families. */
  def minhashPairsFromSigs(sigDf: DataFrame, numHashes: Int, bands: Int,
                           threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPer = numHashes / bands
    // no cut: the signatures are row-local (one native expression per
    // row), so each side of the self-join recomputes them in its own
    // scan tasks rather than copying every signature to blocks
    // (measured at ×4: drop_near_dups no slower without it)
    val banded = sigDf.select(col("_id"), col("_sig"),
      explode(bandStructs(col("_sig"), bands, rowsPer)).as("_band"))
    // distinct attribute names per leg: the join key must never rely on
    // Spark's self-join disambiguation heuristic — if both sides ever
    // resolved to the same attribute the band equi-join would silently
    // degenerate to an n² scan (correct rows, catastrophic plan)
    val a = banded.select(col("_id").as("id_a"), col("_sig").as("_sig_a"),
      col("_band").as("_band_a"))
    val b = banded.select(col("_id").as("id_b"), col("_sig").as("_sig_b"),
      col("_band").as("_band_b"))
    a.join(b, col("_band_a") === col("_band_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        sigSimilarity(col("_sig_a"), col("_sig_b"), numHashes)
          .as("sig_sim"))
      .distinct()
      .filter(col("sig_sim") >= threshold)
  }

  /** Corpus-scale 64-bit SimHash: one xxhash64 word per token through
    * the lane-packed [[sketches]] builder. Output: (_id, _sh). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    sketches(df, idCol, textCol, Seq(t => xxhash64(t)), bitsPerWord = 64)
      .select(col("_id"), col("_s0").as("_sh"))

  /** 60-bit SimHash on the portable md5 hash family ([[md5Hash64]]
    * per token, same [[sketches]] builder). Every step is replayable
    * in SQL, so the paired query gets a full oracle. Output:
    * (_id, _sh). */
  def simhashesPortable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    sketches(df, idCol, textCol, Seq(t => md5Hash64(t)), bitsPerWord = 60)
      .select(col("_id"), col("_s0").as("_sh"))

  /** 256-bit SimHash — the text sibling of
    * [[graft.mm.Multimodal.imageDHash256]], retiring even the WIDE
    * kernels' ~2^25 knee: FOUR independent 64-bit xxhash words per
    * token (word w hashes (w, token)), each majority-folded by
    * [[sketches]], emitted as four 64-bit signature words. Near-dup
    * joins key on whole words, so random band collisions fall to
    * ~4n²/2^64 — no birthday term at any feasible corpus size and no
    * ball enumeration. The match criterion tightens with the bits
    * (hamming 3/256 vs 3/64): right for dedup-before-training; raise
    * maxHamming consciously for heavier edits. Output: (_id, _s0.._s3). */
  def simhashes256(df: DataFrame, idCol: String, textCol: String): DataFrame =
    sketches(df, idCol, textCol,
      (0 until 4).map(w => (t: Column) => xxhash64(lit(w), t)),
      bitsPerWord = 64)

  /** [[simhashes256]] on the portable md5 family — four salted 60-bit
    * words (word w hashes "sh256_w_" ++ token), every step replayable
    * in SQL so the paired query gets a full oracle. 240 signature
    * bits; same no-knee join geometry (collisions ~4n²/2^60). */
  def simhashes256Portable(df: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    sketches(df, idCol, textCol,
      (0 until 4).map(w => (t: Column) => md5Hash64(concat(lit(s"sh256_${w}_"), t))),
      bitsPerWord = 60)

  /** The one SimHash builder: explode tokens, hash each token once per
    * word (`wordHashes(w)`, in a codegen'd projection), then count set
    * bits per position with LANE-PACKED sums — three 21-bit counters
    * per long, so ⌈bitsPerWord/3⌉ sums per word (22 for 64 bits, 20
    * for 60) instead of bitsPerWord; bit i of a word lives in sum
    * i mod perSum, lane i div perSum. 21-bit fields keep the packed SUM
    * inside int64 under ANSI: a 16-bit 4-lane pack overflowed once a
    * doc repeated a lane-3 bit >32767 times, while the 21-bit
    * worst-case sum (65535·(2^42+2^21+1) ≈ 2.9e17) stays far inside
    * for every guard-valid document. The majority rule
    * bitSum_i > 0 becomes 2·setCount_i > n. Output:
    * (_id, _s0 … _s{words−1}). */
  private def sketches(df: DataFrame, idCol: String, textCol: String,
                       wordHashes: Seq[Column => Column],
                       bitsPerWord: Int): DataFrame = {
    val lanes = 3
    val fieldBits = 21
    val perSum = (bitsPerWord + lanes - 1) / lanes
    val words = wordHashes.indices
    val exploded = df.select(col(idCol).as("_id"),
      explode(TextFns.tokens(col(textCol))).as("_t"))
    val withH = words.foldLeft(exploded)((d, w) =>
      d.withColumn(s"_h$w", wordHashes(w)(col("_t"))))
    val packSums = for (w <- words; b <- 0 until perSum) yield {
      val live = (0 until lanes).filter(l => b + perSum * l < bitsPerWord)
      val packed = live.map { lane =>
        shiftleft(shiftright(col(s"_h$w"), b + perSum * lane)
          .bitwiseAND(1L), fieldBits * lane)
      }.reduce(_ + _)
      sum(packed).as(s"_p${w}_$b")
    }
    val aggsAll = packSums :+ count(lit(1)).as("_n")
    val withCounts = withH.groupBy("_id").agg(aggsAll.head, aggsAll.tail: _*)
    val sigs = words.map { w =>
      (0 until bitsPerWord).map { i =>
        val b = i % perSum; val lane = i / perSum
        val setCount = shiftright(col(s"_p${w}_$b"), fieldBits * lane)
          .bitwiseAND((1L << fieldBits) - 1)
        when(setCount * 2 > col("_n"), lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }
    // the token-count guard raises once per row (word 0 carries it)
    withCounts.select(col("_id") +: laneGuard(sigs.head).as("_s0") +:
      words.tail.map(w => sigs(w).as(s"_s$w")): _*)
  }

  /** The packed-lane counters hold 21 bits each but the sign rule is
    * only meaningful for n ≤ 65535 (and a >65k-token "document" is
    * itself a quality signal) — raise instead of sketching it (split
    * such outliers upstream). */
  private def laneGuard(sh: Column): Column =
    when(col("_n") > lit(65535L),
      raise_error(concat(lit("simhash: document "), col("_id").cast("string"),
        lit(" has more than 65535 tokens; above this cap the majority " +
          "sign rule is unreliable — split the document upstream")))).otherwise(sh)

  /** Near-duplicate candidates by SimHash: rows sharing any of four
    * 16-bit bands of the 64-bit sketch, verified by Hamming distance
    * <= maxHamming. Complete for Hamming < 4 (pigeonhole over the 4
    * bands); candidates at larger distances are best-effort, so a
    * `maxHamming` above 3 widens the VERIFIED band but not the
    * guaranteed candidate recall. Output: (id_a, id_b, hamming). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 8): DataFrame =
    bandPairs(simhashes(df, idCol, textCol), bandBits = 16, maxHamming)

  /** [[simhashPairs]] over the portable 60-bit md5 sketch: four
    * 15-bit bands, the oracle-checked variant, with the same recall
    * guarantee. */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 8): DataFrame =
    bandPairs(simhashesPortable(df, idCol, textCol), bandBits = 15, maxHamming)

  /** The 4-band pair kernel of [[simhashPairs]] and
    * [[simhashPairsPortable]]: each (_id, _sh) sketch explodes into
    * four `bandBits`-wide bands, rows sharing a (band, value) pair
    * join, and candidates are verified by Hamming distance. */
  private def bandPairs(sk: DataFrame, bandBits: Int,
                        maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1L
    val banded = sk.select(col("_id"), col("_sh"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("_sh"), b * bandBits).bitwiseAND(mask).as("bh"))
      }: _*)).as("_band"))
    // per-leg attribute names — see minhashPairsFromSigs
    val a = banded.select(col("_id").as("id_a"), col("_sh").as("_sha"),
      col("_band").as("_band_a"))
    val b = banded.select(col("_id").as("id_b"), col("_sh").as("_shb"),
      col("_band").as("_band_b"))
    val hamming = bit_count(col("_sha").bitwiseXOR(col("_shb")))
    a.join(b, col("_band_a") === col("_band_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Wide-band SimHash pair kernel shared by [[simhashPairsWide]] and
    * [[simhashPairsPortableWide]]: multi-index hashing over TWO
    * (bits/2)-wide sketch halves, enumerating the radius-1 Hamming
    * ball of the lower-id side's half-key (Norouzi, Punjani & Fleet,
    * "Fast Search in Hamming Space with Multi-Index Hashing", CVPR
    * 2012). A pair within Hamming ≤ 3 has ≤ 1 differing bit in at
    * least one half (pigeonhole over 2 substrings), so the exact
    * equi-join on (band, variant) finds every such pair — the same
    * ≤ 3 completeness the 16-bit bands give, while the 2^(bits/2) key
    * space pushes the band-bucket birthday knee from ~2^16 items out
    * to ~2^(bits/2) (SCALE.md records the 16-bit knee at ~65k items).
    * Candidates at larger distances remain best-effort, exactly the
    * [[simhashPairs]] contract. Cost: a (1 + bits/2)× linear
    * probe-side explode; no all-pairs step. */
  private def wideBandPairs(sk: DataFrame, bits: Int,
                            maxHamming: Int): DataFrame = {
    require(bits % 2 == 0 && bits <= 64, s"bits must be even <= 64, got $bits")
    val half = bits / 2
    val mask = (1L << half) - 1L
    val keyed = sk.select(col("_id"), col("_sh"),
      col("_sh").bitwiseAND(mask).as("_k0"),
      shiftright(col("_sh"), half).bitwiseAND(mask).as("_k1"))
    val build = (0 until 2).map { k =>
      keyed.select(col("_id"), col("_sh"), lit(k).as("_band"),
        col(s"_k$k").as("_key"))
    }.reduce(_ unionByName _)
    val probe = build.select(col("_id"), col("_sh"), col("_band"),
      explode(array((col("_key") +:
        (0 until half).map(i => col("_key").bitwiseXOR(lit(1L << i)))): _*))
        .as("_key"))
    // per-leg attribute names — see minhashPairsFromSigs
    val a = probe.select(col("_id").as("id_a"), col("_sh").as("_sha"),
      col("_band").as("_band_a"), col("_key").as("_key_a"))
    val b = build.select(col("_id").as("id_b"), col("_sh").as("_shb"),
      col("_band").as("_band_b"), col("_key").as("_key_b"))
    val hamming = bit_count(col("_sha").bitwiseXOR(col("_shb")))
    a.join(b, col("_band_a") === col("_band_b") &&
        col("_key_a") === col("_key_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** [[simhashPairsPortable]]'s scale path past the 15-bit band
    * birthday knee: the same portable 60-bit md5 sketch through
    * [[wideBandPairs]] (2×30-bit halves, radius-1 balls). Complete
    * for Hamming ≤ 3; fully oracle-replayable — the candidate rule is
    * "either 30-bit half within Hamming 1", a closed form any SQL
    * engine can brute-force. */
  def simhashPairsPortableWide(df: DataFrame, idCol: String, textCol: String,
                               maxHamming: Int = 8): DataFrame =
    wideBandPairs(simhashesPortable(df, idCol, textCol), 60, maxHamming)

  /** [[simhashPairs]]'s scale path past the 16-bit band birthday
    * knee: the xxhash64 64-bit sketch through [[wideBandPairs]]
    * (2×32-bit halves, radius-1 balls). Complete for Hamming ≤ 3. */
  def simhashPairsWide(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 8): DataFrame =
    wideBandPairs(simhashes(df, idCol, textCol), 64, maxHamming)

  /** Near-dup pairs over the 240-bit portable signature through the
    * SAME width-agnostic 4-band kernel as the media path
    * ([[graft.mm.Multimodal.bandedNearDups]]): complete for
    * hamming < 4 by pigeonhole; past 3 the candidate rule stays
    * "some whole word matches" (the [[simhashPairsPortable]]
    * best-effort convention — the paired oracle replays exactly that
    * rule, so correctness is exact even where recall is best-effort).
    * Output: (id_a, id_b, hamming). */
  def simhashPairs256Portable(df: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3): DataFrame =
    pairs256(simhashes256Portable(df, idCol, textCol), maxHamming)

  /** [[simhashPairs256Portable]]'s corpus-scale xxhash twin (256
    * bits). */
  def simhashPairs256(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    pairs256(simhashes256(df, idCol, textCol), maxHamming)

  private def pairs256(sigs: DataFrame, maxHamming: Int): DataFrame =
    graft.mm.Multimodal.bandedNearDups(
      sigs.select(col("_id").as("media_id"),
        lit(true).as("ok"), col("_s0").as("b0"), col("_s1").as("b1"),
        col("_s2").as("b2"), col("_s3").as("b3")),
      maxHamming, allowWeak = maxHamming > 3)

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    * components by iterative min-label propagation. The missing last
    * stage of the dedup pipeline — `minhashPairs`/`simhashPairs`/
    * `ngramJaccardPairs` emit edges; keeping one document per
    * component is what actually deduplicates a corpus
    * (handle_duplicates 'drop' semantics, quality.py:4677, lifted to
    * the transitive-closure case).
    *
    * Each iteration: every node takes the min of its own label and its
    * neighbors' labels — two shuffles (join + groupBy), both keyed, no
    * cartesian. Converges in O(component diameter) rounds; dedup
    * graphs are near-cliques (diameter ≤ ~3), so the loop is short
    * regardless of corpus size. A [[graft.core.Cut]] per round keeps
    * plan depth constant across iterations; the convergence probe is
    * a count aggregate (O(1) to the driver). At 1000-executor scale
    * the same loop holds — state is one (id, comp) row per node,
    * edges are reused from cache, and per-round cost is bounded by
    * |edges|. (The alternating large-star/small-star variant halves
    * rounds on pathological chains; not needed for near-dup graphs.)
    *
    * Input: pairs with two id columns. Output: (id, component) for
    * every id appearing in any pair, component = min id reachable.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    // ids are cast to long for the min-label order; a non-numeric
    // string id would cast to NULL and silently drop its edges (and
    // dropNearDuplicates would then dedup NOTHING) — fail loudly
    // per-row instead
    def checkedId(c: Column): Column = {
      val l = c.cast("long")
      when(c.isNotNull && l.isNull,
        raise_error(concat(
          lit("connectedComponents: id not castable to long: "),
          c.cast("string")))).otherwise(l)
    }
    val e0 = pairs.select(checkedId(col(aCol)).as("src"),
      checkedId(col(bCol)).as("dst"))
    // cut: every round's cut and convergence probe re-read the edges
    val edges = Cut.of(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
      Cut.Reread)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min label over in-neighbors, then fold into the node's own label
      val prop = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("_nid")).agg(min("comp").as("_ncomp"))
      // labels only DECREASE (least), so "changed" is decidable per
      // ROW during propagation — carry it as a flag and aggregate
      // linearly over the materialized blocks instead of re-joining
      // next against labels (the r18 check paid a full two-sided
      // shuffle join per iteration just to detect the fixed point)
      val next0 = Cut.of(labels.join(prop, labels("id") === prop("_nid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("_ncomp"), col("comp"))).as("comp"),
          (col("_ncomp").isNotNull && col("_ncomp") < col("comp"))
            .as("_chg")), Cut.Lineage)
      val changed = next0
        .agg(coalesce(max(col("_chg")), lit(false))).head().getBoolean(0)
      labels = next0.select(col("id"), col("comp"))
      converged = !changed
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter iterations — " +
          "component diameter exceeds maxIter (labels would be partially " +
          "propagated, i.e. silently wrong); raise maxIter for graphs " +
          "with long chains")
    labels
  }

  /** Connected components by the ALTERNATING large-star/small-star
    * algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii:
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * scale path of [[connectedComponents]]. Min-label propagation's
    * round count is the component DIAMETER: fine for near-clique dedup
    * graphs, quadratic-wall on chain-shaped ones (snapshot lineages
    * A≈B≈C≈…, URL redirect chains), where a 10⁵-long chain means 10⁵
    * shuffles. The star rounds contract every component to a star in
    * O(log²) rounds regardless of diameter; each round is two keyed
    * groupBy+join passes over the edge set — same per-round cost
    * shape, exponentially fewer rounds on the pathological inputs.
    *
    * large-star: every node connects its LARGER neighbors to the
    * minimum of its neighborhood (incl. itself) — breaks long paths.
    * small-star: every node connects its smaller-or-equal neighbors
    * and itself to that minimum — flattens into stars. Both preserve
    * connectivity and never create new components (paper §3, Lemma 1);
    * the fixed point is a star forest rooted at component minima.
    *
    * Edges are kept canonical (u > v) and distinct between rounds;
    * a [[graft.core.Cut]] per round bounds lineage, and convergence is an
    * O(1)-to-driver check (edge count equal AND symmetric difference
    * empty). Output matches [[connectedComponents]] exactly:
    * (id, comp) for every id in any pair, comp = min reachable id —
    * the two algorithms are interchangeable, verified by test.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String = "id_a",
                              bCol: String = "id_b",
                              maxIter: Int = 50): DataFrame = {
    def checkedId(c: Column): Column = {
      val l = c.cast("long")
      when(c.isNotNull && l.isNull,
        raise_error(concat(
          lit("connectedComponentsStar: id not castable to long: "),
          c.cast("string")))).otherwise(l)
    }
    val ids = pairs
      .select(explode(array(checkedId(col(aCol)), checkedId(col(bCol))))
        .as("id"))
      .distinct()
    // canonical edge invariant maintained by both stars: u > v; the
    // round-0 edge set is cut like every round's
    var edges = Cut.of(pairs
      .select(checkedId(col(aCol)).as("_a"), checkedId(col(bCol)).as("_b"))
      .filter(col("_a") =!= col("_b"))
      .select(greatest(col("_a"), col("_b")).as("u"),
        least(col("_a"), col("_b")).as("v"))
      .distinct(), Cut.Lineage)

    // large-star over the undirected view: m(u) = min(Γ(u) ∪ {u});
    // emit (v, m(u)) for every STRICTLY LARGER neighbor v. m ≤ u < v
    // keeps the canonical invariant.
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = bidir.groupBy("u").agg(min("v").as("_mn"))
        .select(col("u"), least(col("_mn"), col("u")).as("_m"))
      bidir.join(m, "u")
        .filter(col("v") > col("u") && col("v") =!= col("_m"))
        .select(col("v").as("u"), col("_m").as("v"))
        .distinct()
    }
    // small-star over the canonical (u > v) view: m(u) = min of the
    // smaller neighbors; re-point them and u itself at m. v > m keeps
    // the invariant; (m, m) self-loops are dropped.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("_m"))
      val rePointed = e.join(m, "u")
        .filter(col("v") =!= col("_m"))
        .select(col("v").as("u"), col("_m").as("v"))
      val self = m.select(col("u"), col("_m").as("v"))
      rePointed.union(self).distinct()
    }

    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Cut.of(smallStar(largeStar(edges)), Cut.Lineage)
      val nextCount = next.count()
      converged = nextCount == edges.count() &&
        next.except(edges).limit(1).isEmpty
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar: not converged after $maxIter rounds — " +
          "this should not happen (the alternating algorithm converges " +
          "in O(log^2 n) rounds); raise maxIter only after checking the " +
          "input for pathological id distributions")
    // fixed point is a star forest: every edge points a node at its
    // component root. Roots and isolated input ids label themselves.
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** One-call near-duplicate removal: MinHash/LSH pairs → connected
    * components → keep the min-id document per duplicate cluster
    * (`handle_duplicates` drop semantics, quality.py:4677, extended
    * transitively). Non-candidates pass through untouched; only ids
    * appearing in a near-dup pair join against the cluster table,
    * which is pair-bounded and therefore far smaller than the corpus
    * (left as a plain keyed join — AQE broadcasts it when it is small;
    * on a heavily-duplicated corpus it may not be).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 32, bands: Int = 8,
                         threshold: Double = 0.6, shingleK: Int = 3,
                         portableHash: Boolean = false,
                         collapseClones: Boolean = true): DataFrame = {
    def sigs: DataFrame =
      if (portableHash)
        minhashSignaturesPortable(df, idCol, textCol, numHashes, shingleK)
      else minhashSignatures(df, idCol, textCol, numHashes, shingleK)
    if (collapseClones && threshold <= 1.0) {
      // Clone collapse (the nearDupDrops argument on MinHash): exact-
      // duplicate texts produce IDENTICAL signatures, and the banded
      // self-join pays C(k,2) sig_sim pairs per k-clone set. Identical
      // signatures score sig_sim = 1.0 EXACTLY (numHashes/numHashes),
      // so at any threshold <= 1 every non-min clone is in the drop
      // set and its group's min id stands in for it in every pair the
      // kernel would have found (rep = group min <= any witness from
      // that group) — one rep per distinct signature enters the
      // banding + CC, and the cluster min over reps IS the cluster
      // min over members. Drop set identical to the uncollapsed path
      // (asserted in ActivationsSpec); the collapse costs one linear
      // window shuffle keyed by the signature. Cut: the components'
      // own cuts read it, and so does the final plan's drop set.
      val w = Window.partitionBy(col("_sig"))
      val withRep = Cut.of(sigs.withColumn("_rep", min(col("_id")).over(w)),
        Cut.Reread)
      val repSigs = withRep.filter(col("_id") === col("_rep"))
        .select(col("_id"), col("_sig"))
      val pairs = minhashPairsFromSigs(repSigs, numHashes, bands, threshold)
      val clusters = connectedComponents(pairs)
      val drops = withRep.filter(col("_id") =!= col("_rep"))
        .select(col("_id").as(idCol))
        .unionByName(clusters.filter(col("comp") =!= col("id"))
          .select(col("id").as(idCol)))
      df.join(drops.distinct(), Seq(idCol), "left_anti")
    } else {
      val pairs = minhashPairsFromSigs(sigs, numHashes, bands, threshold)
      val clusters = connectedComponents(pairs)
      df.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
        .filter(col("comp").isNull || col("comp") === col(idCol))
        .drop("comp")
    }
  }

  /** Exact n-gram Jaccard similarity for candidate pairs produced by a
    * cheap blocker (here: shared rare shingle). explode+groupBy —
    * shuffle is proportional to shingle postings, not n². */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // no cut: both join sides and the sizes read the shingle window's
    // one exchange, which adaptive execution reuses
    val sh = shinglesExploded(df, idCol, textCol, k)
    val a = sh.select(col("_id").as("id_a"), col("_sh"))
    val b = sh.select(col("_id").as("id_b"), col("_sh"))
    val inter = a.join(b, Seq("_sh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    // per-doc shingle counts: one row per document — broadcast both
    // lookup joins instead of shuffling the candidate pairs twice.
    val sizes = sh.groupBy("_id").agg(count(lit(1)).as("_n"))
    // NO broadcast hint on sizes: it is one row per DOCUMENT, i.e.
    // O(corpus) — at 1e8 docs a forced broadcast is the OOM the
    // bootstrapMeanCi size-gate exists for; AQE still broadcasts it
    // automatically whenever it is actually small
    inter
      .join(sizes.withColumnRenamed("_id", "id_a")
        .withColumnRenamed("_n", "_na"), "id_a")
      .join(sizes.withColumnRenamed("_id", "id_b")
        .withColumnRenamed("_n", "_nb"), "id_b")
      .withColumn("jaccard",
        col("_inter").cast("double") / (col("_na") + col("_nb") - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
