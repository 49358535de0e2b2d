package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables => T}
import graft.encode.Activations
import graft.text.{Dedup, Quality}

/** Round-8 batch: activation-function transformers, near-dup cluster
  * resolution (connected components over pair output), and
  * Gopher-style repetition quality stats.
  */
object Batch17Entries extends Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.13 activation transformers (transformers/activations.py:218-
    // 4692): the full family as one codegen'd projection over a
    // deterministic 1%-of-lineitem slice; x spans both signs.
    "activations" -> ((s, dir) => {
      val x = col("x")
      T.lineitem(s, dir).filter(col("l_orderkey") % 101 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          ((col("l_quantity").cast("double") - 13.0) / 5.0).as("x"))
        .select(col("l_orderkey"), col("l_linenumber"), x,
          round(Activations.relu(x), 9).as("relu"),
          round(Activations.leakyRelu(x), 9).as("leaky_relu"),
          round(Activations.elu(x), 9).as("elu"),
          round(Activations.selu(x), 9).as("selu"),
          round(Activations.sigmoid(x), 9).as("sigmoid"),
          round(Activations.hardSigmoid(x), 9).as("hard_sigmoid"),
          round(Activations.logSigmoid(x), 9).as("log_sigmoid"),
          round(Activations.tanhA(x), 9).as("tanh_x"),
          round(Activations.tanhshrink(x), 9).as("tanhshrink"),
          round(Activations.softplus(x), 9).as("softplus"),
          round(Activations.swish(x), 9).as("swish"),
          round(Activations.hardSwish(x), 9).as("hard_swish"),
          round(Activations.gelu(x), 9).as("gelu"),
          round(Activations.mish(x), 9).as("mish"),
          round(Activations.elish(x), 9).as("elish"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.13 SoftmaxTransformer (activations.py:1558): row-wise softmax
    // over three derived features, max-shift stabilized.
    "softmax_rows" -> ((s, dir) => {
      val base = T.lineitem(s, dir).filter(col("l_orderkey") % 101 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity").cast("double") / 10.0).as("a"),
          (col("l_discount").cast("double") * 10.0).as("b"),
          (col("l_tax").cast("double") * 10.0).as("c"))
      Activations.softmaxRows(base, Seq("a", "b", "c"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("a_softmax"), 9).as("a_softmax"),
          round(col("b_softmax"), 9).as("b_softmax"),
          round(col("c_softmax"), 9).as("c_softmax"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // north-star dedup, final stage: pairs → duplicate clusters via
    // min-label connected components (transitive closure of the
    // ngram-Jaccard near-dup graph; oracle replays it with a
    // recursive CTE).
    "dedup_clusters" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      val pairs = Dedup.ngramJaccardPairs(d.unionByName(perturbed),
        "doc_id", "text", k = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    }),

    // north-star MinHash+LSH banding with a FULL oracle: the portable
    // md5-derived hash family lets DuckDB replay signatures, band
    // membership, and exact verification end-to-end (the xxhash64
    // variant stays the perf default; this one closes its
    // verification gap with a hash-matched gate).
    "minhash_pairs_md5" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.minhashPairsPortable(d.unionByName(perturbed), "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // north-star SimHash with a FULL oracle: portable 60-bit md5
    // sketch, 15-bit bands, Hamming verification — DuckDB replays
    // per-bit majorities, band membership, and the xor popcount.
    "simhash_pairs_md5" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.simhashPairsPortable(d.unionByName(perturbed), "doc_id", "text",
          maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),

    // north-star OR-amplified LSH cosine join with a FULL oracle:
    // the hyperplane values are xxhash64-of-int-literal constants, so
    // the driver bakes the exact doubles into the SQL as literals and
    // DuckDB replays bucket membership (fold-dot sign bits) and the
    // three-fold cosine bit-for-bit. Bounded corpus (300+300 vectors)
    // keeps both engines' candidate sets cheap.
    "lsh_cosine_exact" -> ((s, dir) => {
      val emb = T.embeddings(s, dir).filter(col("vec_id") < 300)
      val pert = emb.select(
        (col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 1, 56),
          transform(slice(col("embedding"), 57, 8), v => v * lit(1.5f)))
          .as("embedding"))
      val all = emb.select("vec_id", "embedding").unionByName(pert)
      graft.ml.Similarity.lshCosineJoin(all, "vec_id", "embedding",
          dim = 64, nPlanes = 4, nTables = 8, threshold = 0.9)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("id_a", "id_b")
    }),

    // the one-call dedup capstone, oracle-checked end-to-end: portable
    // MinHash pairs -> connected components -> keep min-id per cluster
    // (non-candidates pass through).
    "drop_near_dups" -> ((s, dir) => {
      val d = T.documents(s, dir).filter(col("doc_id") < 50)
      val perturbed = d.withColumn("doc_id", col("doc_id") + 10000)
        .withColumn("text", regexp_replace(col("text"), "^\\S+\\s+", ""))
      Dedup.dropNearDuplicates(d.unionByName(perturbed), "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5, portableHash = true)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // north-star quality filter: per-doc repetition stats (duplicated
    // token mass; dominant bigram and its character share).
    "rep_stats" -> ((s, dir) => {
      Quality.repetitionStats(
          T.documents(s, dir).filter(col("doc_id") < 500), "doc_id", "text")
        .orderBy("doc_id")
    })
  )

  private val sqrt2 = math.sqrt(2.0)

  /** Shared oracle CTEs: docs<50 + perturbed corpus → distinct
    * 3-shingles → md5-60-bit hashes → 32 seeded min signatures →
    * banded candidate pairs with exact signature similarity. Used by
    * minhash_pairs_md5 and drop_near_dups. */
  private val md5PairCtes: String = {
    val bandEq = (0 until 8).map { b =>
      s"a.sg[${b * 4 + 1}:${b * 4 + 4}] = b.sg[${b * 4 + 1}:${b * 4 + 4}]"
    }.mkString("(", " OR ", ")")
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
       |  FROM documents WHERE doc_id < 50),
       |toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
       |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
       |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
       |h AS (SELECT doc_id,
       |        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
       |      FROM sh),
       |seeds AS (SELECT unnest(range(0, 32)) AS seed),
       |sig AS (
       |  SELECT doc_id, seed,
       |    MIN(CAST(('0x' || substr(md5(CONCAT(seed, '_', CAST(h AS VARCHAR))), 1, 15)) AS BIGINT)) AS m
       |  FROM h, seeds GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(m ORDER BY seed) AS sg FROM sig GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_filter(range(1, 33), i -> a.sg[i] = b.sg[i])) AS DOUBLE) / 32 AS sig_sim
       |  FROM sigs a JOIN sigs b
       |    ON a.doc_id < b.doc_id
       |   AND $bandEq)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // Mirrors Activations expression-for-expression: identical IEEE
    // trees (stable softplus form, A&S 7.1.26 erf for GELU), rounded
    // at 9 dp across the libm boundary.
    "activations" ->
      s"""WITH base AS (
         |  SELECT l_orderkey, l_linenumber,
         |    (CAST(l_quantity AS DOUBLE) - 13.0) / 5.0 AS x
         |  FROM lineitem WHERE l_orderkey % 101 = 0),
         |sp AS (
         |  SELECT *,
         |    GREATEST(x, 0.0) + LN(1.0 + EXP(-ABS(x))) AS splus,
         |    1.0 / (1.0 + EXP(-x)) AS sig,
         |    GREATEST(0.0, LEAST(1.0, 0.2 * x + 0.5)) AS hsig,
         |    SIGN(x) * (1.0 - 2.0 / (EXP(2.0 * ABS(x)) + 1.0)) AS th,
         |    x / $sqrt2 AS z
         |  FROM base),
         |tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ABS(z)) AS t FROM sp),
         |ee AS (SELECT *,
         |  1.0 - t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))) * EXP(-ABS(z) * ABS(z)) AS ef
         |  FROM tt)
         |SELECT l_orderkey, l_linenumber, x,
         |  ROUND(GREATEST(x, 0.0), 9) AS relu,
         |  ROUND(CASE WHEN x > 0 THEN x ELSE 0.01 * x END, 9) AS leaky_relu,
         |  ROUND(CASE WHEN x > 0 THEN x ELSE (EXP(x) - 1) END, 9) AS elu,
         |  ROUND(1.0507009873554804 * (CASE WHEN x > 0 THEN x ELSE 1.6732632423543772 * (EXP(x) - 1) END), 9) AS selu,
         |  ROUND(sig, 9) AS sigmoid,
         |  ROUND(hsig, 9) AS hard_sigmoid,
         |  ROUND(-(GREATEST(-x, 0.0) + LN(1.0 + EXP(-ABS(-x)))), 9) AS log_sigmoid,
         |  ROUND(th, 9) AS tanh_x,
         |  ROUND(x - th, 9) AS tanhshrink,
         |  ROUND(splus, 9) AS softplus,
         |  ROUND(x * sig, 9) AS swish,
         |  ROUND(x * hsig, 9) AS hard_swish,
         |  ROUND(x * (0.5 * (1.0 + CASE WHEN z >= 0 THEN ef ELSE -ef END)), 9) AS gelu,
         |  ROUND(x * (SIGN(splus) * (1.0 - 2.0 / (EXP(2.0 * ABS(splus)) + 1.0))), 9) AS mish,
         |  ROUND(CASE WHEN x >= 0 THEN x * sig ELSE (EXP(x) - 1) * sig END, 9) AS elish
         |FROM ee ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "softmax_rows" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_quantity AS DOUBLE) / 10.0 AS a,
        |    CAST(l_discount AS DOUBLE) * 10.0 AS b,
        |    CAST(l_tax AS DOUBLE) * 10.0 AS c
        |  FROM lineitem WHERE l_orderkey % 101 = 0),
        |m AS (SELECT *, GREATEST(a, b, c) AS mx FROM base),
        |e AS (SELECT *, EXP(a - mx) AS ea, EXP(b - mx) AS eb, EXP(c - mx) AS ec FROM m)
        |SELECT l_orderkey, l_linenumber,
        |  ROUND(ea / (ea + eb + ec), 9) AS a_softmax,
        |  ROUND(eb / (ea + eb + ec), 9) AS b_softmax,
        |  ROUND(ec / (ea + eb + ec), 9) AS c_softmax
        |FROM e ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Same pair construction as the ngram_jaccard oracle, then the
    // transitive closure as a recursive CTE; component = min reachable
    // id (matches min-label propagation's fixed point).
    "dedup_clusters" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 10000, regexp_replace(text, '^\S+\s+', '')
        |  FROM documents WHERE doc_id < 50),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(t[i.i + 1 : i.i + 3], ' ') AS s
        |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 3 AND i.i <= len(t) - 3),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes na ON na.doc_id = id_a
        |  JOIN sizes nb ON nb.doc_id = id_b
        |  WHERE CAST(ninter AS DOUBLE) / (na.n + nb.n - ninter) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // Replays the full MinHash pipeline on the md5 hash family:
    // per-shingle 60-bit hash, 32 seeded re-hash min-aggregates,
    // band membership as TRUE slice equality (the Spark side keys on
    // xxhash64 of the slice — equivalent up to a ~2^-64 collision),
    // exact signature similarity as the verification.
    "minhash_pairs_md5" ->
      s"""WITH $md5PairCtes
         |SELECT id_a, id_b, sig_sim FROM pairs
         |WHERE sig_sim >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // dropNearDuplicates end-to-end: md5 MinHash pairs (shared CTEs),
    // transitive closure by recursive CTE, keep docs that are either
    // outside every pair or their cluster's min id.
    "drop_near_dups" ->
      s"""WITH RECURSIVE $md5PairCtes,
         |p AS (SELECT id_a, id_b FROM pairs WHERE sig_sim >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
         |         FROM reach GROUP BY a)
         |SELECT c.doc_id FROM corpus c
         |LEFT JOIN comp ON comp.doc_id = c.doc_id
         |WHERE comp.component IS NULL OR comp.component = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    // Per-bit token majorities -> 60-bit sketch (sum of disjoint
    // powers = OR), n² with the 4-band OR as the candidate condition
    // (equivalent to the Spark band join), Hamming via bit_count(xor).
    "simhash_pairs_md5" -> {
      val bandEq = (0 until 4).map { b =>
        s"((a.sh >> ${b * 15}) & 32767) = ((b.sh >> ${b * 15}) & 32767)"
      }.mkString("(", " OR ", ")")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 50
         |  UNION ALL
         |  SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '')
         |  FROM documents WHERE doc_id < 50),
         |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |        FROM corpus WHERE len(trim(text)) > 0),
         |h AS (SELECT doc_id,
         |        CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
         |      FROM tok),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM h GROUP BY 1),
         |bits AS (
         |  SELECT doc_id, b.b AS bit, SUM((h >> b.b) & 1) AS c
         |  FROM h, (SELECT unnest(range(0, 60)) AS b) b GROUP BY 1, 2),
         |sk AS (
         |  SELECT bits.doc_id,
         |    SUM(CASE WHEN 2 * c > n THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sh
         |  FROM bits JOIN cnt ON cnt.doc_id = bits.doc_id GROUP BY 1)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id AND $bandEq
         |WHERE bit_count(xor(a.sh, b.sh)) <= 8
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Replays ml.Similarity.lshCosineJoin: 32 hyperplanes as literal
    // double arrays (xxhash64(k*10007+i)/Long.Max, evaluated driver-
    // side from the identical catalyst expression), bucket hash =
    // Σ 2^p over positive fold-dots per table, candidates join on
    // (table, hash), then the exact three-fold cosine — every fold a
    // list_reduce seeded 0.0, bit-equal to the codegen'd kernel.
    "lsh_cosine_exact" -> {
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      def planeSql(k: Int): String = (0 until 64).map { i =>
        XxHash64(Seq(Literal(k * 10007 + i)), 42L).eval(null)
          .asInstanceOf[Long].toDouble / Long.MaxValue.toDouble
      }.mkString("[", ", ", "]")
      val planeRows = (for (t <- 0 until 8; p <- 0 until 4)
        yield s"($t, $p, ${planeSql(t * 4 + p)}::DOUBLE[])").mkString(",\n|  ")
      s"""WITH planes(t, p, pl) AS (VALUES
         |  $planeRows),
         |base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
         |e AS (
         |  SELECT vec_id, embedding FROM base
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |    embedding[1:56] ||
         |      list_transform(embedding[57:64], v -> v * CAST(1.5 AS FLOAT))
         |  FROM base),
         |buck AS (
         |  SELECT e.vec_id, planes.t,
         |    SUM(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(list_zip(e.embedding, planes.pl),
         |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
         |        (acc, x) -> acc + x) > 0
         |      THEN CAST(1 AS BIGINT) << planes.p ELSE 0 END) AS h
         |  FROM e, planes GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM buck a JOIN buck b ON a.t = b.t AND a.h = b.h
         |    AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT id_a, id_b,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(list_zip(ea.embedding, eb.embedding),
         |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
         |      (acc, x) -> acc + x)
         |    / (SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(ea.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
         |        (acc, x) -> acc + x))
         |     * SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(eb.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
         |        (acc, x) -> acc + x))) AS cos
         |  FROM cand
         |  JOIN e ea ON ea.vec_id = id_a
         |  JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, ROUND(cos, 9) AS cos
         |FROM scored WHERE cos >= 0.9
         |ORDER BY id_a, id_b""".stripMargin
    },

    "rep_stats" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS nc
        |           FROM documents WHERE doc_id < 500),
        |toks AS (SELECT doc_id, nc, string_split_regex(trim(text), '\s+') AS t FROM d),
        |tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |dup AS (SELECT doc_id, SUM(c) AS n,
        |               SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
        |        FROM tf GROUP BY 1),
        |big AS (
        |  SELECT doc_id, array_to_string(t[i.i + 1 : i.i + 2], ' ') AS g
        |  FROM toks, (SELECT unnest(range(0, 10000)) AS i) i
        |  WHERE len(t) >= 2 AND i.i <= len(t) - 2),
        |bc AS (SELECT doc_id, g, COUNT(*) AS gc FROM big GROUP BY 1, 2),
        |top AS (SELECT doc_id, g, gc,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id
        |            ORDER BY gc DESC, g ASC) AS rn
        |        FROM bc)
        |SELECT d.doc_id,
        |  ROUND(CAST(dup.dup AS DOUBLE) / dup.n, 9) AS dup_token_ratio,
        |  COALESCE(top.g, '') AS top_bigram,
        |  COALESCE(top.gc, 0) AS top_bigram_n,
        |  ROUND(COALESCE(top.gc * CAST(length(top.g) AS DOUBLE) / d.nc, 0.0), 9)
        |    AS top_bigram_char_frac
        |FROM d
        |JOIN dup ON dup.doc_id = d.doc_id
        |LEFT JOIN (SELECT * FROM top WHERE rn = 1) top ON top.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin
  )
}
