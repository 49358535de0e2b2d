package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for text canonicalization (SURVEY
  * §2.13 custom ops; LLM-pipeline adjacency).
  *
  * Unicode normalization is the step every dedup/hashing pipeline
  * needs BEFORE fingerprinting: "café" composed (U+00E9) and
  * decomposed (e + U+0301) are byte-different, so md5/minhash/simhash
  * all miss the duplicate until both sides normalize. Spark has no
  * built-in for it; the JDK's `java.text.Normalizer` is the reference
  * implementation of UAX #15, and this expression runs it inside
  * whole-stage codegen with an `isNormalized` fast path — for the
  * (overwhelmingly common) already-NFC row the cost is one scan, no
  * allocation of a second string.
  */

/** unicode_norm(string, form) → string; form ∈ NFC|NFD|NFKC|NFKD
  * (fixed at plan time — the registry builder requires a literal). */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unicode_norm form must be NFC|NFD|NFKC|NFKD, got $form")
  @transient private lazy val normForm = java.text.Normalizer.Form.valueOf(form)

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unicode_norm expects a string argument, got $t")
  }

  override def nullSafeEval(s: Any): Any = {
    val str = s.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(str, normForm)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, normForm))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val f = s"java.text.Normalizer.Form.${form}"
      s"""
         |String $s = $c.toString();
         |${ev.value} = java.text.Normalizer.isNormalized($s, $f)
         |  ? $c
         |  : org.apache.spark.unsafe.types.UTF8String.fromString(
         |      java.text.Normalizer.normalize($s, $f));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : UnicodeNormalize = copy(child = newChild)
}

/** lcs_len(array<string>, array<string>) → int: length of the longest
  * common subsequence of two token arrays — the kernel of ROUGE-L
  * (Lin 2004), which no composition of built-ins can express (the DP
  * is inherently sequential per row, but ROW-LOCAL: each
  * candidate/reference pair is independent, so the operator
  * distributes perfectly while the inner loop runs as generated
  * Java). Classic two-row DP, O(n·m) time / O(min-side) space; NULL
  * array → NULL, NULL ELEMENTS are rejected loudly (a silent
  * null-matches-nothing would understate the metric invisibly). */
case class LcsLength(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lcs_len expects array<string> args, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) throw new IllegalArgumentException(
        "lcs_len: null token in left array")
      i += 1
    }
    var j = 0
    while (j < m) {
      if (y.isNullAt(j)) throw new IllegalArgumentException(
        "lcs_len: null token in right array")
      j += 1
    }
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    i = 0
    while (i < n) {
      val xi = x.getUTF8String(i)
      j = 0
      while (j < m) {
        cur(j + 1) =
          if (xi.equals(y.getUTF8String(j))) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    prev(m)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val prev = ctx.freshName("prev"); val cur = ctx.freshName("cur")
      val tmp = ctx.freshName("tmp"); val xi = ctx.freshName("xi")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |for (int $i = 0; $i < $n; $i++)
         |  if ($a.isNullAt($i)) throw new IllegalArgumentException(
         |    "lcs_len: null token in left array");
         |for (int $j = 0; $j < $m; $j++)
         |  if ($b.isNullAt($j)) throw new IllegalArgumentException(
         |    "lcs_len: null token in right array");
         |int[] $prev = new int[$m + 1];
         |int[] $cur = new int[$m + 1];
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.unsafe.types.UTF8String $xi = $a.getUTF8String($i);
         |  for (int $j = 0; $j < $m; $j++) {
         |    $cur[$j + 1] = $xi.equals($b.getUTF8String($j))
         |      ? $prev[$j] + 1
         |      : java.lang.Math.max($prev[$j + 1], $cur[$j]);
         |  }
         |  int[] $tmp = $prev; $prev = $cur; $cur = $tmp;
         |}
         |${ev.value} = $prev[$m];
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LcsLength = copy(left = newLeft, right = newRight)
}

/** Row-local winnowing kernel (Schleimer et al. SIGMOD 2003): gram
  * hashes + sliding-window minimum via a monotonic deque — O(n) per
  * row instead of the O(n·w) HOF slice chain, zero shuffle (the
  * fingerprint selection is per-document). Hash family is Spark's
  * xxhash64 (seed 42) over the gram's BYTES, so output is
  * bit-identical to `xxhash64(substr(s, i, k))` for ASCII input (the
  * cleanText contract guarantees ASCII); the md5 portable family
  * stays on the HOF path, which the DuckDB oracle replays.
  */
object WinnowKernel {

  /** Distinct window-min hashes in first-occurrence order; empty when
    * the stream holds fewer than w complete windows (below the
    * guarantee threshold k + w − 1). */
  def fps(s: UTF8String, k: Int, w: Int): ArrayData = {
    val b = s.getBytes
    val n = b.length - k + 1 // # grams
    if (n < w) return new GenericArrayData(Array.emptyLongArray)
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      h(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + i, k, 42L)
      i += 1
    }
    val dq = new Array[Int](n) // monotonic deque of gram indices
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[java.lang.Long]()
    i = 0
    while (i < n) {
      while (tail > head && h(dq(tail - 1)) >= h(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) {
        val m = h(dq(head))
        if (seen.add(m)) out.add(m)
      }
      i += 1
    }
    val arr = new Array[Long](out.size())
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}

/** winnow_fps(str, k, w) → array<long>: winnowing fingerprints of an
  * (already-normalized) char stream. k, w fixed at plan time. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 2, s"winnow_fps k must be >= 2, got $k")
  require(w >= 2, s"winnow_fps w must be >= 2, got $w")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects a string argument, got $t")
  }

  override def nullSafeEval(s: Any): Any =
    WinnowKernel.fps(s.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowKernel.fps($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression)
      : WinnowFps = copy(child = newChild)
}

object TextExpressions {
  import NativeFunctions.{fn, intLit, strLit}

  /** The native text functions: rows of the one table
    * [[NativeFunctions]] registers and [[GraftExtensions]] injects.
    * Each builder checks that its plan-time arguments are literals. */
  val functions: Seq[NativeFunctions.Row] = Seq(
    fn(classOf[LcsLength], "lcs_len", "lcs_len(a, b) - longest common " +
      "subsequence length of two token arrays")(
      c => LcsLength(c(0), c(1))),
    fn(classOf[UnicodeNormalize], "unicode_norm",
      "unicode_norm(str, form) - UAX #15 normalization", "string_funcs")(
      c => UnicodeNormalize(c(0), strLit(c(1), "unicode_norm form"))),
    fn(classOf[NgramOverlapAll], "ngram_overlap_all",
      "ngram_overlap_all(cand, ref, maxN) - clipped word-n-gram overlap " +
        "triples for orders 1..maxN")(
      c => NgramOverlapAll(c(0), c(1), intLit(c(2), "ngram_overlap_all maxN"))),
    fn(classOf[CharGramOverlapAll], "chargram_overlap_all",
      "chargram_overlap_all(cand, ref, maxN) - clipped char-n-gram overlap " +
        "triples for orders 1..maxN", "string_funcs")(
      c => CharGramOverlapAll(c(0), c(1),
        intLit(c(2), "chargram_overlap_all maxN"))),
    fn(classOf[DupNgramChars], "dup_ngram_chars",
      "dup_ngram_chars(toks, n, minOccur) - [total_chars, dup_chars] of " +
        "n-grams repeated >= minOccur times")(
      c => DupNgramChars(c(0), intLit(c(1), "dup_ngram_chars n"),
        intLit(c(2), "dup_ngram_chars minOccur"))),
    fn(classOf[TopNgramStats], "top_ngram_stats",
      "top_ngram_stats(toks, n) - most frequent n-gram of the document " +
        "and its count")(
      c => TopNgramStats(c(0), intLit(c(1), "top_ngram_stats n"))),
    fn(classOf[DupTokenCounts], "dup_token_counts",
      "dup_token_counts(toks) - [n_tokens, occurrences of token types " +
        "appearing more than once]")(
      c => DupTokenCounts(c(0))),
    fn(classOf[SummarizeDoc], "summarize_doc",
      "summarize_doc(text, minTokenLen) - top TF-IDF sentence of the " +
        "document (sidx, summary, score)", "string_funcs")(
      c => SummarizeDoc(c(0), intLit(c(1), "summarize_doc minTokenLen"))),
    fn(classOf[WinnowFps], "winnow_fps",
      "winnow_fps(str, k, w) - winnowing fingerprint hashes (SIGMOD 2003) " +
        "of a normalized char stream", "string_funcs")(
      c => WinnowFps(c(0), intLit(c(1), "winnow_fps k"),
        intLit(c(2), "winnow_fps w"))),
    fn(classOf[MultiContains], "multi_contains",
      "multi_contains(text, patterns) - ascending ids of the literal " +
        "patterns occurring in text (Aho-Corasick, one pass)",
      "string_funcs") { c =>
      val pats = c(1) match {
        case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData,
            org.apache.spark.sql.types.ArrayType(StringType, _)) =>
          a.toArray[UTF8String](StringType).map(_.toString).toSeq
        case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
          ca.children.map {
            case Literal(s: UTF8String, StringType) => s.toString
            case other => throw new IllegalArgumentException(
              s"multi_contains patterns must be string literals, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"multi_contains patterns must be an array literal, got $other")
      }
      MultiContains(c(0), pats)
    })
}
