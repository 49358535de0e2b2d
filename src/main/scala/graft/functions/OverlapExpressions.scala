package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local clipped n-gram overlap — the sufficient statistic of the
  * whole n-gram eval family (BLEU precision, ROUGE-N recall, chrF)
  * computed INSIDE the row instead of through a (doc, n, gram)-keyed
  * shuffle.
  *
  * A relational plan (explode → count → FULL join → reduce) moves
  * every gram occurrence through an exchange: at maxN = 4 that is ~4
  * corpus volumes of shuffle per side. But clipping is DOC-LOCAL —
  * `matched_n(doc) = Σ_gram min(c_cand, c_ref)` needs only the two
  * token arrays of ONE document — so the plan is a doc-keyed join of
  * the two sides followed by this expression: the only exchange is
  * the join on the document id, and the gram counting runs as a
  * per-row hash map in generated code (the [[LcsLength]] row-local
  * rule). A single document is counted by one task.
  *
  * Output for maxN orders: array<long> of length 3·maxN laid out as
  * [m_1, ct_1, rt_1, …, m_maxN, ct_maxN, rt_maxN] where m = clipped
  * matches, ct/rt = candidate/reference gram totals of that order.
  * All integers — every downstream metric derives from them with the
  * engine-portable arithmetic the oracles replay. NULL input → NULL;
  * NULL ELEMENTS are rejected loudly (the lcs_len convention). */
object NgramOverlapKernel {

  /** Word-gram overlap over two token arrays. A gram is its n
    * consecutive tokens joined by one space, so two grams match
    * exactly when their space-joined strings are equal. */
  def words(x: ArrayData, y: ArrayData, maxN: Int): ArrayData = {
    val nc = x.numElements(); val nr = y.numElements()
    val cs = new Array[String](nc)
    var i = 0
    while (i < nc) {
      if (x.isNullAt(i)) throw new IllegalArgumentException(
        "ngram_overlap_all: null token in candidate array")
      cs(i) = x.getUTF8String(i).toString; i += 1
    }
    val rs = new Array[String](nr)
    var j = 0
    while (j < nr) {
      if (y.isNullAt(j)) throw new IllegalArgumentException(
        "ngram_overlap_all: null token in reference array")
      rs(j) = y.getUTF8String(j).toString; j += 1
    }
    overlap(cs, rs, maxN)
  }

  /** Char-gram overlap over two strings, counted in CODE POINTS (the
    * `substr`/`length` column semantics and the chrF oracle —
    * UTF-16 unit indexing would disagree beyond the BMP).
    * Allocation-free inner loop: a gram is a (start, end) char span
    * over a code-point offset table (identity offsets on
    * surrogate-free strings), counted in a reused open-address table
    * with span hashing and in-place char compare — no substring, no
    * boxing, no HashMap nodes. */
  def chars(x: UTF8String, y: UTF8String, maxN: Int): ArrayData = {
    val cs = x.toString; val rs = y.toString
    val co = cpOffsets(cs); val ro = cpOffsets(rs)
    val out = new Array[Long](3 * maxN)
    // zero-allocation counting: a gram is a (start, end) char span of
    // the backing string, counted in an open-address table (linear
    // probing) with span hashing and in-place char compare — no
    // substring, no boxing, no HashMap nodes. One table sized for the
    // largest order (power of two >= 2x gram count), reused per order.
    val maxRt = math.max(1, ro.length)
    var cap = 4
    while (cap < maxRt * 2) cap <<= 1
    val mask = cap - 1
    val slotFrom = new Array[Int](cap)
    val slotEnd = new Array[Int](cap)
    val slotCnt = new Array[Int](cap)
    var n = 1
    while (n <= maxN) {
      val ct = math.max(0, (co.length - 1) - n + 1)
      val rt = math.max(0, (ro.length - 1) - n + 1)
      var matched = 0L
      if (ct > 0 && rt > 0) {
        java.util.Arrays.fill(slotFrom, -1)
        var j = 0
        while (j < rt) {
          val from = ro(j); val until = ro(j + n)
          var h = 1; var i = from
          while (i < until) { h = h * 31 + rs.charAt(i); i += 1 }
          var idx = (h ^ (h >>> 16)) & mask
          var placed = false
          while (!placed) {
            val sf = slotFrom(idx)
            if (sf < 0) {
              slotFrom(idx) = from; slotEnd(idx) = until; slotCnt(idx) = 1
              placed = true
            } else if (spanEq(rs, sf, slotEnd(idx), rs, from, until)) {
              slotCnt(idx) += 1; placed = true
            } else idx = (idx + 1) & mask
          }
          j += 1
        }
        var k = 0
        while (k < ct) {
          val from = co(k); val until = co(k + n)
          var h = 1; var i = from
          while (i < until) { h = h * 31 + cs.charAt(i); i += 1 }
          var idx = (h ^ (h >>> 16)) & mask
          var done = false
          while (!done) {
            val sf = slotFrom(idx)
            if (sf < 0) done = true
            else if (spanEq(rs, sf, slotEnd(idx), cs, from, until)) {
              if (slotCnt(idx) > 0) { matched += 1; slotCnt(idx) -= 1 }
              done = true
            } else idx = (idx + 1) & mask
          }
          k += 1
        }
      }
      out(3 * (n - 1)) = matched
      out(3 * (n - 1) + 1) = ct
      out(3 * (n - 1) + 2) = rt
      n += 1
    }
    new GenericArrayData(out)
  }

  private def spanEq(a: String, aFrom: Int, aUntil: Int,
                     b: String, bFrom: Int, bUntil: Int): Boolean = {
    if (aUntil - aFrom != bUntil - bFrom) return false
    var i = aFrom; var j = bFrom
    while (i < aUntil) {
      if (a.charAt(i) != b.charAt(j)) return false
      i += 1; j += 1
    }
    true
  }

  /** UTF-16 offsets of the code-point boundaries of `s` (length =
    * codePointCount + 1; the identity 0..length on surrogate-free
    * strings, detected with one cheap scan). */
  private def cpOffsets(s: String): Array[Int] = {
    val len = s.length
    var hasSurrogate = false
    var i = 0
    while (i < len && !hasSurrogate) {
      if (Character.isHighSurrogate(s.charAt(i))) hasSurrogate = true
      i += 1
    }
    if (!hasSurrogate) {
      val out = new Array[Int](len + 1)
      var j = 0
      while (j <= len) { out(j) = j; j += 1 }
      out
    } else {
      val n = s.codePointCount(0, len)
      val out = new Array[Int](n + 1)
      var j = 0; var off = 0
      while (j < n) {
        out(j) = off
        off += Character.charCount(s.codePointAt(off))
        j += 1
      }
      out(n) = len
      out
    }
  }

  private def overlap(cs: Array[String], rs: Array[String],
                      maxN: Int): ArrayData = {
    val out = new Array[Long](3 * maxN)
    var n = 1
    while (n <= maxN) {
      val ct = math.max(0, cs.length - n + 1)
      val rt = math.max(0, rs.length - n + 1)
      var matched = 0L
      if (ct > 0 && rt > 0) {
        val counts = new java.util.HashMap[String, Array[Int]](rt * 2)
        var j = 0
        while (j < rt) {
          val g = gramAt(rs, j, n)
          val c = counts.get(g)
          if (c == null) counts.put(g, Array(1)) else c(0) += 1
          j += 1
        }
        var k = 0
        while (k < ct) {
          val g = gramAt(cs, k, n)
          val c = counts.get(g)
          if (c != null && c(0) > 0) { matched += 1; c(0) -= 1 }
          k += 1
        }
      }
      out(3 * (n - 1)) = matched
      out(3 * (n - 1) + 1) = ct
      out(3 * (n - 1) + 2) = rt
      n += 1
    }
    new GenericArrayData(out)
  }

  private def gramAt(a: Array[String], start: Int, n: Int): String =
    if (n == 1) a(start)
    else {
      val sb = new java.lang.StringBuilder(a(start))
      var i = 1
      while (i < n) { sb.append(' ').append(a(start + i)); i += 1 }
      sb.toString
    }
}

/** Row-local kernels for the Gopher repetition signals — the same
  * doc-locality argument as [[NgramOverlapKernel]]: duplicate-gram
  * char coverage and the modal n-gram of a document depend on that
  * document alone, so no (doc, gram) shuffle is needed at all. Char counts are CODE POINTS
  * (the `length()` column semantics); the top-gram tie-break is the
  * UTF8 BINARY order (the `orderBy(_g.asc)` semantics — Java String
  * comparison would disagree beyond the BMP). */
object NgramRepKernel {

  private def cpLen(s: String): Long = s.codePointCount(0, s.length).toLong

  private def toksOf(x: ArrayData, fn: String): Array[String] = {
    val m = x.numElements()
    val toks = new Array[String](m)
    var i = 0
    while (i < m) {
      if (x.isNullAt(i)) throw new IllegalArgumentException(
        s"$fn: null token in array")
      toks(i) = x.getUTF8String(i).toString; i += 1
    }
    toks
  }

  private def gramAt(a: Array[String], start: Int, n: Int): String =
    if (n == 1) a(start)
    else {
      val sb = new java.lang.StringBuilder(a(start))
      var i = 1
      while (i < n) { sb.append(' ').append(a(start + i)); i += 1 }
      sb.toString
    }

  /** [total_chars, dup_chars]: char mass of all tokens, and of tokens
    * covered by any occurrence of an n-gram appearing >= minOccur
    * times in this document. */
  def dup(x: ArrayData, n: Int, minOccur: Int): ArrayData = {
    val toks = toksOf(x, "dup_ngram_chars")
    val m = toks.length
    var total = 0L
    var i = 0
    while (i < m) { total += cpLen(toks(i)); i += 1 }
    val ct = m - n + 1
    var dup = 0L
    if (ct > 0) {
      val counts = new java.util.HashMap[String, Integer](ct * 2)
      var k = 0
      while (k < ct) {
        val g = gramAt(toks, k, n)
        val c = counts.get(g)
        counts.put(g, if (c == null) 1 else c + 1)
        k += 1
      }
      val covered = new Array[Boolean](m)
      k = 0
      while (k < ct) {
        if (counts.get(gramAt(toks, k, n)) >= minOccur) {
          var j = k
          while (j < k + n) { covered(j) = true; j += 1 }
        }
        k += 1
      }
      i = 0
      while (i < m) { if (covered(i)) dup += cpLen(toks(i)); i += 1 }
    }
    new GenericArrayData(Array(total, dup))
  }

  /** [n_tokens, dup_tokens]: total token occurrences, and occurrences
    * belonging to a token TYPE that appears more than once in this
    * document (Σ tf over types with tf > 1 — the dup_token_ratio
    * numerator of `Quality.repetitionStats`). */
  def dupTokens(x: ArrayData): ArrayData = {
    val toks = toksOf(x, "dup_token_counts")
    val m = toks.length
    val counts = new java.util.HashMap[String, Integer](m * 2)
    var i = 0
    while (i < m) {
      val c = counts.get(toks(i))
      counts.put(toks(i), if (c == null) 1 else c + 1)
      i += 1
    }
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().intValue()
      if (c > 1) dup += c
    }
    new GenericArrayData(Array(m.toLong, dup))
  }

  /** (top_ngram, count): the most frequent n-gram of this document,
    * ties broken by UTF8 binary order ascending; ("", 0) when the
    * document has no order-n grams. */
  def top(x: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = toksOf(x, "top_ngram_stats")
    val ct = toks.length - n + 1
    if (ct <= 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(""), 0L))
    val counts = new java.util.HashMap[String, Integer](ct * 2)
    var k = 0
    while (k < ct) {
      val g = gramAt(toks, k, n)
      val c = counts.get(g)
      counts.put(g, if (c == null) 1 else c + 1)
      k += 1
    }
    var bestGram: UTF8String = null
    var bestCnt = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = UTF8String.fromString(e.getKey)
      val c = e.getValue.intValue()
      if (c > bestCnt || (c == bestCnt &&
          (bestGram == null || g.compareTo(bestGram) < 0))) {
        bestGram = g; bestCnt = c
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestGram, bestCnt.toLong))
  }
}

/** dup_ngram_chars(toks, n, minOccur) → array<long> [total, dup]. */
case class DupNgramChars(child: Expression, n: Int, minOccur: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(n >= 1, s"n must be >= 1, got $n")
  require(minOccur >= 2, s"minOccur must be >= 2, got $minOccur")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dup_ngram_chars expects array<string>, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    NgramRepKernel.dup(a.asInstanceOf[ArrayData], n, minOccur)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NgramRepKernel.dup($a, $n, $minOccur);")

  override protected def withNewChildInternal(newChild: Expression)
      : DupNgramChars = copy(child = newChild)
}

/** dup_token_counts(toks) → array<long> [n_tokens, dup_tokens]. */
case class DupTokenCounts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dup_token_counts expects array<string>, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    NgramRepKernel.dupTokens(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NgramRepKernel.dupTokens($a);")

  override protected def withNewChildInternal(newChild: Expression)
      : DupTokenCounts = copy(child = newChild)
}

/** top_ngram_stats(toks, n) → struct(gram string, cnt long). */
case class TopNgramStats(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("gram", StringType,
      nullable = false),
    org.apache.spark.sql.types.StructField("cnt", LongType,
      nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"top_ngram_stats expects array<string>, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    NgramRepKernel.top(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NgramRepKernel.top($a, $n);")

  override protected def withNewChildInternal(newChild: Expression)
      : TopNgramStats = copy(child = newChild)
}

/** ngram_overlap_all(cand_toks, ref_toks, maxN) → array<long>.
  * Codegen = one static kernel call per row (stays inside whole-stage
  * codegen; the kernel itself is branchy hash-map code that gains
  * nothing from inlining into generated Java). */
case class NgramOverlapAll(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression {

  require(maxN >= 1, s"maxN must be >= 1, got $maxN")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_overlap_all expects array<string> args, got " +
        s"${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    NgramOverlapKernel.words(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NgramOverlapKernel.words($a, $b, $maxN);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NgramOverlapAll =
    copy(left = newLeft, right = newRight)
}

/** chargram_overlap_all(cand_str, ref_str, maxN) → array<long>. */
case class CharGramOverlapAll(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression {

  require(maxN >= 1, s"maxN must be >= 1, got $maxN")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == StringType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"chargram_overlap_all expects string args, got " +
        s"${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    NgramOverlapKernel.chars(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], maxN)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NgramOverlapKernel.chars($a, $b, $maxN);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CharGramOverlapAll =
    copy(left = newLeft, right = newRight)
}
