package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local extractive summarization — the whole
  * [[graft.text.Keywords.extractiveSummary]] scoring (sentence split,
  * per-sentence TF, within-doc sentence frequency, decimal-exact
  * tf·ln score, mean, argmax) is DOC-LOCAL: its "document frequency"
  * counts the document's OWN sentences, so nothing crosses rows. A
  * relational plan would pay four doc-keyed aggregates and a window
  * for what one per-row pass computes.
  *
  * Semantics (pinned by a driver-side golden in Batch33Spec, real
  * corpus included, in codegen and interpreted mode):
  *  - sentence split is `Pattern.split(text, -1)` (Spark's `split`
  *    keeps trailing empties; `String.split`'s default drops them and
  *    would shift sidx numbering);
  *  - `trim` strips ASCII SPACE only (UTF8String.trim — Java
  *    String.trim also eats control chars);
  *  - `lower` is UTF8String.toLowerCase (the `lower()` column);
  *  - token/char lengths count CODE POINTS;
  *  - tf · round₆(ln(ns/sdf)) accumulates in exact long micro-units
  *    (the decimal(20,6) sum), and the mean replays the same two
  *    correctly-rounded double steps (decimal→double, ÷ count).
  *
  * Returns struct(sidx, summary, score) or NULL when no sentence has
  * a scorable token (such docs get no summary row). */
object SummaryKernel {

  private val sentRe = java.util.regex.Pattern.compile("[.!?]\\s+")
  private val wsRe = java.util.regex.Pattern.compile("\\s+")

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  private def round6Micros(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .scaleByPowerOfTen(6).longValueExact()

  def summarize(text: UTF8String, minTokenLen: Int): InternalRow = {
    val sentences = sentRe.split(text.toString, -1)
    // tokens per non-empty sentence, keyed by raw sidx
    val ns = {
      var c = 0; var i = 0
      while (i < sentences.length) {
        if (UTF8String.fromString(sentences(i)).trim().numChars() > 0) c += 1
        i += 1
      }
      c
    }
    if (ns == 0) return null
    // per-(sidx, token) tf and per-token sentence frequency
    val tf = new java.util.HashMap[(Int, String), Integer]()
    val sdf = new java.util.HashMap[String, Integer]()
    val tokCount = new java.util.HashMap[Integer, Integer]() // distinct toks per sidx
    var i = 0
    while (i < sentences.length) {
      val trimmed = UTF8String.fromString(sentences(i)).trim()
      if (trimmed.numChars() > 0) {
        val lowered = trimmed.toLowerCase.toString
        val toks = wsRe.split(lowered, -1)
        val seen = new java.util.HashSet[String]()
        var j = 0
        while (j < toks.length) {
          val t = toks(j)
          if (t.nonEmpty && cpLen(t) >= minTokenLen) {
            val key = (i, t)
            val c = tf.get(key)
            tf.put(key, if (c == null) 1 else c + 1)
            if (seen.add(t)) {
              val d = sdf.get(t)
              sdf.put(t, if (d == null) 1 else d + 1)
              val k = tokCount.get(i)
              tokCount.put(i, if (k == null) 1 else k + 1)
            }
          }
          j += 1
        }
      }
      i += 1
    }
    if (tf.isEmpty) return null
    // per-sentence micro-unit score sums
    val sums = new java.util.HashMap[Integer, java.lang.Long]()
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (sidx, tok) = e.getKey
      val lnMicros = round6Micros(
        math.log(ns.toDouble / sdf.get(tok).doubleValue()))
      val add = e.getValue.longValue() * lnMicros
      val cur = sums.get(sidx)
      sums.put(sidx, if (cur == null) add else cur + add)
    }
    // argmax by (score desc, sidx asc) — the window's order
    var bestSidx = -1
    var bestScore = 0.0
    val si = sums.entrySet().iterator()
    while (si.hasNext) {
      val e = si.next()
      val sidx = e.getKey.intValue()
      // decimal(20,6) -> double, then the double division by count:
      // the exact two correctly-rounded steps of the column plan
      val score = (e.getValue.longValue().toDouble / 1e6) /
        tokCount.get(sidx).doubleValue()
      if (bestSidx < 0 || score > bestScore ||
          (score == bestScore && sidx < bestSidx)) {
        bestSidx = sidx; bestScore = score
      }
    }
    new GenericInternalRow(Array[Any](bestSidx,
      UTF8String.fromString(sentences(bestSidx)), bestScore))
  }
}

/** summarize_doc(text, minTokenLen) → struct(sidx, summary, score),
  * NULL when the document has no scorable sentence. */
case class SummarizeDoc(child: Expression, minTokenLen: Int)
    extends UnaryExpression {

  require(minTokenLen >= 1, s"minTokenLen must be >= 1, got $minTokenLen")
  override def dataType: DataType = StructType(Seq(
    StructField("sidx", IntegerType, nullable = false),
    StructField("summary", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  // the kernel returns null for unscorable docs even when input is
  // non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"summarize_doc expects a string argument, got $t")
  }

  override def nullSafeEval(a: Any): Any =
    SummaryKernel.summarize(a.asInstanceOf[UTF8String], minTokenLen)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""
         |InternalRow $r = graft.functions.SummaryKernel.summarize(
         |  $a, $minTokenLen);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : SummarizeDoc = copy(child = newChild)
}
