package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for embedding math (SURVEY §2.13 custom
  * ops; north-star similarity search).
  *
  * Why: the composable formulation `aggregate(zip_with(a, b, *), 0d, +)`
  * goes through the interpreted higher-order-function path — per-element
  * closure dispatch, boxed Doubles. These expressions generate a tight
  * Java loop inside whole-stage codegen: one JIT-compiled multiply-add
  * per element, no allocation. On the ANN hot path (candidate-pair
  * cosine over 10⁵–10⁹ pairs) this is the difference between the scan
  * being compute-bound and codegen-bound.
  */

/** Shared null-element policy for the float-array expressions: a NULL
  * element anywhere in either input makes the whole result NULL — the
  * standard SQL scalar-function convention, and what a DuckDB
  * list-based oracle replays. Reading a null slot through
  * `ArrayData.getFloat` would silently treat it as 0.0 and diverge
  * from the oracle without failing any check. The per-element
  * `isNullAt` test is emitted ONLY when the child schema admits null
  * elements (`containsNull`), so a non-nullable scan keeps the tight
  * branch-free codegen loop. */
private[functions] trait NullElementAware {
  self: Expression =>
  protected def arrayChildren: Seq[Expression]
  protected final def mayHaveNullElements: Boolean =
    arrayChildren.exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
  // must be nullable when a null element can surface as a NULL result,
  // or codegen gets a `false = true` assignment to a FalseLiteral isNull
  override def nullable: Boolean =
    arrayChildren.exists(_.nullable) || mayHaveNullElements
}

/** dot_f32(array<float>, array<float>) → double, summed sequentially
  * left-to-right (deterministic, oracle-portable). */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression with NullElementAware {

  override protected def arrayChildren: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_f32 expects array<float> args, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = mayHaveNullElements
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck = if (mayHaveNullElements)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotF32 = copy(left = newLeft, right = newRight)
}

/** cosine_f32(array<float>, array<float>) → double in one pass over the
  * two arrays (dot and both norms accumulated together). */
case class CosineF32(left: Expression, right: Expression)
    extends BinaryExpression with NullElementAware {

  override protected def arrayChildren: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_f32 expects array<float> args, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = mayHaveNullElements
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    // zero-norm guard: 0/0 would be NaN, which Spark orders ABOVE
    // every real value and passes >= thresholds — a zero embedding
    // must read as "no similarity", not "top match"
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nullCheck = if (mayHaveNullElements)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |  $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineF32 = copy(left = newLeft, right = newRight)
}

/** max_cosine_f32(array<float>) against a FIXED eval matrix → double:
  * the decontamination-screen kernel. The m×dim eval vectors ride as
  * ONE reference double[] inside the generated code (the
  * [[PQAdcLut]] pattern), so screening a corpus against an eval set
  * is a single projection pass — no n×m row expansion, no join, no
  * aggregation. Per-eval cosine is the EXACT [[CosineF32]] math
  * (min-length fold, per-pair double accumulation, zero-norm → 0.0)
  * and the running max mirrors Spark's `max` aggregate NaN ordering
  * (NaN counts as greatest), so the result is bit-identical to
  * `crossJoin(evals) → cosine_f32 → groupBy.max`. */
case class MaxCosineF32(child: Expression, flatEvals: IndexedSeq[Double],
                        dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with NullElementAware {
  require(dim >= 1 && flatEvals.nonEmpty && flatEvals.length % dim == 0,
    s"eval matrix must be m×dim flat, got ${flatEvals.length} with dim=$dim")
  private val m = flatEvals.length / dim
  @transient private lazy val evals: Array[Double] = flatEvals.toArray

  override protected def arrayChildren: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"max_cosine_f32 expects array<float>, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val len = x.numElements()
    if (mayHaveNullElements) {
      var i = 0
      while (i < len) {
        if (x.isNullAt(i)) return null
        i += 1
      }
    }
    val n = math.min(len, dim)
    var best = Double.NegativeInfinity
    var e = 0
    while (e < m) {
      val base = e * dim
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getFloat(i).toDouble
        val yv = evals(base + i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val c = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      if (java.lang.Double.isNaN(c) || c > best) best = c
      e += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val eref = ctx.addReferenceObj("decontamEvals", evals, "double[]")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val e = ctx.freshName("e")
      val base = ctx.freshName("base")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      val best = ctx.freshName("best")
      val nullCheck = if (mayHaveNullElements)
        s"""
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
           |}
         """.stripMargin
      else ""
      s"""
         |$nullCheck
         |if (!${ev.isNull}) {
         |  int $n = java.lang.Math.min($a.numElements(), $dim);
         |  double $best = Double.NEGATIVE_INFINITY;
         |  for (int $e = 0; $e < $m; $e++) {
         |    int $base = $e * $dim;
         |    double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $xv = (double) $a.getFloat($i);
         |      double $yv = $eref[$base + $i];
         |      $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |    }
         |    double $c = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |      $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    if (Double.isNaN($c) || $c > $best) $best = $c;
         |  }
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MaxCosineF32 =
    copy(child = newChild)
}

/** quantize_i8(array<float>) → binary: symmetric per-vector int8
  * quantization, the 4×-memory scale path for ANN scans (a 100 TB
  * embedding store is usually memory-bound, not FLOP-bound).
  * scale = max|xᵢ|; code bᵢ = ⌊xᵢ·127/scale + 0.5⌋ (round half toward
  * +∞ — floor(x+0.5) on BOTH engines, so the oracle replays the exact
  * bytes). The all-zero vector quantizes to all-zero codes. Cosine is
  * scale-invariant, so the codes alone support similarity — no
  * per-vector scale column needed for ranking. */
case class QuantizeI8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with NullElementAware {

  override protected def arrayChildren: Seq[Expression] = Seq(child)
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_i8 expects array<float>, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val checkNulls = mayHaveNullElements
    var m = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && x.isNullAt(i)) return null
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > m) m = v
      i += 1
    }
    val out = new Array[Byte](n)
    if (m > 0.0) {
      i = 0
      while (i < n) {
        out(i) = math.floor(x.getFloat(i).toDouble * 127.0 / m + 0.5).toByte
        i += 1
      }
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      val nullCheck = if (mayHaveNullElements)
        s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $v = java.lang.Math.abs((double) $a.getFloat($i));
         |  if ($v > $m) $m = $v;
         |}
         |byte[] $out = new byte[$n];
         |if (!${ev.isNull} && $m > 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (byte) java.lang.Math.floor(
         |      (double) $a.getFloat($i) * 127.0 / $m + 0.5);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}

/** cosine_i8(binary, binary) → double over int8 codes: integer dot and
  * norms (exact in long), one double division at the end — the
  * quantized scan is pure integer multiply-adds inside whole-stage
  * codegen. Zero-norm guard returns 0 like cosine_f32. */
case class CosineI8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right)
      .forall(_.dataType == org.apache.spark.sql.types.BinaryType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_i8 expects binary args, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val xv = x(i).toLong
      val yv = y(i).toLong
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xv = (long) $a[$i];
         |  long $yv = (long) $b[$i];
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0L || $nb == 0L) ? 0.0 :
         |  (double) $dot / (java.lang.Math.sqrt((double) $na)
         |    * java.lang.Math.sqrt((double) $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineI8 = copy(left = newLeft, right = newRight)
}

/** pq_encode(array<float>) → bigint: product-quantization encode+pack
  * in ONE codegen pass (graft.ml.PQ's ingest-time kernel). For each of
  * `m` sub-spaces the generated loop finds the argmin-distance
  * centroid among `k` (strict `<`, so ties keep the SMALLEST index —
  * the same first-minimum rule as the composable
  * `array_position(array_min)` twin in [[graft.ml.PQ.encode]]) and
  * packs the code into nibble `mm` of one long. The codebook rides
  * into generated code as a reference object (flat double[],
  * `((mm·k + kk)·dsub + d)` layout), not as a 128-way literal
  * expression tree — the HOF formulation of the same math runs on the
  * interpreted higher-order-function path and is ~40× slower at 1M
  * rows. Distance accumulation is the identical left fold, so the two
  * paths are bit-equal (asserted in PQSpec).
  *
  * Null policy: NULL array → NULL; a NULL element → NULL (checked only
  * when the child schema admits null elements); an array shorter than
  * m·dsub → NULL (the composable twin's slices would go null there
  * too, never silently zero-pad). */
case class PQEncodeI64(child: Expression, m: Int, k: Int,
                       flatCents: IndexedSeq[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with NullElementAware {
  private val bits = if (k <= 16) 4 else 8
  require(m >= 1 && k >= 1 && k <= 256 && m * bits <= 64,
    s"pq_encode codes must fit one long: m=$m, k=$k (bits=$bits)")
  require(flatCents.length % (m * k) == 0 && flatCents.nonEmpty,
    "flat codebook length must be m*k*dsub")
  private val dsub = flatCents.length / (m * k)
  @transient private lazy val cents: Array[Double] = flatCents.toArray

  override protected def arrayChildren: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true // short input also surfaces NULL
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode expects array<float>, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n < m * dsub) return null
    if (mayHaveNullElements) {
      var i = 0
      while (i < m * dsub) {
        if (x.isNullAt(i)) return null
        i += 1
      }
    }
    var packed = 0L
    var mm = 0
    while (mm < m) {
      var best = 0
      var bestd = Double.MaxValue
      var kk = 0
      while (kk < k) {
        val base = (mm * k + kk) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          val t = x.getFloat(mm * dsub + d).toDouble - cents(base + d)
          acc += t * t
          d += 1
        }
        if (acc < bestd) { bestd = acc; best = kk }
        kk += 1
      }
      packed += best.toLong << (bits * mm)
      mm += 1
    }
    packed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cref = ctx.addReferenceObj("pqCents", cents, "double[]")
      val i = ctx.freshName("i")
      val mm = ctx.freshName("mm")
      val kk = ctx.freshName("kk")
      val d = ctx.freshName("d")
      val base = ctx.freshName("base")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      val best = ctx.freshName("best")
      val bestd = ctx.freshName("bestd")
      val packed = ctx.freshName("packed")
      // gated on the length check: a short array must NOT run the
      // element scan — isNullAt past numElements() throws on
      // GenericArrayData, where the interpreted path returns NULL
      val nullCheck = if (mayHaveNullElements)
        s"""
           |if (!${ev.isNull}) {
           |  for (int $i = 0; $i < ${m * dsub}; $i++) {
           |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  }
           |}
         """.stripMargin
      else ""
      s"""
         |if ($a.numElements() < ${m * dsub}) { ${ev.isNull} = true; }
         |$nullCheck
         |if (!${ev.isNull}) {
         |  long $packed = 0L;
         |  for (int $mm = 0; $mm < $m; $mm++) {
         |    int $best = 0; double $bestd = Double.MAX_VALUE;
         |    for (int $kk = 0; $kk < $k; $kk++) {
         |      int $base = ($mm * $k + $kk) * $dsub;
         |      double $acc = 0.0;
         |      for (int $d = 0; $d < $dsub; $d++) {
         |        double $t = (double) $a.getFloat($mm * $dsub + $d)
         |          - $cref[$base + $d];
         |        $acc += $t * $t;
         |      }
         |      if ($acc < $bestd) { $bestd = $acc; $best = $kk; }
         |    }
         |    $packed += ((long) $best) << ($bits * $mm);
         |  }
         |  ${ev.value} = $packed;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PQEncodeI64 =
    copy(child = newChild)
}

/** pq_encode_residual(array<float>, array<double>) → bigint: the
  * IVFADC ingest kernel (Jégou §VII — "IVFADC: coarse quantizer +
  * product quantizer on the residual"). Identical loop to
  * [[PQEncodeI64]] except the distance operand is the RESIDUAL
  * `x[d] − c[d]` (vector minus its coarse-bucket centroid, subtracted
  * in double inside the loop — no residual array ever materializes).
  * Null policy matches PQEncodeI64; a short CENTROID array also
  * surfaces NULL. */
case class PQEncodeResidualI64(left: Expression, right: Expression,
                               m: Int, k: Int, flatCents: IndexedSeq[Double])
    extends BinaryExpression with NullElementAware {
  private val bits = if (k <= 16) 4 else 8
  require(m >= 1 && k >= 1 && k <= 256 && m * bits <= 64,
    s"pq_encode_residual codes must fit one long: m=$m, k=$k (bits=$bits)")
  require(flatCents.length % (m * k) == 0 && flatCents.nonEmpty,
    "flat codebook length must be m*k*dsub")
  private val dsub = flatCents.length / (m * k)
  @transient private lazy val cents: Array[Double] = flatCents.toArray

  override protected def arrayChildren: Seq[Expression] = Seq(left, right)
  override def nullable: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode_residual expects (array<float>, array<double>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val c = b.asInstanceOf[ArrayData]
    val need = m * dsub
    if (x.numElements() < need || c.numElements() < need) return null
    if (mayHaveNullElements) {
      var i = 0
      while (i < need) {
        if (x.isNullAt(i) || c.isNullAt(i)) return null
        i += 1
      }
    }
    var packed = 0L
    var mm = 0
    while (mm < m) {
      var best = 0
      var bestd = Double.MaxValue
      var kk = 0
      while (kk < k) {
        val base = (mm * k + kk) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          val idx = mm * dsub + d
          val t = (x.getFloat(idx).toDouble - c.getDouble(idx)) - cents(base + d)
          acc += t * t
          d += 1
        }
        if (acc < bestd) { bestd = acc; best = kk }
        kk += 1
      }
      packed += best.toLong << (bits * mm)
      mm += 1
    }
    packed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) => {
      val cref = ctx.addReferenceObj("pqResCents", cents, "double[]")
      val i = ctx.freshName("i")
      val mm = ctx.freshName("mm")
      val kk = ctx.freshName("kk")
      val d = ctx.freshName("d")
      val idx = ctx.freshName("idx")
      val base = ctx.freshName("base")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      val best = ctx.freshName("best")
      val bestd = ctx.freshName("bestd")
      val packed = ctx.freshName("packed")
      // gated on the length check — see PQEncodeI64
      val nullCheck = if (mayHaveNullElements)
        s"""
           |if (!${ev.isNull}) {
           |  for (int $i = 0; $i < ${m * dsub}; $i++) {
           |    if ($a.isNullAt($i) || $c.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  }
           |}
         """.stripMargin
      else ""
      s"""
         |if ($a.numElements() < ${m * dsub} || $c.numElements() < ${m * dsub}) {
         |  ${ev.isNull} = true;
         |}
         |$nullCheck
         |if (!${ev.isNull}) {
         |  long $packed = 0L;
         |  for (int $mm = 0; $mm < $m; $mm++) {
         |    int $best = 0; double $bestd = Double.MAX_VALUE;
         |    for (int $kk = 0; $kk < $k; $kk++) {
         |      int $base = ($mm * $k + $kk) * $dsub;
         |      double $acc = 0.0;
         |      for (int $d = 0; $d < $dsub; $d++) {
         |        int $idx = $mm * $dsub + $d;
         |        double $t = ((double) $a.getFloat($idx) - $c.getDouble($idx))
         |          - $cref[$base + $d];
         |        $acc += $t * $t;
         |      }
         |      if ($acc < $bestd) { $bestd = $acc; $best = $kk; }
         |    }
         |    $packed += ((long) $best) << ($bits * $mm);
         |  }
         |  ${ev.value} = $packed;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PQEncodeResidualI64 =
    copy(left = newLeft, right = newRight)
}

/** pq_adc_lut(bigint, int) → double: batched ADC scoring where ALL
  * (query, bucket) lookup tables ride as ONE reference double[]
  * (`flatLuts`, pair-major: `pair·m·k + mm·k + code`) and each
  * candidate row carries only a small pair INDEX. The first batched
  * IVFADC design shipped the 16 KB LUT per candidate row through the
  * explode — more bytes per candidate than the raw f32 vectors it was
  * supposed to avoid (measured 2.7 s vs 0.3 s for the i8 batch at 1M);
  * a row-side index into a plan-side table is the FAISS shape. */
case class PQAdcLut(left: Expression, right: Expression,
                    m: Int, k: Int, flatLuts: IndexedSeq[Double])
    extends BinaryExpression {
  private val bits = if (k <= 16) 4 else 8
  require(m >= 1 && k >= 1 && k <= 256 && m * bits <= 64,
    s"pq_adc_lut codes must fit one long: m=$m, k=$k")
  require(flatLuts.nonEmpty && flatLuts.length % (m * k) == 0,
    "flatLuts length must be a multiple of m*k")
  @transient private lazy val luts: Array[Double] = flatLuts.toArray

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc_lut expects (bigint, int), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val packed = a.asInstanceOf[Long]
    val pair = b.asInstanceOf[Int]
    val mask = (1L << bits) - 1L
    val base = pair * m * k
    var acc = 0.0
    var mm = 0
    while (mm < m) {
      val code = ((packed >> (bits * mm)) & mask).toInt
      acc += luts(base + mm * k + code)
      mm += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lref = ctx.addReferenceObj("pqLuts", luts, "double[]")
      val mm = ctx.freshName("mm")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val code = ctx.freshName("code")
      val mask = (1L << bits) - 1L
      s"""
         |int $base = $b * ${m * k};
         |double $acc = 0.0;
         |for (int $mm = 0; $mm < $m; $mm++) {
         |  int $code = (int) (($a >> ($bits * $mm)) & ${mask}L);
         |  $acc += $lref[$base + $mm * $k + $code];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PQAdcLut =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  import NativeFunctions.fn

  /** The native vector functions: rows of the one table
    * [[NativeFunctions]] registers and [[GraftExtensions]] injects. */
  val functions: Seq[NativeFunctions.Row] = Seq(
    fn(classOf[DotF32], "dot_f32", "dot_f32(a, b) - float-array dot product")(
      c => DotF32(c(0), c(1))),
    fn(classOf[CosineF32], "cosine_f32",
      "cosine_f32(a, b) - float-array cosine similarity")(
      c => CosineF32(c(0), c(1))),
    fn(classOf[QuantizeI8], "quantize_i8",
      "quantize_i8(a) - symmetric int8 codes of a float array")(
      c => QuantizeI8(c(0))),
    fn(classOf[CosineI8], "cosine_i8", "cosine_i8(a, b) - cosine over int8 codes")(
      c => CosineI8(c(0), c(1))))
}
