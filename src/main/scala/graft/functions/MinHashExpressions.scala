package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row-local MinHash kernels (Broder 1997) for the near-duplicate
  * pipeline of [[graft.text.Dedup]].
  *
  * The relational signature plan (posexplode the tokens, build each
  * k-shingle with `lead()` windows, group by document and take one
  * `min` per seed) shuffles every shingle of the corpus to compute a
  * value that needs only ONE row's token array. These expressions
  * compute it inside the row, so the hashing runs in the scan's tasks
  * and no shingle ever crosses an exchange.
  *
  * Both hash families stay bit-identical to their Catalyst spellings:
  *  - md5: `md5_60(b)` is the top 60 bits of md5 — the first 15 hex
  *    digits parsed base 16, i.e. DuckDB's
  *    `CAST('0x'||substr(md5(s),1,15) AS BIGINT)` — and seed j hashes
  *    the string `"<j>_" ‖ decimal(h)`, so any engine with md5 replays
  *    every signature;
  *  - xxhash: Spark's `xxhash64(shingle)` (seed 42), then per seed
  *    `xxhash64(j, h)` = `hashLong(h, hashInt(j, 42))`.
  * One `MessageDigest` serves a whole task (codegen mutable state; one
  * per thread when interpreted), never one per row. */
object MinHasher {

  val Families: Set[String] = Set("md5", "xxhash")

  /** Spark's `xxhash64` seed. */
  private[functions] val XxSeed = 42L
}

/** Top 60 bits of the md5 digest of a byte range: the first eight
  * digest bytes read big-endian, shifted right by four. */
final class Md5SixtyHasher {
  private val md = MessageDigest.getInstance("MD5")
  private val out = new Array[Byte](16)

  def hash(b: Array[Byte]): Long = hash(b, 0, b.length)

  def hash(b: Array[Byte], off: Int, len: Int): Long = {
    md.update(b, off, len)
    finish()
  }

  /** md5 of `prefix ‖ b[off, off + len)`. */
  def hash(prefix: Array[Byte], b: Array[Byte], off: Int, len: Int): Long = {
    md.update(prefix)
    md.update(b, off, len)
    finish()
  }

  private def finish(): Long = {
    md.digest(out, 0, 16)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

/** The per-task state of `minhash_sig`: reusable byte buffers for the
  * row's joined tokens and the decimal of a shingle hash. */
final class MinHasher(k: Int, numHashes: Int, md5: Boolean) {
  import MinHasher.XxSeed
  private val md = if (md5) new Md5SixtyHasher else null
  private val seedPrefix = Array.tabulate(numHashes)(j => s"${j}_".getBytes("UTF-8"))
  private val seedHash = Array.tabulate(numHashes)(j => XXH64.hashInt(j, XxSeed))
  private var doc = new Array[Byte](256)
  private var starts = new Array[Int](64)
  private var ends = new Array[Int](64)
  private val digits = new Array[Byte](20)

  /** The signature of one token array; null below k tokens (such a
    * row has no shingle). Shingle p is the tokens p until p + k joined
    * by one space — one contiguous slice of the joined row, so no
    * shingle is materialised. */
  def sig(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return null
    if (starts.length < n) {
      starts = new Array[Int](n); ends = new Array[Int](n)
    }
    var bytes = n - 1
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) throw new IllegalArgumentException(
        "minhash_sig: null token in array")
      bytes += tokens.getUTF8String(i).numBytes()
      i += 1
    }
    if (doc.length < bytes) doc = new Array[Byte](math.max(bytes, doc.length * 2))
    var at = 0
    i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (i > 0) { doc(at) = ' '; at += 1 }
      starts(i) = at
      t.writeToMemory(doc, Platform.BYTE_ARRAY_OFFSET + at)
      at += t.numBytes()
      ends(i) = at
      i += 1
    }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var p = 0
    while (p + k <= n) {
      val off = starts(p)
      val len = ends(p + k - 1) - off
      var j = 0
      if (md5) {
        val h = md.hash(doc, off, len)
        val dl = decimal(h)
        while (j < numHashes) {
          val v = md.hash(seedPrefix(j), digits, 20 - dl, dl)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      } else {
        val h = XXH64.hashUnsafeBytes(doc, Platform.BYTE_ARRAY_OFFSET + off, len, XxSeed)
        while (j < numHashes) {
          val v = XXH64.hashLong(h, seedHash(j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      p += 1
    }
    new GenericArrayData(mins)
  }

  /** Writes the decimal digits of a non-negative long right-aligned
    * into `digits` and returns their count. */
  private def decimal(h: Long): Int = {
    var v = h
    var at = 20
    do {
      at -= 1
      digits(at) = ('0' + (v % 10)).toByte
      v /= 10
    } while (v != 0)
    20 - at
  }
}

/** md5_60(binary) → bigint: the top 60 bits of the md5 digest, equal to
  * `CAST('0x'||substr(md5(b),1,15) AS BIGINT)` in any SQL engine. A
  * string argument is read as its UTF-8 bytes. */
case class Md5Sixty(child: Expression) extends UnaryExpression {

  @transient private lazy val hasher =
    ThreadLocal.withInitial[Md5SixtyHasher](() => new Md5SixtyHasher)

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_60 expects a binary or string argument, got $t")
  }

  override def nullSafeEval(v: Any): Any = v match {
    case b: Array[Byte] => hasher.get.hash(b)
    case s: UTF8String => hasher.get.hash(s.getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[Md5SixtyHasher].getName
    val h = ctx.addMutableState(cls, "md5Sixty", v => s"$v = new $cls();")
    val bytes = if (child.dataType == BinaryType) "" else ".getBytes()"
    defineCodeGen(ctx, ev, c => s"$h.hash($c$bytes)")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Sixty =
    copy(child = newChild)
}

/** minhash_sig(tokens, k, numHashes, family) → array<bigint>: the
  * MinHash signature of the row's k-shingles (tokens joined by one
  * space), one min per seed 0 until numHashes; NULL below k tokens.
  * k, numHashes and family (`md5` | `xxhash`) are fixed at plan time. */
case class MinHashSig(child: Expression, k: Int, numHashes: Int, family: String)
    extends UnaryExpression {

  require(k >= 1, s"minhash_sig k must be >= 1, got $k")
  require(numHashes >= 1, s"minhash_sig numHashes must be >= 1, got $numHashes")
  require(MinHasher.Families.contains(family),
    s"minhash_sig family must be one of ${MinHasher.Families.mkString("|")}, got $family")

  private def md5: Boolean = family == "md5"

  @transient private lazy val hasher = ThreadLocal.withInitial[MinHasher](
    () => new MinHasher(k, numHashes, md5))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects an array<string> argument, got $t")
  }

  override def nullSafeEval(a: Any): Any = hasher.get.sig(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[MinHasher].getName
    val h = ctx.addMutableState(cls, "minHasher",
      v => s"$v = new $cls($k, $numHashes, $md5);")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $h.sig($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashExpressions {
  import NativeFunctions.{fn, intLit, strLit}

  /** [[Md5Sixty]] as a Column; needs no function registration. */
  def md5_60(c: Column): Column =
    GraftColumnBridge.native(c)(e => Md5Sixty(e.head))

  /** [[MinHashSig]] as a Column; needs no function registration. */
  def minhashSig(tokens: Column, k: Int, numHashes: Int, family: String): Column =
    GraftColumnBridge.native(tokens)(e => MinHashSig(e.head, k, numHashes, family))

  /** The MinHash rows of the one table [[NativeFunctions]] registers. */
  val functions: Seq[NativeFunctions.Row] = Seq(
    fn(classOf[Md5Sixty], "md5_60",
      "md5_60(bin) - top 60 bits of the md5 digest as a bigint " +
        "(CAST('0x'||substr(md5(bin),1,15) AS BIGINT))", "hash_funcs")(
      c => Md5Sixty(c(0))),
    fn(classOf[MinHashSig], "minhash_sig",
      "minhash_sig(tokens, k, numHashes, family) - MinHash signature of " +
        "the k-word shingles of a token array; family md5 or xxhash")(
      c => MinHashSig(c(0), intLit(c(1), "minhash_sig k"),
        intLit(c(2), "minhash_sig numHashes"), strLit(c(3), "minhash_sig family"))))
}
