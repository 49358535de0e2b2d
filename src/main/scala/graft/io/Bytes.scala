package graft.io

/** Fixed-width integer and IEEE float reads over a byte array, in either
  * byte order — the one set of primitives every binary format in this
  * package decodes through. `be = true` reads big-endian (SAS
  * transport, big-endian sas7bdat, pickle's BINFLOAT); the default is
  * little-endian, the order of every other supported layout. */
private[graft] object Bytes {

  def u1(b: Array[Byte], at: Int): Int = b(at) & 0xff

  /** `n` (1–8) bytes at `at` as an unsigned value — also the SAS
    * truncated-double and IBM-mantissa reads, whose widths vary. */
  def uN(b: Array[Byte], at: Int, n: Int, be: Boolean = false): Long = {
    var v = 0L
    if (be) { var i = 0; while (i < n) { v = (v << 8) | (b(at + i) & 0xffL); i += 1 } }
    else { var i = n - 1; while (i >= 0) { v = (v << 8) | (b(at + i) & 0xffL); i -= 1 } }
    v
  }

  def u2(b: Array[Byte], at: Int, be: Boolean = false): Int = uN(b, at, 2, be).toInt
  def i2(b: Array[Byte], at: Int, be: Boolean = false): Int = u2(b, at, be).toShort.toInt
  def u4(b: Array[Byte], at: Int, be: Boolean = false): Long = uN(b, at, 4, be)
  def i4(b: Array[Byte], at: Int, be: Boolean = false): Int = uN(b, at, 4, be).toInt
  def i8(b: Array[Byte], at: Int, be: Boolean = false): Long = uN(b, at, 8, be)
  def f4(b: Array[Byte], at: Int, be: Boolean = false): Float =
    java.lang.Float.intBitsToFloat(i4(b, at, be))
  def f8(b: Array[Byte], at: Int, be: Boolean = false): Double =
    java.lang.Double.longBitsToDouble(i8(b, at, be))

  /** The little-endian bytes of a double — the 8-byte element an SPSS
    * case slot holds. */
  def f8Bytes(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    Array.tabulate[Byte](8)(i => ((bits >> (8 * i)) & 0xff).toByte)
  }

  /** A forward cursor over the same reads for record streams (SPSS
    * dictionaries, pickle opcodes); running past the end fails with
    * `truncated`. */
  final class Cursor(val bytes: Array[Byte], truncated: String) {
    var pos = 0
    private def take(n: Int): Int = {
      require(n >= 0 && pos + n <= bytes.length, truncated)
      pos += n
      pos - n
    }
    def u1(): Int = Bytes.u1(bytes, take(1))
    def u2(): Int = Bytes.u2(bytes, take(2))
    def i4(): Int = Bytes.i4(bytes, take(4))
    def u4(): Long = Bytes.u4(bytes, take(4))
    def i8(): Long = Bytes.i8(bytes, take(8))
    def f8(be: Boolean = false): Double = Bytes.f8(bytes, take(8), be)
    def s(n: Int): Array[Byte] = {
      val at = take(n)
      java.util.Arrays.copyOfRange(bytes, at, at + n)
    }
    def skip(n: Int): Unit = take(n)
  }
}
