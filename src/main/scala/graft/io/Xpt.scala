package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pure-JVM SAS Transport (.xpt, V5) ingest over a `binaryFile` scan —
  * completes `read_data`'s pandas `read_sas` parity (which dispatches
  * .sas7bdat → [[Sas]] and .xpt → here; gofast/api/property.py:2790).
  *
  * The layout parsed here is SAS's OWN publicly documented one
  * (Technical Note TS-140, "The RECORD LAYOUT of a SAS Transport
  * file"): 80-byte card records, 140-byte NAMESTR variable entries
  * with big-endian integer fields, and row-major data whose numerics
  * are 8-byte big-endian IBM System/360 floats. The golden fixture is
  * handcrafted by tools/make_xpt_fixture.py and validated by
  * pandas.read_sas(format="xport") — an independent public
  * implementation — before check-in (the [[Sas]] anchoring).
  *
  * KNOWN pandas QUIRK documented here because it shaped the fixtures:
  * pandas' vectorized IBM decode never special-cases the all-zero
  * pattern (true zero) and returns ~5.4e-79 for it; this reader
  * follows the spec (mantissa 0 → 0.0) and XptSpec pins that case
  * directly.
  *
  * SUPPORTED SUBSET, refused loudly outside it: single-member V5
  * files with 140-byte NAMESTRs; CPORT archives, V8 136/135-byte
  * NAMESTR variants and multi-member libraries refuse.
  */
object Xpt extends TallCells {

  type Meta = XptMeta

  final case class XptVar(name: String, width: Int, isNum: Boolean,
                          pos: Int)

  final case class XptMeta(vars: Seq[XptVar], rowLength: Int, dataAt: Int)

  private def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"xpt: $msg — the supported subset is single-member V5 transport " +
        "files; re-export once (pandas.read_sas(...).to_parquet(...)) " +
        "for anything outside it.")

  private val LibraryHeader =
    "HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!" + "0" * 30 + "  "
  private val MemberPrefix =
    "HEADER RECORD*******MEMBER  HEADER RECORD!!!!!!!"
  private val NamestrPrefix =
    "HEADER RECORD*******NAMESTR HEADER RECORD!!!!!!!"
  private val ObsHeader =
    "HEADER RECORD*******OBS     HEADER RECORD!!!!!!!" + "0" * 30 + "  "

  private def card(bytes: Array[Byte], i: Int): String = {
    require((i + 1) * 80 <= bytes.length, s"xpt: truncated at card $i")
    new String(bytes, i * 80, 80,
      java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Big-endian IBM 360 double → IEEE; null for the missing classes
    * (., ._, .A–.Z: a letter/dot first byte over an all-zero tail). */
  private[graft] def ibmToDouble(b: Array[Byte], at: Int): java.lang.Double = {
    val b0 = b(at) & 0xff
    val mant = Bytes.uN(b, at + 1, 7, be = true)
    if (mant == 0L) {
      if (b0 == 0) java.lang.Double.valueOf(0.0)
      else if (b0 == '.' || b0 == '_' ||
        (b0 >= 'A' && b0 <= 'Z') || b0 == 0x5F) null
      else java.lang.Double.valueOf(0.0) // exponent over zero mantissa
    } else {
      val sign = if ((b0 & 0x80) != 0) -1.0 else 1.0
      val exp = b0 & 0x7f
      java.lang.Double.valueOf(
        sign * Math.scalb(mant.toDouble, 4 * (exp - 64) - 56))
    }
  }

  /** Largest IBM-representable magnitude: 16^63 ≈ 7.24e75 — far below
    * IEEE's 1.8e308, so overflow must refuse, not wrap the 7-bit
    * exponent into a silently wrong value. */
  private val IbmMax = Math.scalb(1.0, 252)
  private val IbmMinNormal = Math.scalb(1.0, -260) // 16^-65

  /** IEEE double → big-endian IBM 360 bytes (null/NaN = SAS '.';
    * magnitudes past 16^63 refuse loudly; sub-16^-65 underflow to
    * zero, the standard float semantics). */
  private[graft] def doubleToIbm(v: java.lang.Double): Array[Byte] = {
    if (v == null || v.isNaN) return ('.'.toByte) +: new Array[Byte](7)
    val x = v.doubleValue()
    if (math.abs(x) >= IbmMax)
      refuse(f"$x%g exceeds the IBM float range (|x| < 16^63 ≈ 7.24e75)" +
        " — the transport format cannot represent it")
    if (x == 0.0 || math.abs(x) < IbmMinNormal)
      return new Array[Byte](8)
    val sign = if (x < 0) 0x80 else 0
    val ax = math.abs(x)
    val k = Math.getExponent(ax) + 1 // ax = f * 2^k, 0.5 <= f < 1
    var h = Math.floorDiv(k + 3, 4)
    var mant = Math.round(Math.scalb(ax, 56 - 4 * h))
    if (mant >= (1L << 56)) { mant >>= 4; h += 1 }
    val out = new Array[Byte](8)
    out(0) = (sign | (h + 64)).toByte
    var i = 0
    while (i < 7) { out(7 - i) = ((mant >> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  // --------------------------------------------------------------
  // metadata
  // --------------------------------------------------------------

  def parseMeta(bytes: Array[Byte]): XptMeta = {
    require(bytes.length >= 80 * 8 && bytes.length % 80 == 0,
      s"xpt: ${bytes.length} bytes is not a whole number of 80-byte cards")
    val c0 = card(bytes, 0)
    if (c0.contains("**COMPRESSED**")) refuse("CPORT archive")
    require(c0 == LibraryHeader, "xpt: not a transport file (bad card 0)")
    val member = card(bytes, 3)
    if (!member.startsWith(MemberPrefix))
      refuse("member header not at card 3")
    val nsLen = member.substring(75, 78).trim.toInt
    if (nsLen != 140) refuse(s"NAMESTR length $nsLen (V5 uses 140)")
    val nsHeader = card(bytes, 7)
    if (!nsHeader.startsWith(NamestrPrefix))
      refuse("NAMESTR header not at card 7")
    val k = nsHeader.substring(54, 58).trim.toInt
    require(k > 0, "xpt: zero variables")
    val nsCards = (140 * k + 79) / 80
    val obsAt = 8 + nsCards
    if (card(bytes, obsAt) != ObsHeader)
      refuse(s"OBS header not found after $k NAMESTRs (multi-member " +
        "libraries are not supported)")

    val vars = (0 until k).map { i =>
      val at = 8 * 80 + 140 * i
      val ntype = Bytes.i2(bytes, at, be = true)
      require(ntype == 1 || ntype == 2, s"xpt: variable $i has type $ntype")
      val width = Bytes.i2(bytes, at + 4, be = true)
      val name = new String(bytes, at + 8, 8,
        java.nio.charset.StandardCharsets.ISO_8859_1).trim
      val pos = Bytes.i4(bytes, at + 84, be = true) // npos: after nfl/nfd/nfj, nfill, niform,
                             // nifl/nifd (TS-140 NAMESTR layout)
      if (ntype == 1 && (width < 2 || width > 8))
        refuse(s"numeric '$name' is $width bytes (2-8 supported)")
      XptVar(name, width, ntype == 1, pos)
    }
    val rowLength = vars.map(_.width).sum
    XptMeta(vars, rowLength, (obsAt + 1) * 80)
  }

  def columns(meta: XptMeta): Seq[(String, Boolean)] =
    meta.vars.map(v => (v.name, v.isNum))

  /** Decode every observation. Trailing card padding is recognized as
    * all-blank rows at the tail (numeric fields of a REAL row are IBM
    * bytes, never 0x20-filled). */
  def rows(bytes: Array[Byte], meta: XptMeta): Iterator[Seq[Any]] = {
    val dataLen = bytes.length - meta.dataAt
    require(dataLen >= 0, "xpt: data section missing")
    var n = dataLen / meta.rowLength
    def allBlank(r: Long): Boolean = {
      val base = meta.dataAt + r * meta.rowLength
      (0 until meta.rowLength).forall(j => bytes((base + j).toInt) == ' ')
    }
    while (n > 0 && allBlank(n - 1)) n -= 1
    rowsOf(bytes, meta, n)
  }

  /** Exactly `n` observations from `meta.dataAt`. */
  private def rowsOf(bytes: Array[Byte], meta: XptMeta,
                     n: Long): Iterator[Seq[Any]] =
    (0L until n).iterator.map { r =>
      val base = (meta.dataAt + r * meta.rowLength).toInt
      meta.vars.map { v =>
        val at = base + v.pos
        if (v.isNum) {
          if (v.width == 8) ibmToDouble(bytes, at)
          else { // truncated float: right-pad with zeros
            val full = new Array[Byte](8)
            System.arraycopy(bytes, at, full, 0, v.width)
            ibmToDouble(full, 0)
          }
        } else {
          var end = at + v.width
          while (end > at && (bytes(end - 1) == ' '.toByte ||
            bytes(end - 1) == 0)) end -= 1
          if (end == at) null
          else new String(bytes, at, end - at,
            java.nio.charset.StandardCharsets.UTF_8)
        }
      }
    }

  /** Range-parallel scan of ONE large .xpt: observations are a fixed
    * stride after the OBS header, so after a bounded driver read of
    * the NAMESTRs each task preads its own row range. The trailing
    * blank-card pad is trimmed ON THE DRIVER (tiny backward preads),
    * so chunk decodes never guess — interior all-blank rows survive
    * exactly as the whole-file reader keeps them. */
  def readPaged(spark: SparkSession, path: String,
                partitions: Int): DataFrame = {
    val meta = PagedScan.driverMeta(spark, path, align = 80)(parseMeta)
    val fileLen = PagedScan.fileLength(spark, path)
    require(fileLen % 80 == 0, s"xpt: $fileLen bytes is not card-aligned")
    var n = (fileLen - meta.dataAt) / meta.rowLength
    // trim pad-born blank rows from the tail: pad < 80 bytes, so only
    // a bounded run of final rows can be padding — walk backward
    var trimming = n > 0
    while (trimming && n > 0) {
      val base = meta.dataAt + (n - 1) * meta.rowLength
      val row = PagedScan.readTail(spark, path, base, meta.rowLength)
      if (row.forall(_ == ' '.toByte)) n -= 1 else trimming = false
    }
    val cols = columns(meta)
    PagedScan.scan(spark, path, Cells.schema, n, meta.dataAt,
      meta.rowLength.toLong, partitions) { (buf, startRow, nRows) =>
      Cells.cells(path, cols, rowsOf(buf, meta.copy(dataAt = 0), nRows),
        startRow)
    }
  }

  // --------------------------------------------------------------
  // writer — V5, doubles + fixed-width strings
  // --------------------------------------------------------------

  private def rec80(s: String): String = {
    require(s.length <= 80, s"card overflow: '$s'")
    s + " " * (80 - s.length)
  }

  /** Dump records as a single-member V5 transport file. Variable names
    * uppercase to 8 chars (the V5 limit) and must stay distinct. */
  def dumps(cols: Seq[(String, Boolean)], data: Seq[Seq[Any]]): Array[Byte] = {
    require(cols.nonEmpty, "dumps needs at least one column")
    data.foreach(r => require(r.length == cols.length,
      s"row arity ${r.length} != ${cols.length} columns"))
    val shortNames = cols.map(_._1.toUpperCase.take(8))
    require(shortNames.distinct.length == shortNames.length,
      s"xpt: names collide at the V5 8-char limit: $shortNames")
    val widths = cols.zipWithIndex.map { case ((_, isNum), i) =>
      if (isNum) 8
      else math.max(1, data.iterator.map(r =>
        Option(r(i)).fold(0)(_.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8).length))
        .foldLeft(0)(math.max))
    }
    val ts = "01JAN90:00:00:00"
    val sb = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit =
      sb.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w(LibraryHeader)
    w(rec80("SAS     SAS     SASLIB  6.06    bsd4.2" + " " * 26 + ts))
    w(rec80(ts))
    w(MemberPrefix + "000000000000000001600000000140  ")
    w(rec80("HEADER RECORD*******DSCRPTR HEADER RECORD!!!!!!!" + "0" * 30))
    w(rec80("SAS     GRAFT   SASDATA 6.06    bsd4.2" + " " * 26 + ts))
    w(rec80(ts))
    w(rec80(NamestrPrefix + "000000" + f"${cols.length}%04d" + "0" * 20))
    val ns = new java.io.ByteArrayOutputStream()
    def be2(v: Int): Unit = { ns.write((v >> 8) & 0xff); ns.write(v & 0xff) }
    var pos = 0
    cols.indices.foreach { i =>
      be2(if (cols(i)._2) 1 else 2); be2(0); be2(widths(i)); be2(i + 1)
      ns.write((shortNames(i) + " " * (8 - shortNames(i).length))
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      ns.write(Array.fill[Byte](40 + 8)(' '.toByte)) // label + format
      be2(0); be2(0); be2(0)
      ns.write(Array.fill[Byte](2)(' '.toByte))
      ns.write(Array.fill[Byte](8)(' '.toByte)) // informat
      be2(0); be2(0)
      ns.write((pos >> 24) & 0xff); ns.write((pos >> 16) & 0xff)
      ns.write((pos >> 8) & 0xff); ns.write(pos & 0xff)
      ns.write(Array.fill[Byte](52)(' '.toByte))
      pos += widths(i)
    }
    val nsb = ns.toByteArray
    sb.write(nsb)
    sb.write(Array.fill[Byte]((80 - nsb.length % 80) % 80)(' '.toByte))
    w(ObsHeader)
    val dataB = new java.io.ByteArrayOutputStream()
    data.foreach { r =>
      cols.indices.foreach { i =>
        if (cols(i)._2) {
          val d = r(i) match {
            case null => null
            case x: Double => java.lang.Double.valueOf(x)
            case other => throw new IllegalArgumentException(
              s"numeric column '${cols(i)._1}' got ${other.getClass.getName}")
          }
          dataB.write(doubleToIbm(d))
        } else {
          val s = r(i) match {
            case null => ""
            case x: String => x
            case other => throw new IllegalArgumentException(
              s"string column '${cols(i)._1}' got ${other.getClass.getName}")
          }
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          require(b.length <= widths(i), s"'$s' wider than ${widths(i)}")
          dataB.write(b)
          dataB.write(Array.fill[Byte](widths(i) - b.length)(' '.toByte))
        }
      }
    }
    val db = dataB.toByteArray
    // a FINAL row that encoded to all blanks (all-string schema, every
    // cell null/empty) is byte-identical to card padding: any reader —
    // this one, pandas, SAS itself — would drop it. Refuse rather than
    // write a file that reads back short. Numeric columns never blank
    // (IBM/missing bytes contain non-0x20), so only all-string rows hit.
    if (data.nonEmpty && db.length >= rowLen(widths) &&
        (db.length - rowLen(widths) until db.length)
          .forall(j => db(j) == ' '.toByte))
      refuse("the last row is entirely blank (all-string schema, every " +
        "cell null/empty) — indistinguishable from card padding on read; " +
        "drop it, reorder, or add a numeric column")
    sb.write(db)
    sb.write(Array.fill[Byte]((80 - db.length % 80) % 80)(' '.toByte))
    sb.toByteArray
  }

  private def rowLen(widths: Seq[Int]): Int = widths.sum
}
