package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** Pure-JVM SPSS system-file (.sav) ingest over a `binaryFile` scan —
  * closes the last `read_data` statistical-package descope (reference:
  * gofast/api/property.py:2781 read_data's extension map;
  * gofast/core/io.py:826 read_data).
  *
  * The layout parsed here is the one publicly documented in the PSPP
  * manual's "System File Format" appendix. NO independent .sav
  * implementation exists in this sandbox (no pyreadstat / R), so —
  * unlike [[Sas]], whose fixtures are pandas-validated — conformance
  * is anchored to the spec text: golden fixtures are assembled
  * field-by-field from the spec by tools/make_sav_fixture.py, a second
  * implementation kept deliberately separate from this file, and
  * SavSpec pins this parser against those exact bytes.
  *
  * SUPPORTED SUBSET, refused loudly outside it:
  *  - "$FL2" files, little-endian (layout_code 2 read LE; a
  *    byte-swapped layout_code refuses as big-endian);
  *  - compression 0 (none), 1 (bytecode) and 2 (zlib / .zsav, "$FL3"):
  *    the zlib block table from the PSPP-documented zheader/ztrailer
  *    is inflated with the JDK Inflater and the result IS a bytecode
  *    stream, decoded by the same compression-1 path. (No WITHIN-file
  *    paged scan for either compressed codec: bytecode units are
  *    sequential state — a command block's raw values can land in the
  *    next zlib block — so splitting needs a scan anyway; across-file
  *    parallelism via binaryFile is unaffected.)
  *  - string variables up to 255 bytes via continuation records AND
  *    very long strings (info subtype 14): a declared width past 255
  *    spans ceil(w/252) segment variables of width 255 whose first 252
  *    bytes are real data — folded back to one value on read.
  *
  * The Spark surface is [[TallCells]]' (the [[Sas]] shape): `read`
  * emits tall (row, key, typed value) cells, `records` pivots to the
  * wide record frame under the FIRST file's own dictionary. Variable
  * names prefer the long-name map (info subtype 13) and fall back to
  * the trimmed 8-byte short names AS STORED (typically uppercase —
  * the case pyreadstat/SPSS keep).
  */
object Sav extends TallCells {

  type Meta = SavMeta

  /** One variable: name, string width (0 = numeric), and the index of
    * its first 8-byte element inside a case. */
  final case class SavVar(name: String, width: Int, elementAt: Int)

  final case class SavMeta(caseSize: Int, compression: Int, nCases: Int,
                           bias: Double, sysmis: Double, vars: Seq[SavVar],
                           dataAt: Int)

  private val DefaultSysmis = -java.lang.Double.MAX_VALUE

  private def cursor(bytes: Array[Byte]) =
    new Bytes.Cursor(bytes, "sav: truncated record")

  private def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"sav: $msg — the supported subset is little-endian $$FL2/$$FL3 " +
        "files with no, bytecode or zlib compression; re-export once " +
        "(e.g. pyreadstat.read_sav(...).to_parquet(...)) for anything " +
        "outside it.")

  private def ascii(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.UTF_8)

  // --------------------------------------------------------------
  // dictionary
  // --------------------------------------------------------------

  /** Parse header + every dictionary record up to the 999 terminator. */
  def parseMeta(bytes: Array[Byte]): SavMeta = {
    require(bytes.length >= 176, "sav: file shorter than a header")
    val magic = ascii(java.util.Arrays.copyOfRange(bytes, 0, 4))
    require(magic == "$FL2" || magic == "$FL3",
      s"sav: bad magic '$magic' — not a system file")
    val c = cursor(bytes)
    c.skip(64) // magic + product name
    val layout = c.i4()
    if (layout != 2 && layout != 3) {
      if (layout == 0x02000000 || layout == 0x03000000)
        refuse("big-endian file (byte-swapped layout code)")
      refuse(s"unknown layout code $layout")
    }
    val caseSize = c.i4()
    val compression = c.i4()
    if (magic == "$FL3" && compression != 2)
      refuse(s"$$FL3 magic with compression $compression (zsav must be 2)")
    if (compression == 2 && magic != "$FL3")
      refuse("zlib compression (2) without the $FL3 magic")
    if (compression != 0 && compression != 1 && compression != 2)
      refuse(s"unknown compression code $compression")
    c.skip(4) // weight index
    val nCases = c.i4()
    val bias = c.f8()
    c.skip(9 + 8 + 64 + 3) // dates, label, padding
    require(c.pos == 176, "sav: header arithmetic broke")

    var sysmis = DefaultSysmis
    val shortVars = mutable.ArrayBuffer.empty[(String, Int)] // name, type
    var longNames = Map.empty[String, String]
    var vls = Map.empty[String, Int] // short name -> very-long width
    var done = false
    while (!done) {
      val rec = c.i4()
      rec match {
        case 2 => // variable
          val typ = c.i4()
          val hasLabel = c.i4()
          val nMissing = c.i4()
          c.skip(8) // print/write formats
          val name = ascii(c.s(8)).trim
          if (hasLabel == 1) {
            val len = c.i4()
            c.skip((len + 3) / 4 * 4)
          }
          if (nMissing != 0) c.skip(math.abs(nMissing) * 8)
          shortVars += ((name, typ))
        case 3 => // value labels: (f8 value, padded label) pairs
          val n = c.i4()
          var i = 0
          while (i < n) {
            c.skip(8)
            val len = c.bytes(c.pos) & 0xff
            c.skip((1 + len + 7) / 8 * 8)
            i += 1
          }
        case 4 => // value-label variable indexes
          val n = c.i4(); c.skip(4 * n)
        case 6 => // documents: 80-char lines
          val n = c.i4(); c.skip(80 * n)
        case 7 => // info records
          val subtype = c.i4()
          val size = c.i4()
          val count = c.i4()
          val payload = c.s(size * count)
          subtype match {
            case 4 if size == 8 && count >= 1 =>
              sysmis = Bytes.f8(payload, 0)
            case 13 => // long variable names: SHORT=Long \t SHORT=Long
              longNames = ascii(payload).split('\t').iterator
                .map(_.split("=", 2)).collect {
                  case Array(s, l) if s.nonEmpty => s.trim -> l.trim
                }.toMap
            case 14 =>
              // very long strings: SHORT=width pairs (width as ASCII
              // decimal, NUL-terminated, tab-separated — the PSPP
              // layout). A declared width past 255 splits the value
              // into 252-byte SEGMENTS, each its own 255-wide variable
              vls = ascii(payload).split('\t').iterator
                .map(_.replace("\u0000", "").trim)
                .filter(_.nonEmpty)
                .map(_.split("=", 2)).collect {
                  case Array(s, w) if s.nonEmpty && w.trim.nonEmpty =>
                    val wt = w.trim
                    if (!wt.forall(_.isDigit))
                      refuse(s"non-numeric very-long-string width '$wt'")
                    s.trim -> wt.toInt
                }.toMap
            case _ => ()
          }
        case 999 =>
          c.skip(4); done = true
        case other =>
          refuse(s"unknown dictionary record type $other at ${c.pos - 4}")
      }
    }

    // fold continuation records into their string variable; assign
    // element slots in declaration order. A very-long string (subtype
    // 14) spans ceil(width/252) SEGMENT variables — the first carries
    // the short name, each non-final segment is declared width 255 and
    // holds 252 real bytes; the group folds to ONE SavVar whose width
    // is the declared total (> 255 marks the segmented layout for the
    // decoder).
    val vars = mutable.ArrayBuffer.empty[SavVar]
    var el = 0
    var vi = 0
    while (vi < shortVars.length) {
      val (name, typ) = shortVars(vi)
      if (typ == -1) { el += 1; vi += 1 } // continuation: slot consumed
      else vls.get(name).filter(_ > 255) match {
        case Some(total) =>
          val k = (total + 251) / 252
          val startEl = el
          var seg = 0
          while (seg < k) {
            require(vi < shortVars.length && shortVars(vi)._2 != -1,
              s"sav: very-long string '$name' is missing segment $seg")
            el += 1; vi += 1 // the segment head
            while (vi < shortVars.length && shortVars(vi)._2 == -1) {
              el += 1; vi += 1 // its continuations
            }
            seg += 1
          }
          vars += SavVar(longNames.getOrElse(name, name), total, startEl)
        case None =>
          if (typ > 255) refuse(s"string variable '$name' of width $typ " +
            "without a subtype-14 very-long-string record")
          // no info-13 record → keep the stored (typically uppercase)
          // short name AS STORED: pyreadstat and SPSS keep the case, so
          // lowercasing here would diverge from other tools (r15 advice)
          vars += SavVar(longNames.getOrElse(name, name), typ, el)
          el += 1; vi += 1
      }
    }
    require(el == caseSize,
      s"sav: dictionary declares $el case elements, header says $caseSize")
    SavMeta(caseSize, compression, nCases, bias, sysmis, vars.toSeq, c.pos)
  }

  def columns(meta: SavMeta): Seq[(String, Boolean)] =
    meta.vars.map(v => (v.name, v.width == 0))

  // --------------------------------------------------------------
  // data
  // --------------------------------------------------------------

  /** Inflate a .zsav's zlib block table into the bytecode stream it
    * wraps. Layout (PSPP manual, "ZLIB Compressed Data Record"):
    * zheader {i64 zheader_ofs; i64 ztrailer_ofs; i64 ztrailer_len} at
    * meta.dataAt, blocks between, ztrailer {i64 -bias; i64 zero;
    * i32 block_size; i32 n_blocks; n x {i64 uncompressed_ofs;
    * i64 compressed_ofs; i32 uncompressed_size; i32 compressed_size}}.
    */
  private def inflateZsav(bytes: Array[Byte], meta: SavMeta): Array[Byte] = {
    val zheaderOfs = Bytes.i8(bytes, meta.dataAt)
    val ztrailerOfs = Bytes.i8(bytes, meta.dataAt + 8)
    val ztrailerLen = Bytes.i8(bytes, meta.dataAt + 16)
    if (zheaderOfs != meta.dataAt.toLong)
      refuse(s"zsav zheader self-offset $zheaderOfs != ${meta.dataAt}")
    require(ztrailerOfs + ztrailerLen <= bytes.length,
      "sav: zsav trailer overruns the file")
    val t = ztrailerOfs.toInt
    val nBlocks = Bytes.i4(bytes, t + 20)
    if (ztrailerLen != 24L + 24L * nBlocks)
      refuse(s"zsav trailer length $ztrailerLen != 24 + 24*$nBlocks")
    val out = new java.io.ByteArrayOutputStream()
    var b = 0
    while (b < nBlocks) {
      val d = t + 24 + 24 * b
      val compressedOfs = Bytes.i8(bytes, d + 8)
      val uncompressedSize = Bytes.i4(bytes, d + 16)
      val compressedSize = Bytes.i4(bytes, d + 20)
      require(compressedOfs + compressedSize <= bytes.length,
        s"sav: zsav block $b overruns the file")
      out.write(inflateOne(bytes, compressedOfs.toInt, compressedSize,
        uncompressedSize, b))
      b += 1
    }
    out.toByteArray
  }

  /** Inflate ONE zlib block (each block is its own complete zlib
    * stream — PSPP writes a fresh deflate per block, which is exactly
    * what makes the block-parallel zsav scan sound). */
  private def inflateOne(bytes: Array[Byte], at: Int, clen: Int,
                         ulen: Int, label: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(bytes, at, clen)
    val buf = new Array[Byte](ulen)
    var got = 0
    try {
      while (got < ulen && !inf.finished()) {
        val n = inf.inflate(buf, got, ulen - got)
        if (n == 0 && inf.needsInput())
          refuse(s"zsav block $label zlib stream truncated")
        got += n
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        refuse(s"zsav block $label is not a zlib stream (${e.getMessage})")
    } finally inf.end()
    if (got != ulen)
      refuse(s"zsav block $label inflated to $got of $ulen bytes")
    buf
  }

  /** Decode ONE filled element array into a case row — shared by the
    * whole-file walk and the zsav block-parallel decoder so the two
    * surfaces can never diverge on VLS/segment arithmetic. */
  private def decodeCase(els: Array[Array[Byte]],
                         meta: SavMeta): Seq[Any] = meta.vars.map { v =>
    if (v.width == 0) {
      val d = Bytes.f8(els(v.elementAt), 0)
      if (d == meta.sysmis || java.lang.Double.isNaN(d)) null
      else java.lang.Double.valueOf(d)
    } else {
      val raw: Array[Byte] =
        if (v.width <= 255) {
          val n = (v.width + 7) / 8
          val b = new Array[Byte](n * 8)
          var i = 0
          while (i < n) {
            els(v.elementAt + i).copyToArray(b, i * 8); i += 1
          }
          b
        } else {
          // very long string: k segments of 32 slots each (a width-
          // 255 segment occupies 256 bytes); the first 252 bytes of
          // every non-final segment are real data, the final segment
          // contributes its own declared width
          val k = (v.width + 251) / 252
          val acc = new java.io.ByteArrayOutputStream()
          var seg = 0
          while (seg < k) {
            val segStart = v.elementAt + seg * 32
            val segWidth =
              if (seg < k - 1) 252 else v.width - 252 * (k - 1)
            val b = new Array[Byte](((segWidth + 7) / 8) * 8)
            var i = 0
            while (i < (segWidth + 7) / 8) {
              els(segStart + i).copyToArray(b, i * 8); i += 1
            }
            acc.write(b, 0, segWidth)
            seg += 1
          }
          acc.toByteArray
        }
      var end = math.min(v.width, raw.length)
      while (end > 0 && (raw(end - 1) == ' '.toByte || raw(end - 1) == 0))
        end -= 1
      if (end == 0) null
      else new String(raw, 0, end, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** Decode every case into one Seq[Any] per row (Double or String,
    * null for sysmis / all-blank strings). A zlib file inflates its
    * block table first — the result IS a bytecode stream, decoded by
    * the compression-1 path below. */
  def rows(bytes: Array[Byte], meta: SavMeta): Iterator[Seq[Any]] = {
    if (meta.compression == 2)
      return rows(inflateZsav(bytes, meta),
        meta.copy(compression = 1, dataAt = 0))
    require(meta.nCases >= 0,
      "sav: unknown case count (-1) is outside the supported subset")
    val els = new Array[Array[Byte]](meta.caseSize)
    val out = mutable.ArrayBuffer.empty[Seq[Any]]
    val c = cursor(bytes)
    c.pos = meta.dataAt

    def emit(): Unit = out += decodeCase(els, meta)

    if (meta.compression == 0) {
      var r = 0
      while (r < meta.nCases) {
        var e = 0
        while (e < meta.caseSize) { els(e) = c.s(8); e += 1 }
        emit(); r += 1
      }
    } else {
      // bytecode: 8-command blocks; raw data follows each block
      val Spaces = "        ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val sysmisBytes = Bytes.f8Bytes(meta.sysmis)
      var e = 0
      var eof = false
      while (!eof && out.length < meta.nCases) {
        val block = c.s(8)
        val pending = mutable.ArrayBuffer.empty[Int] // slots awaiting raw
        val slots = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
        var i = 0
        var filled = 0
        while (i < 8 && !eof) {
          val cmd = block(i) & 0xff
          cmd match {
            case 0 => () // padding
            case 252 => eof = true
            case 253 => pending += (e + filled); filled += 1
            case 254 => slots += ((e + filled, Spaces)); filled += 1
            case 255 => slots += ((e + filled, sysmisBytes)); filled += 1
            case code =>
              slots += ((e + filled, Bytes.f8Bytes(code - meta.bias)))
              filled += 1
          }
          i += 1
        }
        pending.foreach(at => slots += ((at, c.s(8))))
        slots.sortBy(_._1).foreach { case (at, v) =>
          els(at % meta.caseSize) = v
          if (at % meta.caseSize == meta.caseSize - 1) emit()
        }
        e += filled
      }
      require(out.length == meta.nCases,
        s"sav: header promised ${meta.nCases} cases, stream held ${out.length}")
    }
    require(out.length == meta.nCases,
      s"sav: header promised ${meta.nCases} cases, data held ${out.length}")
    out.iterator
  }

  /** Range-parallel scan of ONE large .sav: uncompressed cases are a
    * fixed stride (caseSize × 8 bytes), so after a bounded driver read
    * of the dictionary each task preads and decodes its own case range
    * ([[Sas.readPaged]]'s story); a .zsav goes through the ztrailer
    * re-sync ([[zsavPaged]]); bytecode compression cannot split — it
    * refuses loudly toward the whole-file reader. Row ids are the true
    * case indexes. */
  def readPaged(spark: SparkSession, path: String,
                partitions: Int): DataFrame = {
    val meta = PagedScan.driverMeta(spark, path)(parseMeta)
    if (meta.compression == 2) return zsavPaged(spark, path, meta, partitions)
    if (meta.compression != 0)
      refuse("the paged scan needs uncompressed data (a bytecode stream " +
        "has no fixed stride) — use Sav.read/Sav.readRecords instead")
    val cols = columns(meta)
    PagedScan.scan(spark, path, Cells.schema, meta.nCases.toLong,
      meta.dataAt.toLong, meta.caseSize * 8L, partitions) {
      (buf, startRow, nRows) =>
        Cells.cells(path, cols,
          rows(buf, meta.copy(nCases = nRows.toInt, dataAt = 0)), startRow)
    }
  }

  // --------------------------------------------------------------
  // zsav block-parallel scan — the ztrailer re-sync
  // --------------------------------------------------------------

  /** One ztrailer block row: (compressed offset/size, uncompressed
    * size). */
  private final case class ZBlock(cofs: Long, csize: Int, usize: Int)

  /** Walk ONE inflated block's bytecode STRUCTURE given `rIn` raw
    * units still pending at entry: (rOut, elementsClaimed, eofSeen).
    * Only command bytes are inspected — raw runs are skipped by
    * offset — so the 9-way speculative walk in [[zsavPaged]]
    * costs pointer arithmetic, not decoding. Element indexes are
    * assigned at COMMAND time (matching [[rows]]' `e + filled`), so
    * `elementsClaimed` counts commands, wherever their raw data
    * lands. */
  private def walkBlock(buf: Array[Byte], rIn: Int): (Int, Long, Boolean) = {
    val nUnits = buf.length / 8
    var p = math.min(rIn, nUnits)
    var r = rIn - p
    var de = 0L
    var eof = false
    while (!eof && p < nUnits) {
      var raws = 0
      var i = 0
      while (i < 8 && !eof) {
        val cmd = buf(p * 8 + i) & 0xff
        if (cmd == 252) eof = true
        else if (cmd == 253) { raws += 1; de += 1 }
        else if (cmd != 0) de += 1
        i += 1
      }
      p += 1
      val take = math.min(raws, nUnits - p)
      p += take
      r = raws - take
    }
    (r, de, eof)
  }

  /** Decode cases off a lazily-supplied stream of inflated blocks,
    * starting at global element `e0` with `rSkip` raw units pending,
    * emitting only case indexes in [caseFrom, caseTo) — the
    * block-parallel decoder's per-task kernel. Elements of cases that
    * started in an earlier block are decoded and DISCARDED (their
    * owner emits them by reading into this block); the final owned
    * case pulls continuation blocks only as far as it needs. */
  private def decodeCases(meta: SavMeta, e0: Long, rSkip: Int,
                          caseFrom: Long, caseTo: Long,
                          blocks: Iterator[Array[Byte]])
      : Iterator[(Long, Seq[Any])] = {
    val cs = meta.caseSize.toLong
    val out = mutable.ArrayBuffer.empty[(Long, Seq[Any])]
    if (caseFrom >= caseTo) return out.iterator
    val Spaces = "        ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val sysmisBytes = Bytes.f8Bytes(meta.sysmis)
    val els = new Array[Array[Byte]](meta.caseSize)
    // unit cursor over the lazily-concatenated blocks
    var cur: Array[Byte] = Array.emptyByteArray
    var p = 0 // unit index within cur
    def nextUnit(): Array[Byte] = {
      while (p * 8 >= cur.length) {
        require(blocks.hasNext,
          s"sav: zsav bytecode ended before case ${caseTo - 1} completed")
        cur = blocks.next(); p = 0
      }
      val u = java.util.Arrays.copyOfRange(cur, p * 8, p * 8 + 8)
      p += 1
      u
    }
    var skip = rSkip
    while (skip > 0) { nextUnit(); skip -= 1 }
    var e = e0
    var eof = false
    var emitted = 0L
    while (emitted < caseTo - caseFrom && !eof) {
      val block = nextUnit()
      val pending = mutable.ArrayBuffer.empty[Long]
      val slots = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
      var i = 0
      var filled = 0
      while (i < 8 && !eof) {
        val cmd = block(i) & 0xff
        cmd match {
          case 0 => ()
          case 252 => eof = true
          case 253 => pending += (e + filled); filled += 1
          case 254 => slots += ((e + filled, Spaces)); filled += 1
          case 255 => slots += ((e + filled, sysmisBytes)); filled += 1
          case code =>
            slots += ((e + filled, Bytes.f8Bytes(code - meta.bias)))
            filled += 1
        }
        i += 1
      }
      pending.foreach(at => slots += ((at, nextUnit())))
      slots.sortBy(_._1).foreach { case (at, v) =>
        val k = at / cs
        if (k >= caseFrom && k < caseTo) {
          els((at % cs).toInt) = v
          if (at % cs == cs - 1) {
            out += ((k, decodeCase(els, meta)))
            emitted += 1
          }
        }
      }
      e += filled
    }
    require(emitted == caseTo - caseFrom,
      s"sav: zsav range [$caseFrom,$caseTo) decoded only $emitted cases")
    out.iterator
  }

  /** Range-parallel scan of ONE large .zsav ($FL3): the zlib blocks
    * inflate independently (each is a complete zlib stream), but the
    * BYTECODE inside carries state across block boundaries, so a
    * speculative structure pass resolves every block's entry state
    * first — the classic parallel-FSM re-sync, sound here because the
    * state space is tiny: at any 8-byte unit boundary the decoder is
    * fully described by (pending raw units ∈ 0..8, eof, element
    * counter). Pass 1 (parallel): each task inflates its blocks and
    * walks the command structure once per candidate entry state → a
    * 9-row transfer table per block. Driver: composes the tables
    * (9 longs per block — the ztrailer's own size bound). Pass 2
    * (parallel): each task decodes its block range from its exact
    * (element, pending) entry state, reading INTO following blocks
    * only to finish its last straddling case; a case that STARTED
    * earlier is skipped (its owner emits it). Requires every
    * non-final block's uncompressed size to be a multiple of 8 —
    * PSPP's 0x3ff000 convention — and refuses loudly otherwise.
    * Row ids are true case indexes, dense 0..N−1. */
  private def zsavPaged(spark: SparkSession, path: String, meta: SavMeta,
                        partitions: Int): DataFrame = {
    require(meta.nCases >= 0,
      "sav: unknown case count (-1) is outside the supported subset")
    val cs = meta.caseSize.toLong
    // zheader + ztrailer: two bounded driver preads (24 B; 24 B/block)
    val zh = PagedScan.readTail(spark, path, meta.dataAt.toLong, 24)
    if (Bytes.i8(zh, 0) != meta.dataAt.toLong)
      refuse(s"zsav zheader self-offset ${Bytes.i8(zh, 0)} != ${meta.dataAt}")
    val ztrailerOfs = Bytes.i8(zh, 8)
    val ztrailerLen = Bytes.i8(zh, 16)
    require(ztrailerLen >= 24 && ztrailerLen <= 24L + 24L * (1 << 22),
      s"sav: $ztrailerLen-byte ztrailer — past the driver pread bound")
    val tr = PagedScan.readTail(spark, path, ztrailerOfs, ztrailerLen.toInt)
    val nBlocks = Bytes.i4(tr, 20)
    if (ztrailerLen != 24L + 24L * nBlocks)
      refuse(s"zsav trailer length $ztrailerLen != 24 + 24*$nBlocks")
    val blocks: IndexedSeq[ZBlock] = (0 until nBlocks).map { b =>
      val d = 24 + 24 * b
      ZBlock(Bytes.i8(tr, d + 8), Bytes.i4(tr, d + 20), Bytes.i4(tr, d + 16))
    }
    blocks.dropRight(1).zipWithIndex.foreach { case (b, bi) =>
      if (b.usize % 8 != 0)
        refuse(s"zsav block $bi uncompressed size ${b.usize} is not a " +
          "multiple of 8 — the bytecode re-sync needs unit-aligned " +
          "blocks (PSPP writes 0x3ff000 spans); use Sav.read")
    }
    if (meta.nCases == 0 || blocks.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], Cells.schema)
    val nParts = math.max(1, if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism)
    val hconf = PagedScan.confMap(spark)
    val bcBlocks = spark.sparkContext.broadcast(blocks)
    // contiguous block ranges, capped by count AND compressed bytes
    val perPart = math.max(1, (blocks.size + nParts - 1) / nParts)
    val ranges = {
      val out = mutable.ArrayBuffer.empty[(Int, Int)]
      var b0 = 0
      while (b0 < blocks.size) {
        var b1 = b0
        var bytes = 0L
        while (b1 < blocks.size && b1 - b0 < perPart &&
            (b1 == b0 || bytes + blocks(b1).csize <= (64L << 20))) {
          bytes += blocks(b1).csize; b1 += 1
        }
        out += ((b0, b1)); b0 = b1
      }
      out.toSeq
    }
    def inflateRange(in: org.apache.hadoop.fs.FSDataInputStream,
                     b0: Int, b1: Int): IndexedSeq[Array[Byte]] = {
      // contiguous blocks = ONE pread of the compressed span
      val zb = bcBlocks.value
      val from = zb(b0).cofs
      val len = (zb(b1 - 1).cofs + zb(b1 - 1).csize - from).toInt
      val cbuf = new Array[Byte](len)
      in.readFully(from, cbuf)
      (b0 until b1).map(bi => inflateOne(cbuf,
        (zb(bi).cofs - from).toInt, zb(bi).csize, zb(bi).usize, bi))
    }
    // ---- pass 1: the 9-way speculative structure walk, parallel
    val tables: Array[Array[(Int, Long, Boolean)]] = spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (b0, b1) =>
        PagedScan.open(hconf, path)(inflateRange(_, b0, b1)).zipWithIndex
          .map { case (ubuf, k) =>
            (b0 + k, Array.tabulate(9)(r => walkBlock(ubuf, r)))
          }
      }.collect().sortBy(_._1).map(_._2)
    // ---- compose on the driver: 9 longs per block, ztrailer-bounded
    val eStart = new Array[Long](blocks.size)
    val rIn = new Array[Int](blocks.size)
    var e = 0L; var r = 0; var eofAt = blocks.size
    var bi = 0
    while (bi < blocks.size) {
      eStart(bi) = e; rIn(bi) = r
      if (bi < eofAt) {
        val (r2, de, eof2) = tables(bi)(r)
        e += de; r = r2
        if (eof2 && eofAt == blocks.size) eofAt = bi + 1
      }
      bi += 1
    }
    require(e >= cs * meta.nCases,
      s"sav: zsav bytecode claims $e elements for ${meta.nCases} cases " +
        s"of $cs")
    // ownership: block b owns cases whose FIRST element's claiming
    // command lies in it — caseFrom is monotone, so ranges partition
    // [0, nCases) exactly
    val caseFrom = Array.tabulate(blocks.size + 1) { b =>
      if (b >= eofAt || b == blocks.size) meta.nCases.toLong
      else math.min(meta.nCases.toLong, (eStart(b) + cs - 1) / cs)
    }
    val bcState = spark.sparkContext.broadcast((eStart, rIn, caseFrom))
    // ---- pass 2: decode, each task from its exact entry state
    val cols = columns(meta)
    val bcMeta = spark.sparkContext.broadcast(meta)
    val rdd = spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (b0, b1) =>
        val (eS, rI, cF) = bcState.value
        val from = cF(b0); val to = cF(b1)
        if (from >= to) Iterator.empty
        else {
          // the range inflates off ONE pread; straddle continuations
          // past b1 pull one block per short-lived pread (rare — only
          // the last owned case can need them)
          val rangeBufs = PagedScan.open(hconf, path)(inflateRange(_, b0, b1))
          val zb = bcBlocks.value
          val tail = (b1 until zb.size).iterator.map { bj =>
            val cbuf = new Array[Byte](zb(bj).csize)
            PagedScan.open(hconf, path)(_.readFully(zb(bj).cofs, cbuf))
            inflateOne(cbuf, 0, zb(bj).csize, zb(bj).usize, bj)
          }
          decodeCases(bcMeta.value, eS(b0), rI(b0), from, to,
              rangeBufs.iterator ++ tail)
            .flatMap { case (rowId, vals) => Cells.row(path, rowId, cols, vals) }
        }
      }
    spark.createDataFrame(rdd, Cells.schema)
  }

  // --------------------------------------------------------------
  // writer — fixtures and round-trip tests. The READER is pinned to
  // the spec-assembled fixtures in SavSpec; this writer round-trips
  // (the Pickle.dumps convention).
  // --------------------------------------------------------------

  /** Dump records as a little-endian $FL2 system file. Values: Double
    * (null = sysmis) for numeric columns, String for char columns
    * (width = longest value, min 1, max 255). `bytecode = true` emits
    * compression-1 blocks (small exact integers as biased bytes, the
    * rest as raw data); `zsav = true` emits a $FL3 zlib file whose
    * inflated blocks carry that same bytecode stream. Short names
    * VAR00001.. carry an info-13 long-name map to the real column
    * names. */
  def dumps(cols: Seq[(String, Boolean)], data: Seq[Seq[Any]],
            bytecode: Boolean = false, zsav: Boolean = false,
            zsavBlockSize: Int = 0x3ff000): Array[Byte] = {
    require(zsavBlockSize >= 8 && zsavBlockSize % 8 == 0,
      s"zsav block size must be a positive multiple of 8: $zsavBlockSize")
    require(cols.nonEmpty, "dumps needs at least one column")
    data.foreach(r => require(r.length == cols.length,
      s"row arity ${r.length} != ${cols.length} columns"))
    val widths = cols.zipWithIndex.map { case ((_, isNum), i) =>
      if (isNum) 0
      else {
        val w = math.max(1, data.iterator.map(r =>
          Option(r(i)).fold(0)(_.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8).length))
          .foldLeft(0)(math.max))
        require(w <= 252 * 99,
          s"string column '${cols(i)._1}' wider than ${252 * 99}")
        w
      }
    }
    // widths past 255 emit the very-long-string layout: ceil(w/252)
    // segment variables (non-final declared 255 / 32 slots, real data
    // in the first 252 bytes) + an info-14 record mapping the first
    // segment's short name to the total width
    def segWidthsOf(w: Int): Seq[Int] =
      if (w <= 255) Seq(w)
      else {
        val k = (w + 251) / 252
        Seq.fill(k - 1)(255) :+ (w - 252 * (k - 1))
      }
    val out = new java.io.ByteArrayOutputStream()
    def w4(v: Int): Unit = {
      var i = 0
      while (i < 4) { out.write((v >> (8 * i)) & 0xff); i += 1 }
    }
    def w8(d: Double): Unit = {
      val bits = java.lang.Double.doubleToRawLongBits(d)
      var i = 0
      while (i < 8) { out.write(((bits >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def ws(s: String, n: Int): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(b.length <= n, s"'$s' wider than $n")
      out.write(b); out.write(Array.fill[Byte](n - b.length)(' '.toByte))
    }
    val caseSize = widths.map(w =>
      if (w == 0) 1 else segWidthsOf(w).map(s => (s + 7) / 8).sum).sum

    val useBytecode = bytecode || zsav // zsav wraps a bytecode stream
    out.write((if (zsav) "$FL3" else "$FL2").getBytes)
    ws("graft sav writer", 60)
    w4(2); w4(caseSize)
    w4(if (zsav) 2 else if (bytecode) 1 else 0); w4(0)
    w4(data.length); w8(100.0)
    ws("01 Jan 90", 9); ws("00:00:00", 8); ws("graft", 64)
    out.write(Array[Byte](0, 0, 0))

    val shortNames = cols.indices.map(i => f"VAR${i + 1}%05d")
    var segSeq = 0
    cols.indices.foreach { i =>
      val segs = if (widths(i) == 0) Seq(0) else segWidthsOf(widths(i))
      segs.zipWithIndex.foreach { case (width, j) =>
        w4(2); w4(width); w4(0); w4(0)
        val fmt = if (width == 0) 0x050800 else 0x010000 | (width << 8)
        w4(fmt); w4(fmt)
        // global counter: f"S$i..$j" would blow the 8-byte field past
        // 100 columns
        ws(if (j == 0) shortNames(i)
           else { segSeq += 1; f"S$segSeq%07d" }, 8)
        var extra = (if (width == 0) 1 else (width + 7) / 8) - 1
        while (extra > 0) {
          w4(2); w4(-1); w4(0); w4(0); w4(0); w4(0); ws("", 8)
          extra -= 1
        }
      }
    }
    val longMap = shortNames.zip(cols.map(_._1))
      .map { case (s, l) => s"$s=$l" }.mkString("\t")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    w4(7); w4(13); w4(1); w4(longMap.length); out.write(longMap)
    val vlsCols = cols.indices.filter(i => widths(i) > 255)
    if (vlsCols.nonEmpty) {
      val body = vlsCols.map(i => f"${shortNames(i)}=${widths(i)}%05d")
        .mkString("\u0000\t") + "\u0000\t"
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      w4(7); w4(14); w4(1); w4(b.length); out.write(b)
    }
    w4(999); w4(0)

    // --- data
    val sysmis = DefaultSysmis
    def elements(r: Seq[Any]): Seq[Array[Byte]] = {
      val els = mutable.ArrayBuffer.empty[Array[Byte]]
      cols.indices.foreach { i =>
        val w = widths(i)
        if (w == 0) {
          val d = r(i) match {
            case null => sysmis
            case x: Double if x.isNaN => sysmis // reads back null either way
            case x: Double =>
              // -DBL_MAX IS sysmis: writing it would silently null
              if (x == sysmis) refuse(
                "-1.7976931348623157e308 is the sysmis sentinel itself")
              x
            case other => throw new IllegalArgumentException(
              s"numeric column '${cols(i)._1}' got ${other.getClass.getName}")
          }
          els += Bytes.f8Bytes(d)
        } else {
          val vb = r(i) match {
            case null => Array.emptyByteArray
            case s: String =>
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            case other => throw new IllegalArgumentException(
              s"string column '${cols(i)._1}' got ${other.getClass.getName}")
          }
          // one space-padded area per segment; non-final segments take
          // 252 REAL bytes into a 256-byte (32-slot) area
          var at = 0
          segWidthsOf(w).foreach { segW =>
            val real = if (segW == 255) 252 else segW
            val n = (segW + 7) / 8
            val raw = new Array[Byte](n * 8)
            java.util.Arrays.fill(raw, ' '.toByte)
            val take = math.max(0, math.min(real, vb.length - at))
            if (take > 0) System.arraycopy(vb, at, raw, 0, take)
            at += real
            (0 until n).foreach(k =>
              els += java.util.Arrays.copyOfRange(raw, k * 8, k * 8 + 8))
          }
        }
      }
      els.toSeq
    }

    // zsav detours the data stream through a buffer so the zlib block
    // table can wrap it; plain/bytecode write straight through
    val dout = if (zsav) new java.io.ByteArrayOutputStream() else out
    if (!useBytecode) data.foreach(r => elements(r).foreach(dout.write))
    else {
      val spaces8 = Array.fill[Byte](8)(' '.toByte)
      val cmds = mutable.ArrayBuffer.empty[Int]
      val raws = mutable.ArrayBuffer.empty[Array[Byte]]
      val numericAt = {
        // element index -> is it a numeric slot (biasable)? VLS string
        // columns occupy one slot group PER SEGMENT
        val flags = mutable.ArrayBuffer.empty[Boolean]
        cols.indices.foreach { i =>
          if (widths(i) == 0) flags += true
          else segWidthsOf(widths(i)).foreach(s =>
            (0 until (s + 7) / 8).foreach(_ => flags += false))
        }
        flags.toIndexedSeq
      }
      data.foreach { r =>
        elements(r).zipWithIndex.foreach { case (el, at) =>
          if (numericAt(at)) {
            val d = Bytes.f8(el, 0)
            if (d == sysmis) cmds += 255
            else if (d == math.rint(d) && d + 100.0 >= 1 && d + 100.0 <= 251)
              cmds += (d + 100.0).toInt
            else { cmds += 253; raws += el }
          } else if (java.util.Arrays.equals(el, spaces8)) cmds += 254
          else { cmds += 253; raws += el }
        }
      }
      cmds += 252
      var i = 0; var ri = 0
      while (i < cmds.length) {
        val block = cmds.slice(i, i + 8)
        val nRaw = block.count(_ == 253)
        block.foreach(dout.write)
        (block.length until 8).foreach(_ => dout.write(0))
        (0 until nRaw).foreach { k => dout.write(raws(ri + k)) }
        ri += nRaw
        i += 8
      }
    }
    if (zsav) {
      val stream = dout.asInstanceOf[java.io.ByteArrayOutputStream]
        .toByteArray
      def wq(v: Long): Unit = {
        var i = 0
        while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
      }
      def deflate(b: Array[Byte], from: Int, n: Int): Array[Byte] = {
        val d = new java.util.zip.Deflater()
        d.setInput(b, from, n); d.finish()
        val acc = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) acc.write(buf, 0, d.deflate(buf))
        d.end(); acc.toByteArray
      }
      val blockSize = zsavBlockSize // PSPP's conventional span is 0x3ff000
      val spans = (0 until stream.length by blockSize)
        .map(s => (s, math.min(blockSize, stream.length - s)))
      val zblocks =
        if (spans.isEmpty) Seq((0, 0, deflate(stream, 0, 0)))
        else spans.map { case (s, n) => (s, n, deflate(stream, s, n)) }
      val zheaderOfs = out.size().toLong
      val ztrailerOfs = zheaderOfs + 24 +
        zblocks.iterator.map(_._3.length.toLong).sum
      wq(zheaderOfs); wq(ztrailerOfs); wq(24L + 24L * zblocks.length)
      zblocks.foreach(z => out.write(z._3))
      wq(-100L); wq(0L) // -bias, zero
      w4(blockSize); w4(zblocks.length)
      var at = zheaderOfs + 24
      zblocks.foreach { case (s, n, z) =>
        wq(zheaderOfs + s); wq(at); w4(n); w4(z.length)
        at += z.length
      }
    }
    out.toByteArray
  }
}
