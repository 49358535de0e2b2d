package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Pure-JVM Stata .dta ingest over a `binaryFile` scan — the
  * reference's writers map carries `.stata` (to_stata,
  * gofast/api/property.py:2835) and read_data's pandas dispatch reads
  * it back; here both directions are pure JVM.
  *
  * The .dta format is PUBLICLY documented by Stata itself
  * (www.stata.com/help.cgi?dta). Golden fixtures in
  * src/test/resources/dta/ are written by pandas.to_stata — the real
  * producer and an independent public implementation — in formats 114,
  * 117 and 118 (tools/make_dta_fixture.py), and this file's writer is
  * validated by pandas.read_stata, so conformance is anchored outside
  * the repo in BOTH directions (the [[Sas]] convention, with an even
  * stronger producer-side anchor).
  *
  * SUPPORTED SUBSET, refused loudly outside it:
  *  - releases 114/115 (classic binary header) and 117/118 (tagged
  *    header, sections located via the spec's own <map> offsets);
  *    releases before 114 and 119 (>32k variables) refuse;
  *  - little-endian (MSF refuses);
  *  - fixed-width str# columns AND strL columns (type 32768): cells
  *    carry (v, o) refs — u4+u4 in 117, u2+u48 in 118, both confirmed
  *    against pandas.to_stata(convert_strl) output — resolved through
  *    the <strls> GSO table. Text payloads (t=130) decode on every
  *    path; BINARY strL (t=129) has no tall-cell channel, so the
  *    cells()/records() paths refuse it toward [[readTyped]],
  *    which carries it as BinaryType. The paged scan splits strL
  *    files too — refs travel as markers and resolve via an equi-join
  *    against a GSO-section scan (the GSO scan itself is one task,
  *    bounded by the section's <map> length);
  *  - all five numeric types, every missing class (., .a–.z) → null.
  *
  * The Spark surface is [[TallCells]]' (the [[Sas]]/[[Sav]] shape:
  * per-partition parse, tall cells, wide records under the file's own
  * dictionary) plus [[TypedCells]]' for the binary channel.
  */
object Dta extends TallCells with TypedCells {
  import Bytes.{u1, u2, i2, u4, i4, i8, f4, f8}

  type Meta = DtaMeta

  /** One variable: name, string width (0 = numeric), numeric width in
    * bytes (1/2/4/8; 0 for strings), float flag; strL columns carry an
    * 8-byte (v, o) ref in the data (numWidth = 8, isStrL = true). */
  final case class DtaVar(name: String, strWidth: Int, numWidth: Int,
                          isFloat: Boolean, isStrL: Boolean = false)

  final case class DtaMeta(release: Int, nVars: Int, nRows: Long,
                           vars: Seq[DtaVar], dataAt: Long, utf8: Boolean,
                           strlsAt: Long = -1L, strlsEndAt: Long = -1L)

  private def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"dta: $msg — the supported subset is little-endian releases " +
        "113/114/115/117/118 with fixed-width columns; re-export once " +
        "(pandas.read_stata(...).to_parquet(...)) for anything outside it.")

  // every multi-byte field is little-endian (MSF files refuse)

  private def str(b: Array[Byte], at: Int, len: Int, utf8: Boolean): String = {
    var end = at + len
    while (end > at && b(end - 1) == 0) end -= 1
    new String(b, at, end - at,
      if (utf8) java.nio.charset.StandardCharsets.UTF_8
      else java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def tag(b: Array[Byte], at: Int, t: String): Int = {
    val tb = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var i = 0
    while (i < tb.length) {
      if (at + i >= b.length || b(at + i) != tb(i))
        refuse(s"expected '$t' at offset $at (corrupt or unsupported file)")
      i += 1
    }
    at + tb.length
  }

  // Stata missing thresholds: the first missing value of each type is
  // the power of two just past the documented valid maximum; ., .a–.z
  // all sit at or above it (positive side only).
  private val MissDouble = java.lang.Double.longBitsToDouble(0x7fe0000000000000L)
  private val MissFloat = java.lang.Float.intBitsToFloat(0x7f000000)

  // --------------------------------------------------------------
  // metadata
  // --------------------------------------------------------------

  /** Map a (release, raw type code) to a DtaVar skeleton. */
  private def varOf(release: Int, name: String, code: Int): DtaVar =
    if (release >= 117) code match {
      case w if w >= 1 && w <= 2045 => DtaVar(name, w, 0, isFloat = false)
      case 32768 =>
        DtaVar(name, 0, 8, isFloat = false, isStrL = true)
      case 65526 => DtaVar(name, 0, 8, isFloat = false)
      case 65527 => DtaVar(name, 0, 4, isFloat = true)
      case 65528 => DtaVar(name, 0, 4, isFloat = false)
      case 65529 => DtaVar(name, 0, 2, isFloat = false)
      case 65530 => DtaVar(name, 0, 1, isFloat = false)
      case other => refuse(s"unknown type code $other for '$name'")
    } else code match {
      case w if w >= 1 && w <= 244 => DtaVar(name, w, 0, isFloat = false)
      case 251 => DtaVar(name, 0, 1, isFloat = false)
      case 252 => DtaVar(name, 0, 2, isFloat = false)
      case 253 => DtaVar(name, 0, 4, isFloat = false)
      case 254 => DtaVar(name, 0, 4, isFloat = true)
      case 255 => DtaVar(name, 0, 8, isFloat = false)
      case other => refuse(s"unknown type code $other for '$name'")
    }

  def parseMeta(bytes: Array[Byte]): DtaMeta = {
    require(bytes.length > 16, "dta: file too short")
    if (bytes(0) == '<'.toByte) parseMetaTagged(bytes)
    else parseMetaClassic(bytes)
  }

  private def parseMetaClassic(bytes: Array[Byte]): DtaMeta = {
    val release = u1(bytes, 0)
    if (release < 113 && release >= 102)
      refuse(s"release $release (before 113 — the pre-113 classics " +
        "use the old char typlist and single-missing conventions)")
    require(release == 113 || release == 114 || release == 115,
      s"dta: byte 0 = $release is neither a classic release nor a tag")
    if (u1(bytes, 1) != 2) refuse("big-endian (MSF) file")
    val k = i2(bytes, 4)
    val n = i4(bytes, 6).toLong
    require(k >= 0 && n >= 0, s"dta: negative K/N ($k/$n)")
    var at = 109
    val codes = (0 until k).map(i => u1(bytes, at + i)); at += k
    val names = (0 until k).map(i => str(bytes, at + 33 * i, 33,
      utf8 = false)); at += 33 * k
    at += 2 * (k + 1) // sortlist
    // the ONE classic-ladder width change: release 113 (Stata 8)
    // carries 12-byte formats; 114/115 grew them to 49
    at += (if (release >= 114) 49 else 12) * k // formats
    at += 33 * k // value-label names
    at += 81 * k // variable labels
    // expansion fields: {u8 type, i32 len, payload} until type=0 len=0
    var open = true
    while (open) {
      val t = u1(bytes, at)
      val len = i4(bytes, at + 1)
      at += 5
      if (t == 0 && len == 0) open = false
      else {
        require(len >= 0 && at.toLong + len <= bytes.length,
          "dta: runaway expansion field")
        at += len
      }
    }
    val vars = names.zip(codes).map { case (nm, c) => varOf(release, nm, c) }
    DtaMeta(release, k, n, vars, at, utf8 = false)
  }

  private def parseMetaTagged(bytes: Array[Byte]): DtaMeta = {
    var at = tag(bytes, 0, "<stata_dta><header><release>")
    val release = str(bytes, at, 3, utf8 = false).toInt
    if (release == 119) refuse("release 119 (>32k variables)")
    require(release == 117 || release == 118,
      s"dta: unsupported tagged release $release")
    at = tag(bytes, at + 3, "</release><byteorder>")
    val bo = str(bytes, at, 3, utf8 = false)
    if (bo == "MSF") refuse("big-endian (MSF) file")
    require(bo == "LSF", s"dta: unknown byte order '$bo'")
    at = tag(bytes, at + 3, "</byteorder><K>")
    val k = u2(bytes, at)
    at = tag(bytes, at + 2, "</K><N>")
    val n = if (release == 118) i8(bytes, at) else i4(bytes, at).toLong
    at += (if (release == 118) 8 else 4)
    at = tag(bytes, at, "</N><label>")
    val labLen = if (release == 118) u2(bytes, at) else u1(bytes, at)
    at += (if (release == 118) 2 else 1) + labLen
    at = tag(bytes, at, "</label><timestamp>")
    at += 1 + u1(bytes, at)
    at = tag(bytes, at, "</timestamp></header><map>")
    // the spec's own section index: 14 u64 offsets
    val map = (0 until 14).map(i => i8(bytes, at + 8 * i))
    val typesAt = tag(bytes, map(2).toInt, "<variable_types>")
    val codes = (0 until k).map(i => u2(bytes, typesAt + 2 * i))
    val nameLen = if (release == 118) 129 else 33
    val namesAt = tag(bytes, map(3).toInt, "<varnames>")
    val names = (0 until k).map(i =>
      str(bytes, namesAt + nameLen * i, nameLen, release == 118))
    val dataAt = tag(bytes, map(9).toInt, "<data>")
    val vars = names.zip(codes).map { case (nm, c) => varOf(release, nm, c) }
    DtaMeta(release, k, n, vars, dataAt, utf8 = release == 118,
      strlsAt = map(10), strlsEndAt = map(11))
  }

  /** Parse the <strls> GSO table into (v, o) → (t, payload bytes).
    * Layout per the spec and pandas.to_stata's bytes: "GSO" + v u4 +
    * o (u4 in 117, u8 in 118) + t u1 (130 = text incl. trailing NUL,
    * 129 = binary) + len u4 + payload. */
  private def parseStrlsTyped(bytes: Array[Byte], meta: DtaMeta)
      : Map[(Long, Long), (Int, Array[Byte])] = {
    require(meta.strlsAt >= 0, "dta: strL columns need a <strls> section")
    var at = tag(bytes, meta.strlsAt.toInt, "<strls>")
    val out = Map.newBuilder[(Long, Long), (Int, Array[Byte])]
    while (!(bytes(at) == '<'.toByte)) {
      at = tag(bytes, at, "GSO")
      val v = u4(bytes, at)
      val o = if (meta.release == 118) i8(bytes, at + 4) else u4(bytes, at + 4)
      at += (if (meta.release == 118) 12 else 8)
      val t = u1(bytes, at)
      val len = i4(bytes, at + 1)
      at += 5
      require(len >= 0 && at.toLong + len <= bytes.length,
        s"dta: GSO payload of $len bytes overruns the file")
      if (t != 129 && t != 130)
        refuse(s"unknown strL payload type $t at GSO ($v,$o)")
      out += ((v, o) ->
        (t, java.util.Arrays.copyOfRange(bytes, at, at + len)))
      at += len
    }
    tag(bytes, at, "</strls>")
    out.result()
  }

  /** A payload's BYTES for the typed surfaces: t=130 strips the
    * trailing NUL and an empty text payload lands as NULL (the
    * empty-string convention every dta surface shares); t=129 binary
    * passes verbatim (empty binary stays empty bytes). Declared ONCE
    * so the typed whole-file, typed paged broadcast and typed paged
    * join paths cannot drift. */
  private def finalizedPayload(t: Int, payload: Array[Byte]): Array[Byte] =
    if (t != 130) payload
    else {
      val n = if (payload.nonEmpty && payload.last == 0)
        payload.length - 1 else payload.length
      if (n == 0) null
      else java.util.Arrays.copyOf(payload, n)
    }

  /** A t=130 payload as a string (the trailing NUL stripped). */
  private def strlText(payload: Array[Byte], utf8: Boolean): String = {
    val end = if (payload.nonEmpty && payload.last == 0) payload.length - 1
              else payload.length
    new String(payload, 0, end,
      if (utf8) java.nio.charset.StandardCharsets.UTF_8
      else java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** The tall-cell paths' view of the GSO table: text payloads only —
    * binary strL (t=129) has no tall-cell channel and refuses toward
    * [[readTyped]]. */
  private def parseStrls(bytes: Array[Byte],
                         meta: DtaMeta): Map[(Long, Long), String] =
    parseStrlsTyped(bytes, meta).map { case ((v, o), (t, payload)) =>
      if (t == 129)
        refuse(s"binary strL payload (t=129) at GSO ($v,$o) has no " +
          "tall-cell channel — use Dta.readTyped, which keeps BinaryType")
      (v, o) -> strlText(payload, meta.utf8)
    }

  // --------------------------------------------------------------
  // data
  // --------------------------------------------------------------

  /** Decode every row (Double or String cells; missing classes and
    * empty strings → null). strL refs resolve against the file's own
    * GSO table. */
  def rows(bytes: Array[Byte], meta: DtaMeta): Iterator[Seq[Any]] = {
    val gso: Map[(Long, Long), String] =
      if (meta.vars.exists(_.isStrL)) parseStrls(bytes, meta)
      else Map.empty
    rowsResolved(bytes, meta, (_, rv, ro) => {
      val s = gso.getOrElse((rv, ro),
        refuse(s"strL cell ($rv,$ro) has no GSO entry"))
      if (s.isEmpty) null else s
    })
  }

  /** The row walk with strL resolution abstracted: `resolve` receives
    * (cellColIdx, v, o) for each non-null ref — the CELL's own 0-based
    * column index first, because strL values can be shared across
    * columns (Stata and pandas dedup identical payloads, so a cell in
    * column B may carry a ref whose v names column A): any per-column
    * routing must key on the cell's column, never the ref's v. The
    * whole-file read looks payloads up in the parsed GSO map, the
    * paged scan emits ref markers for a later equi-join, the typed
    * read returns bytes for binary columns. */
  private def rowsResolved(bytes: Array[Byte], meta: DtaMeta,
                           resolve: (Int, Long, Long) => Any)
      : Iterator[Seq[Any]] = {
    val rowLen = meta.vars.map(v =>
      if (v.strWidth > 0) v.strWidth else v.numWidth).sum.toLong
    require(meta.dataAt + rowLen * meta.nRows <= bytes.length,
      s"dta: ${meta.nRows} rows of $rowLen bytes overrun the file")
    val offs = meta.vars.scanLeft(0L)((a, v) =>
      a + (if (v.strWidth > 0) v.strWidth else v.numWidth))
    (0L until meta.nRows).iterator.map { r =>
      val base = meta.dataAt + r * rowLen
      meta.vars.zip(offs).zipWithIndex.map { case ((v, o), ci) =>
        val at = (base + o).toInt
        if (v.isStrL) {
          // the (v, o) ref: u4+u4 in 117, u2 + 48-bit o in 118
          val (rv, ro) =
            if (meta.release == 118)
              (u2(bytes, at).toLong,
                i8(bytes, at) >>> 16) // o = high 6 bytes of the LE u64
            else (u4(bytes, at), u4(bytes, at + 4))
          if (rv == 0L && ro == 0L) null
          else resolve(ci, rv, ro)
        } else if (v.strWidth > 0) {
          val s = str(bytes, at, v.strWidth, meta.utf8)
          if (s.isEmpty) null else s
        } else {
          val d: Double = v.numWidth match {
            case 1 =>
              val x = bytes(at).toInt
              if (x >= 101) MissDouble else x.toDouble
            case 2 =>
              val x = i2(bytes, at)
              if (x >= 32741) MissDouble else x.toDouble
            case 4 if v.isFloat =>
              val x = f4(bytes, at)
              if (x >= MissFloat) MissDouble else x.toDouble
            case 4 =>
              val x = i4(bytes, at)
              if (x >= 2147483621) MissDouble else x.toDouble
            case _ => f8(bytes, at)
          }
          if (d >= MissDouble || java.lang.Double.isNaN(d)) null
          else java.lang.Double.valueOf(d)
        }
      }
    }
  }

  // --------------------------------------------------------------
  // Spark surface — TallCells' tall cells + records, TypedCells' typed
  // --------------------------------------------------------------

  def columns(meta: DtaMeta): Seq[(String, Boolean)] =
    meta.vars.map(v => (v.name, v.strWidth == 0 && !v.isStrL))

  /** The <strls> section size up to which the paged scans resolve strL
    * refs from a driver-broadcast GSO map instead of an equi-join. */
  private val GsoInlineBytes = 64L << 20

  def readPaged(spark: SparkSession, path: String,
                partitions: Int): DataFrame =
    readPaged(spark, path, partitions, GsoInlineBytes)

  /** Range-parallel scan of ONE large .dta: rows are a fixed stride in
    * every supported release, so after a bounded driver read of the
    * dictionary each task preads and decodes its own row range
    * ([[Sas.readPaged]]'s story). Row ids are the true indexes.
    *
    * strL files split too. When the <strls> GSO section fits
    * `gsoInlineBytes` the DRIVER preads and parses it once and ships
    * the map by broadcast — one file scan, zero joins (the
    * [[Feather.readPaged]] dictionary convention). Past the
    * bound, the row tasks emit each cell's (v, o) ref, ONE task scans
    * the GSO section (bounded by the section's own <map> length — the
    * residual single-task axis), and the refs resolve through an
    * equi-join in the SAME single scan (null join keys for non-strL
    * cells; left join preserves them). A ref with no GSO entry raises
    * loudly at execution, matching the whole-file read. */
  def readPaged(spark: SparkSession, path: String, partitions: Int,
                gsoInlineBytes: Long): DataFrame = {
    val meta = PagedScan.driverMeta(spark, path)(parseMeta)
    val rowLen = meta.vars.map(v =>
      if (v.strWidth > 0) v.strWidth else v.numWidth).sum.toLong
    if (!meta.vars.exists(_.isStrL)) {
      val cols = columns(meta)
      PagedScan.scan(spark, path, Cells.schema, meta.nRows, meta.dataAt,
        rowLen, partitions) { (buf, startRow, nRows) =>
        Cells.cells(path, cols,
          rows(buf, meta.copy(nRows = nRows, dataAt = 0L)), startRow)
      }
    } else {
      val secLen = strlsLength(meta, "re-export with fixed-width strings " +
        "or split the file")
      def scanRows(resolve: (Int, Long, Long) => Any,
                   strlCell: (Long, String, Any) => Row): DataFrame =
        PagedScan.scan(spark, path, Cells.schema, meta.nRows,
          meta.dataAt, rowLen, partitions) { (buf, startRow, nRows) =>
          val m = meta.copy(nRows = nRows, dataAt = 0L)
          rowsResolved(buf, m, resolve)
            .zipWithIndex.flatMap { case (vals, r) =>
              meta.vars.iterator.zip(vals.iterator).map { case (v, x) =>
                if (v.isStrL) strlCell(startRow + r, v.name, x)
                else Cells.cell(path, startRow + r, v.name,
                  v.strWidth == 0, x)
              }
            }
        }
      if (secLen <= gsoInlineBytes) {
        // driver preads + parses the GSO once, ships it by BROADCAST:
        // one file scan, zero joins (the feather-dictionary shape)
        val gsoBuf = PagedScan.readTail(spark, path, meta.strlsAt,
          secLen.toInt)
        val gso = spark.sparkContext.broadcast(
          parseStrls(gsoBuf, meta.copy(strlsAt = 0L)))
        scanRows(
          resolve = (_, rv, ro) => {
            val s = gso.value.getOrElse((rv, ro),
              refuse(s"strL cell ($rv,$ro) has no GSO entry"))
            if (s.isEmpty) null else s
          },
          strlCell = (rowId, name, x) =>
            Cells.cell(path, rowId, name, isNum = false, x))
      } else {
        // 1. the row scan emits strL cells as "v,o" ref markers
        val raw = scanRows(
          resolve = (_, rv, ro) => (rv, ro),
          strlCell = (rowId, name, x) => x match {
            case (rv: Long, ro: Long) =>
              Row(path, rowId, name, "strl", s"$rv,$ro", null)
            case _ => // (0,0) → null
              Cells.cell(path, rowId, name, isNum = false, x)
          })
        // 2. ONE task preads and parses the GSO section (the shared
        //    [[gsoTaskRdd]] kernel); the tall-cell path refuses binary
        //    payloads toward the typed scan, like the whole-file read
        val utf8 = meta.utf8
        val gsoRdd = gsoTaskRdd(spark, path, meta, secLen).map {
          case ((rv, ro), (t, payload)) =>
            if (t == 129)
              refuse(s"binary strL payload (t=129) at GSO ($rv,$ro) has " +
                "no tall-cell channel — use Dta.readTypedPaged, which " +
                "keeps BinaryType")
            Row(s"$rv,$ro", strlText(payload, utf8))
        }
        val gsoDf = spark.createDataFrame(gsoRdd, StructType(Seq(
          StructField("gso_ref", StringType, nullable = false),
          StructField("gso_payload", StringType, nullable = true))))
        // 3. resolve in the SAME scan: a null join key for every
        //    non-strL cell, left join preserves them; empty payloads
        //    land as null (the whole-file convention), missing GSO
        //    entries raise loudly
        raw.withColumn("_gso_key",
            when(col("vtype") === "strl", col("value_str")))
          .join(gsoDf, col("_gso_key") === col("gso_ref"), "left")
          .select(col("src_file"), col("row"), col("key"),
            when(col("vtype") === "strl", lit("str"))
              .otherwise(col("vtype")).as("vtype"),
            when(col("vtype") =!= "strl", col("value_str"))
              .otherwise(when(col("gso_ref").isNull,
                raise_error(concat(lit("dta: strL cell ("),
                  col("value_str"), lit(") has no GSO entry")))
                  .cast(StringType))
                .otherwise(when(length(col("gso_payload")) === 0,
                  lit(null).cast(StringType))
                  .otherwise(col("gso_payload")))).as("value_str"),
            col("value_double"))
      }
    }
  }

  /** Byte length of the <strls> section the <map> locates — bounded by
    * one task buffer (`advice` names the way out past it). */
  private def strlsLength(meta: DtaMeta, advice: String): Long = {
    require(meta.strlsAt >= 0 && meta.strlsEndAt > meta.strlsAt,
      "dta: strL columns but the <map> locates no <strls> section")
    val secLen = meta.strlsEndAt - meta.strlsAt
    require(secLen <= Int.MaxValue - 16L,
      s"dta: $secLen-byte <strls> section — past the single-buffer " +
        s"GSO scan bound; $advice")
    secLen
  }

  // --------------------------------------------------------------
  // typed read — the BinaryType channel for binary strL (t=129),
  // mirroring Feather.readTyped (media blobs in Stata containers;
  // pandas read_stata hands them back as Python bytes)
  // --------------------------------------------------------------

  /** Column kinds for the typed read: 'n' double, 's' string, 'y'
    * binary — a strL column ANY of whose CELLS references a t=129
    * payload is binary (its t=130 cells, if mixed in, come back as
    * raw bytes too). Classification walks the data rows' own refs,
    * not the GSO entries' v field: strL values are deduped across
    * columns by real writers, so an entry's v only names the FIRST
    * column that used the payload. */
  def dtaTypedKinds(bytes: Array[Byte]): Seq[(String, Char)] = {
    val meta = parseMeta(bytes)
    val gso: Map[(Long, Long), (Int, Array[Byte])] =
      if (meta.vars.exists(_.isStrL)) parseStrlsTyped(bytes, meta)
      else Map.empty
    val isBin = new Array[Boolean](meta.vars.length)
    if (meta.vars.exists(_.isStrL))
      rowsResolved(bytes, meta, (ci, rv, ro) => {
        val (t, _) = gso.getOrElse((rv, ro),
          refuse(s"strL cell ($rv,$ro) has no GSO entry"))
        if (t == 129) isBin(ci) = true
        null
      }).foreach(_ => ())
    meta.vars.zipWithIndex.map { case (v, i) =>
      (v.name,
        if (v.strWidth == 0 && !v.isStrL) 'n'
        else if (v.isStrL && isBin(i)) 'y'
        else 's')
    }
  }

  /** ONE task preads and parses the <strls> section — the shared
    * kernel behind both paged equi-join paths (entries are
    * variable-length, so the section itself does not range-split). */
  private def gsoTaskRdd(spark: SparkSession, path: String, meta: DtaMeta,
                         secLen: Long)
      : org.apache.spark.rdd.RDD[((Long, Long), (Int, Array[Byte]))] = {
    val hconf = PagedScan.confMap(spark)
    val strlsAt = meta.strlsAt
    val metaForGso = meta
    spark.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      val buf = new Array[Byte](secLen.toInt)
      PagedScan.open(hconf, path)(_.readFully(strlsAt, buf))
      parseStrlsTyped(buf, metaForGso.copy(strlsAt = 0L)).iterator
    }
  }

  def readTypedPaged(spark: SparkSession, path: String,
                     partitions: Int): DataFrame =
    readTypedPaged(spark, path, partitions, GsoInlineBytes)

  /** TYPED read of ONE large .dta with WITHIN-file parallelism — the
    * media path for big binary-strL corpora ([[Feather.readTypedPaged]]'s
    * role for the Stata container). Row ranges split like
    * [[readPaged]]; strL payloads resolve either from a
    * driver-broadcast GSO map (section ≤ `gsoInlineBytes`) or through
    * one left equi-join per strL column against a one-task GSO scan.
    *
    * SCHEMA NOTE: every strL column lands as BinaryType. Classifying
    * text-vs-binary strL requires walking each cell's ref (payloads
    * are shared across columns, so the GSO entries' own v field
    * cannot type a column) — a full extra pass the paged scan refuses
    * to spend. Text strL arrives as its raw bytes (t=130 trailing NUL
    * stripped, empty → null like every other dta surface): decode
    * downstream with the RELEASE's charset — `decode(col, 'UTF-8')`
    * for 118 files, `decode(col, 'ISO-8859-1')` for 114-117 — or use
    * [[readTyped]] (whole-file per task) for classified kinds. */
  def readTypedPaged(spark: SparkSession, path: String, partitions: Int,
                     gsoInlineBytes: Long): DataFrame = {
    val meta = PagedScan.driverMeta(spark, path)(parseMeta)
    Cells.requireNoReservedNames(meta.vars.map(_.name),
      "Dta.readTypedPaged")
    val rowLen = meta.vars.map(v =>
      if (v.strWidth > 0) v.strWidth else v.numWidth).sum.toLong
    val schema = Cells.typedSchema(meta.vars.map(v => StructField(v.name,
      if (v.isStrL) BinaryType
      else if (v.strWidth > 0) StringType
      else DoubleType, nullable = true)))
    def scanWide(resolve: (Int, Long, Long) => Any): DataFrame =
      PagedScan.scan(spark, path, schema, meta.nRows, meta.dataAt,
        rowLen, partitions) { (buf, startRow, nRows) =>
        val m = meta.copy(nRows = nRows, dataAt = 0L)
        rowsResolved(buf, m, resolve).zipWithIndex.map { case (vals, r) =>
          Row.fromSeq(path +: java.lang.Long.valueOf(startRow + r) +: vals)
        }
      }
    if (!meta.vars.exists(_.isStrL))
      return scanWide((_, _, _) => refuse("unreachable: no strL columns"))
    val secLen = strlsLength(meta, "split the file or use Dta.readTyped")
    if (secLen <= gsoInlineBytes) {
      // payloads FINALIZED once per GSO entry before the broadcast
      // (not per referencing cell — shared payloads would re-copy)
      val gsoBuf = PagedScan.readTail(spark, path, meta.strlsAt,
        secLen.toInt)
      val gso = spark.sparkContext.broadcast(
        parseStrlsTyped(gsoBuf, meta.copy(strlsAt = 0L)).map {
          case (k, (t, payload)) => k -> finalizedPayload(t, payload)
        })
      scanWide((_, rv, ro) => gso.value.getOrElse((rv, ro),
        refuse(s"strL cell ($rv,$ro) has no GSO entry")))
    } else {
      // refs ride the frame as "v,o" BYTES in the binary slot, one
      // left equi-join per strL column resolves them (media corpora
      // usually carry ONE blob column, so "per column" is one join)
      val refd = scanWide((_, rv, ro) =>
        s"$rv,$ro".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val gsoRdd = gsoTaskRdd(spark, path, meta, secLen)
        .map { case ((rv, ro), (t, payload)) =>
          Row(s"$rv,$ro", finalizedPayload(t, payload))
        }
      // collision-proof internal names: the joined frame carries the
      // file's OWN variable names, and gso_ref/gso_payload are legal
      // Stata identifiers
      val gsoDf = spark.createDataFrame(gsoRdd, StructType(Seq(
        StructField("__graft_gso_ref", StringType, nullable = false),
        StructField("__graft_gso_payload", BinaryType, nullable = true))))
      meta.vars.filter(_.isStrL).foldLeft(refd) { (df, v) =>
        val refStr = decode(col(v.name), "US-ASCII")
        df.join(gsoDf, refStr === col("__graft_gso_ref"), "left")
          .withColumn(v.name,
            when(col(v.name).isNull, lit(null).cast(BinaryType))
              .otherwise(when(col("__graft_gso_ref").isNull,
                raise_error(concat(lit(s"dta: strL cell ("), refStr,
                  lit(") has no GSO entry"))).cast(BinaryType))
                .otherwise(col("__graft_gso_payload"))))
          .drop("__graft_gso_ref", "__graft_gso_payload")
      }
    }
  }

  /** [[readTypedPaged]] over a directory/glob with the GSO bound
    * forwarded to every file. */
  def readTypedPagedAll(spark: SparkSession, path: String, partitions: Int,
                        gsoInlineBytes: Long): DataFrame =
    Cells.unionPerFile(spark, path)(
      readTypedPaged(spark, _, partitions, gsoInlineBytes))

  /** TYPED read: one DataFrame row per record, numerics as double,
    * strings as string, binary strL columns as BinaryType — the
    * channel the tall-cell layout lacks. Every file must land on the
    * FIRST file's column kinds. */
  protected def typedFrom(spark: SparkSession, first: Array[Byte],
                          files: org.apache.spark.rdd.RDD[(String, Array[Byte])])
      : DataFrame = {
    val kinds = dtaTypedKinds(first)
    Cells.requireNoReservedNames(kinds.map(_._1), "Dta.readTyped")
    val schema = Cells.typedSchema(kinds.map { case (name, kind) =>
      StructField(name, kind match {
        case 'n' => DoubleType
        case 'y' => BinaryType
        case _ => StringType
      }, nullable = true)
    })
    val rdd = files.flatMap { case (file, bytes) =>
      // ONE GSO parse per file feeds the kind check AND the resolve
      // map — for media files the GSO section IS the bulk, so a
      // second parse would double CPU and payload allocation
      val meta = parseMeta(bytes)
      val gso: Map[(Long, Long), (Int, Array[Byte])] =
        if (meta.vars.exists(_.isStrL)) parseStrlsTyped(bytes, meta)
        else Map.empty
      // structural check only (names + numeric/string split) — the
      // binary-vs-text routing is guarded per CELL below, so a full
      // kind re-derivation (a second row walk) buys nothing
      val got = meta.vars.map(v =>
        (v.name, if (v.strWidth == 0 && !v.isStrL) 'n' else 's'))
      val want = kinds.map { case (n, k) => (n, if (k == 'n') 'n' else 's') }
      require(got == want,
        s"dta: $file's columns $got do not match the first file's $want")
      // routing keys on the CELL's own column kind (never the ref's
      // v — payloads are shared across columns by real writers)
      val binCol: Array[Boolean] = kinds.map(_._2 == 'y').toArray
      rowsResolved(bytes, meta, (ci, rv, ro) => {
        val (t, payload) = gso.getOrElse((rv, ro),
          refuse(s"strL cell ($rv,$ro) has no GSO entry"))
        if (binCol(ci)) finalizedPayload(t, payload)
        else {
          if (t == 129)
            refuse(s"column '${kinds(ci)._1}' is text-kinded but cell " +
              s"($rv,$ro) carries a binary (t=129) payload")
          val s = strlText(payload, meta.utf8)
          if (s.isEmpty) null else s
        }
      }).zipWithIndex.map { case (vals, r) =>
        Row.fromSeq(file +: java.lang.Long.valueOf(r.toLong) +: vals)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  // --------------------------------------------------------------
  // writer — release 118, doubles + fixed-width strings. Validated
  // against pandas.read_stata (DtaSpec pins the round-trip; the
  // development cross-check is recorded in tools/make_dta_fixture.py's
  // sibling note in SCALE.md).
  // --------------------------------------------------------------

  /** Dump records as a release-118 little-endian .dta: numeric columns
    * as double (null = '.'), string columns as str# (width = longest
    * value, min 1, max 2045; null = empty) — or, with `strl = true`,
    * every string column as a strL (type 32768): cells carry the
    * 118-layout u2 v + 48-bit o ref and payloads live in the <strls>
    * GSO table (t = 130, trailing NUL, the pandas.to_stata layout). */
  def dumps(cols: Seq[(String, Boolean)], data: Seq[Seq[Any]],
            strl: Boolean = false): Array[Byte] =
    dumpsModes(cols.map { case (n, isNum) =>
      (n, if (isNum) 'n' else if (strl) 'l' else 'f') }, data)

  /** [[dumps]] with explicit column kinds: 'n' double, 's' strL text
    * (t=130), 'y' strL BINARY (t=129, Array[Byte] cells — the Stata
    * channel for media blobs, read back by [[readTyped]] and by
    * pandas.read_stata as bytes). */
  def dumpsTyped(cols: Seq[(String, Char)], data: Seq[Seq[Any]])
      : Array[Byte] = {
    require(cols.forall(c => "nsy".contains(c._2)),
      s"column kinds must be n/s/y: $cols")
    dumpsModes(cols.map { case (n, k) =>
      (n, if (k == 's') 'l' else k) }, data)
  }

  /** Minimal classic release-113 writer — Stata 8's format, the
    * oldest classic this reader accepts: 109-byte header, byte
    * typlist, 33-byte names, 12-byte formats (the one ladder width
    * that distinguishes 113 from 114), fixed-width LE data rows.
    * pandas.read_stata parses the output value-for-value
    * (tools/make_dta_fixture.py check-113 — the independent
    * implementation anchoring this layout). Numeric columns are
    * doubles (null = '.'), strings fixed-width str# (null = empty,
    * the classic missing-string convention). */
  def dumps113(cols: Seq[(String, Boolean)],
               data: Seq[Seq[Any]]): Array[Byte] = {
    require(cols.nonEmpty, "dumps113 needs at least one column")
    data.foreach(r => require(r.length == cols.length,
      s"row arity ${r.length} != ${cols.length} columns"))
    val widths = cols.zipWithIndex.map { case ((_, isNum), i) =>
      if (isNum) 0
      else math.max(1, data.iterator.map(r => Option(r(i)).fold(0)(
        _.asInstanceOf[String].getBytes(
          java.nio.charset.StandardCharsets.ISO_8859_1).length))
        .foldLeft(0)(math.max))
    }
    widths.foreach(w => require(w <= 244,
      s"dta 113: str width $w exceeds the classic 244-byte cap"))
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit =
      (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    def padded(b: Array[Byte], n: Int): Unit = {
      out.write(b, 0, math.min(b.length, n))
      var i = b.length; while (i < n) { out.write(0); i += 1 }
    }
    w8(113); w8(2); w8(1); w8(0) // release, LOHI, filetype, unused
    w16(cols.length); w32(data.length.toLong)
    padded("graft".getBytes(java.nio.charset.StandardCharsets.US_ASCII), 81)
    padded(Array.emptyByteArray, 18) // timestamp
    cols.zip(widths).foreach { case ((_, isNum), w) =>
      w8(if (isNum) 255 else w) } // typlist: double / str#
    cols.foreach { case (n, _) =>
      padded(n.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 33) }
    (0 to cols.length).foreach(_ => w16(0)) // srtlist
    cols.foreach { case (_, isNum) =>
      padded((if (isNum) "%10.0g" else "%9s")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII), 12) }
    cols.foreach(_ => padded(Array.emptyByteArray, 33)) // lbllist
    cols.foreach(_ => padded(Array.emptyByteArray, 81)) // var labels
    w8(0); w32(0) // expansion-field terminator
    data.foreach { r =>
      cols.indices.foreach { i =>
        if (cols(i)._2) {
          val bits = r(i) match {
            case null => 0x7fe0000000000000L // '.'
            case d: Double => java.lang.Double.doubleToRawLongBits(d)
            case other => throw new IllegalArgumentException(
              s"dumps113 numeric cells are Double/null, got " +
                other.getClass.getName)
          }
          (0 until 8).foreach(j =>
            out.write(((bits >> (8 * j)) & 0xff).toInt))
        } else padded(r(i) match {
          case null => Array.emptyByteArray
          case st: String => st.getBytes(
            java.nio.charset.StandardCharsets.ISO_8859_1)
          case other => throw new IllegalArgumentException(
            s"dumps113 string cells are String/null, got " +
              other.getClass.getName)
        }, widths(i))
      }
    }
    out.toByteArray
  }

  /** The shared writer: per-column mode 'n' (double), 'f' (fixed
    * str#), 'l' (strL text, t=130), 'y' (strL binary, t=129). */
  private def dumpsModes(cols: Seq[(String, Char)],
                         data: Seq[Seq[Any]]): Array[Byte] = {
    require(cols.nonEmpty, "dumps needs at least one column")
    data.foreach(r => require(r.length == cols.length,
      s"row arity ${r.length} != ${cols.length} columns"))
    val widths = cols.zipWithIndex.map { case ((name, mode), i) =>
      if (mode != 'f') 0
      else {
        val w = math.max(1, data.iterator.map(r =>
          Option(r(i)).fold(0)(_.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8).length))
          .foldLeft(0)(math.max))
        // strL payloads are u4-length GSO entries — the 2045 cap is a
        // fixed-width (str#) constraint only
        require(w <= 2045, s"string column '$name' wider than " +
          "2045 — use dumps(..., strl = true)")
        w
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    def wb(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def w2(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w8(v: Long): Unit = {
      var i = 0
      while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def pad(s: String, n: Int): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(b.length <= n, s"'$s' wider than $n")
      out.write(b)
      out.write(new Array[Byte](n - b.length))
    }

    wb("<stata_dta><header><release>118</release><byteorder>LSF" +
      "</byteorder><K>")
    w2(cols.length)
    wb("</K><N>"); w8(data.length.toLong)
    wb("</N><label>"); w2(0)
    wb("</label><timestamp>"); out.write(0)
    wb("</timestamp></header><map>")
    val mapAt = out.size()
    (0 until 14).foreach(_ => w8(0L)) // patched below
    wb("</map>")
    val sections = mutable.ArrayBuffer.empty[(Int, Long)] // map slot, offset

    def section(slot: Int, open: String)(body: => Unit)(close: String): Unit = {
      sections += ((slot, out.size().toLong))
      wb(open); body; wb(close)
    }
    section(2, "<variable_types>") {
      cols.zip(widths).foreach { case ((_, mode), w) =>
        w2(mode match {
          case 'n' => 65526
          case 'f' => w
          case _ => 32768 // strL, text or binary
        })
      }
    }("</variable_types>")
    section(3, "<varnames>") {
      cols.foreach(c => pad(c._1, 129))
    }("</varnames>")
    section(4, "<sortlist>") {
      (0 to cols.length).foreach(_ => w2(0))
    }("</sortlist>")
    section(5, "<formats>") {
      cols.zip(widths).foreach { case ((_, mode), w) =>
        pad(mode match {
          case 'n' => "%10.0g"
          case 'f' => s"%${w}s"
          case _ => "%9s"
        }, 57)
      }
    }("</formats>")
    section(6, "<value_label_names>") {
      cols.foreach(_ => pad("", 129))
    }("</value_label_names>")
    section(7, "<variable_labels>") {
      cols.foreach(_ => pad("", 321))
    }("</variable_labels>")
    section(8, "<characteristics>")(())("</characteristics>")
    // GSO payloads accumulate while the data cells are written (cells
    // reference v = 1-based column, o = 1-based row, the 118 packing;
    // t = 130 text + trailing NUL, 129 binary verbatim). Identical
    // (t, payload) values DEDUP to one entry — the convention real
    // writers follow (Stata and pandas share payloads even across
    // columns, which is why the readers route by the CELL's column,
    // never the ref's v).
    val gsoEntries = mutable.ArrayBuffer.empty[(Int, Long, Int, Array[Byte])]
    val gsoIndex = mutable.HashMap.empty[(Int, collection.Seq[Byte]), Long]
    section(9, "<data>") {
      data.zipWithIndex.foreach { case (r, rowIdx) =>
        cols.indices.foreach { i =>
          def strlRef(t: Int, payload: Array[Byte]): Unit =
            w8(gsoIndex.getOrElseUpdate((t, payload.toSeq), {
              val v = i + 1
              val o = rowIdx + 1L
              gsoEntries += ((v, o, t, payload))
              v.toLong | (o << 16)
            }))
          cols(i)._2 match {
            case 'l' => r(i) match {
              case null => w8(0L)
              case s: String if s.isEmpty => w8(0L)
              case s: String => strlRef(130,
                s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              case other => throw new IllegalArgumentException(
                s"string column '${cols(i)._1}' got ${other.getClass.getName}")
            }
            case 'y' => r(i) match {
              case null => w8(0L)
              case b: Array[Byte] => strlRef(129, b)
              case other => throw new IllegalArgumentException(
                s"binary column '${cols(i)._1}' got ${other.getClass.getName}")
            }
            case 'n' =>
              val d = r(i) match {
                case null => MissDouble
                case x: Double if x.isNaN => MissDouble
                case x: Double =>
                  // values at or past 2^1023 ARE the missing ladder —
                  // writing one would silently read back as null
                  if (x >= MissDouble) refuse(
                    f"$x%g collides with Stata's missing-value range " +
                      "(x >= 2^1023)")
                  x
                case other => throw new IllegalArgumentException(
                  s"numeric column '${cols(i)._1}' got " +
                    other.getClass.getName)
              }
              w8(java.lang.Double.doubleToRawLongBits(d))
            case _ => r(i) match {
              case null => out.write(new Array[Byte](widths(i)))
              case s: String => pad(s, widths(i))
              case other => throw new IllegalArgumentException(
                s"string column '${cols(i)._1}' got ${other.getClass.getName}")
            }
          }
        }
      }
    }("</data>")
    section(10, "<strls>") {
      gsoEntries.foreach { case (v, o, t, payload) =>
        wb("GSO")
        w2(v); w2(0) // v u4
        w8(o) // o u8
        out.write(t)
        val len = payload.length + (if (t == 130) 1 else 0)
        w2(len & 0xffff); w2(len >>> 16) // len u4
        out.write(payload)
        if (t == 130) out.write(0)
      }
    }("</strls>")
    section(11, "<value_labels>")(())("</value_labels>")
    val endAt = out.size().toLong
    wb("</stata_dta>")
    val eof = out.size().toLong

    val bytes = out.toByteArray
    def patch8(at: Int, v: Long): Unit = {
      var i = 0
      while (i < 8) { bytes(at + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    }
    patch8(mapAt, 0L) // <stata_dta>
    patch8(mapAt + 8, (mapAt - "<map>".length).toLong)
    sections.foreach { case (slot, off) => patch8(mapAt + 8 * slot, off) }
    patch8(mapAt + 8 * 12, endAt)
    patch8(mapAt + 8 * 13, eof)
    bytes
  }
}
