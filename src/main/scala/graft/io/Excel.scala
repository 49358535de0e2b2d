package graft.io

import java.io.{BufferedInputStream, File, FileOutputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Excel (.xlsx) multi-sheet ingest/egress with zero non-JDK deps.
  *
  * Reference: `read_excel_sheets` (gofast/utils/data_utils.py:3686) —
  * all/selected sheets of one workbook, first element the file base
  * name — and `read_worksheets` (data_utils.py:3864) — every sheet of
  * every .xlsx under the given files/dirs, sheet names sanitized.
  *
  * An .xlsx file is a zip of XML parts; the reader walks
  * `xl/workbook.xml` (sheet names, in workbook order), the workbook
  * rels (sheet → part path), `xl/sharedStrings.xml`, and each
  * worksheet's `sheetData` with StAX — constant memory per row, no
  * DOM. Cells of type `s` (shared string), `inlineStr`, `str`
  * (formula cache), `b` (boolean) and plain numeric are handled.
  *
  * Scale note: xlsx is a single-file, non-splittable format with a
  * practical ~1M-row sheet cap — a CONFIG/lookup-table format, not a
  * data-lake format. The single-workbook readers parse on the driver
  * by design; a DIRECTORY of workbooks goes through [[readXlsxDir]],
  * which parses each workbook inside its binaryFile task (across-file
  * parallelism — the within-file axis is capped by the row limit
  * anyway). A reference user lands big data as parquet via
  * [[IO.exportData]] after the one-time conversion.
  */
object Excel {

  private val XIF = {
    val f = XMLInputFactory.newInstance()
    // hygiene: no DTDs / external entities from untrusted workbooks
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** Part lookup: name → reopenable stream. Backed by a ZipFile for
    * the driver-side single-workbook readers, by an in-memory part map
    * for the task-side directory scan ([[readXlsxDir]]). */
  private type Lookup = String => Option[() => InputStream]

  private def zfLookup(zf: ZipFile): Lookup = name =>
    Option(zf.getEntry(name)).map(e =>
      () => new BufferedInputStream(zf.getInputStream(e)))

  private def mapLookup(parts: Map[String, Array[Byte]]): Lookup = name =>
    parts.get(name).map(b => () => new java.io.ByteArrayInputStream(b))

  /** Every part of an in-memory workbook — a sequential
    * ZipInputStream walk (workbooks are config-scale; the map is
    * bounded by the file the task already holds). */
  private def unzipAll(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out += (e.getName -> zin.readAllBytes())
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  /** Sheet names in workbook order, without reading any cell data. */
  def listSheets(path: String): Seq[String] = {
    val zf = new ZipFile(path)
    try workbookSheets(zfLookup(zf)).map(_._1)
    finally zf.close()
  }

  /** `read_excel_sheets`: selected (or all) sheets of one workbook as
    * DataFrames, with the workbook's base name. Unknown requested
    * sheet names raise, mirroring the reference's ValueError. */
  def readExcelSheets(spark: SparkSession, path: String,
                      sheetNames: Seq[String] = Nil,
                      header: Boolean = true)
      : (String, Seq[(String, DataFrame)]) = {
    val zf = new ZipFile(path)
    try {
      val lk = zfLookup(zf)
      val sheets = workbookSheets(lk)
      val known = sheets.map(_._1)
      val missing = sheetNames.filterNot(known.contains)
      require(missing.isEmpty,
        s"sheets not in workbook: ${missing.mkString(", ")} " +
          s"(workbook has: ${known.mkString(", ")})")
      val want =
        if (sheetNames.isEmpty) sheets
        else sheets.filter { case (n, _) => sheetNames.contains(n) }
      val shared = sharedStrings(lk)
      val out = want.map { case (name, part) =>
        val (names, data) = sheetStrings(lk, part, shared, header)
        name -> TypedRows.toDf(spark, names, data)
      }
      val base = new File(path).getName.replaceAll("\\.[Xx][Ll][Ss][Xx]$", "")
      (base, out)
    } finally zf.close()
  }

  /** `read_worksheets`: every sheet of every .xlsx among `paths`
    * (files or directories), sheet names sanitized (non-alnum → '_'),
    * deduplicated with numeric suffixes like the reference. */
  def readWorksheets(spark: SparkSession, paths: String*)
      : (Seq[DataFrame], Seq[String]) = {
    val files = paths.flatMap { p =>
      val f = new File(p)
      if (f.isDirectory)
        f.listFiles().toSeq.filter(_.getName.toLowerCase.endsWith(".xlsx"))
          .sortBy(_.getName)
      else {
        require(p.toLowerCase.endsWith(".xlsx"), s"not an .xlsx file: $p")
        Seq(f)
      }
    }
    require(files.nonEmpty, "no .xlsx files found")
    val seen = mutable.Map.empty[String, Int]
    val acc = files.flatMap { f =>
      readExcelSheets(spark, f.getPath)._2.map { case (name, df) =>
        val clean = name.trim.replaceAll("[^A-Za-z0-9]+", "_")
        val n = seen.getOrElse(clean, 0); seen(clean) = n + 1
        (if (n == 0) clean else s"${clean}_$n", df)
      }
    }
    (acc.map(_._2), acc.map(_._1))
  }

  /** First sheet of an in-memory workbook as (names, string rows) —
    * the task-side kernel behind [[readXlsxDir]]. */
  private[io] def xlsxFirstSheetStrings(bytes: Array[Byte], header: Boolean)
      : (Seq[String], Seq[Seq[String]]) = {
    val lk = mapLookup(unzipAll(bytes))
    val sheets = workbookSheets(lk)
    require(sheets.nonEmpty, "workbook has no sheets")
    sheetStrings(lk, sheets.head._2, sharedStrings(lk), header)
  }

  /** TASK-SIDE scan of a DIRECTORY/glob of workbooks (r15 verdict
    * residual: a directory of 10k workbooks previously serialized on
    * the driver): each binaryFile task unzips ITS OWN workbooks in
    * memory (ZipInputStream over bytes the task already holds) and
    * walks them with the same StAX kernel, emitting the statistical-
    * reader tall-cell convention. First sheet per workbook — the
    * homogeneous-exports deploy shape. */
  def readXlsxDirCells(spark: SparkSession, path: String,
                       header: Boolean = true): DataFrame = {
    val rdd = Cells.files(spark, path).flatMap { case (file, bytes) =>
      val (names0, data) = xlsxFirstSheetStrings(bytes, header)
      // cells key under the DEDUPED names the fitted schema carries
      // (repeated header labels are routine in real spreadsheets);
      // null cells are emitted too — an all-blank spreadsheet row must
      // still form a pivot group instead of silently vanishing
      val names = TypedRows.dedupeNames(names0).map((_, false))
      Cells.cells(file, names, data.iterator)
    }
    spark.createDataFrame(rdd, Cells.schema)
  }

  /** The one-call wide read over a workbook directory: header and
    * column types FITTED ONCE from the first workbook (the Fwf
    * fitted-scalar pattern — one bounded driver read), every workbook
    * then parsed task-side and pivoted under that schema. */
  def readXlsxDir(spark: SparkSession, path: String,
                  header: Boolean = true): DataFrame = {
    val firstBytes = Cells.firstFileBytes(spark, path)
    val (names0, sample) = xlsxFirstSheetStrings(firstBytes, header)
    require(names0.nonEmpty, "first workbook has no columns")
    val names = TypedRows.dedupeNames(names0)
    val fitted = TypedRows.toDf(spark, names0, sample).schema
    val wide = Cells.records(readXlsxDirCells(spark, path, header),
      names.map(n => (n, false)))
    // backticked refs: header labels may carry dots/spaces
    wide.select(col("src_file") +: col("row") +: fitted.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
  }

  /** Minimal xlsx writer (numbers as native cells, everything else as
    * inline strings). Collects each frame to the driver — intended for
    * the small lookup/config workbooks xlsx is for, not for exports
    * that belong in parquet. */
  def writeXlsx(path: String, sheets: Seq[(String, DataFrame)],
                maxRows: Int = 1048575): Unit = {
    val fos = new FileOutputStream(path)
    try writeXlsx(fos, sheets, maxRows) finally fos.close()
  }

  /** Stream overload — lets callers route the workbook through any
    * filesystem (IO.exportData resolves Hadoop URIs this way). */
  def writeXlsx(os: java.io.OutputStream, sheets: Seq[(String, DataFrame)],
                maxRows: Int): Unit = {
    val zos = new ZipOutputStream(os)
    def put(name: String, body: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(body.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    try {
      val n = sheets.size
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
            .mkString + "</Types>")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          sheets.zipWithIndex.map { case ((name, _), i) =>
            s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString + "</sheets></workbook>")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
            .mkString + "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, df), i) =>
        val rows = df.limit(maxRows + 1).collect()
        require(rows.length <= maxRows,
          s"sheet ${i + 1} exceeds the xlsx row cap ($maxRows); " +
            "write parquet instead")
        val sb = new StringBuilder(
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        def rowXml(r: Int, cells: Seq[Any]): Unit = {
          sb ++= s"""<row r="$r">"""
          cells.zipWithIndex.foreach { case (v, c) =>
            val ref = colName(c) + r
            v match {
              case null => ()
              case x: Byte => sb ++= s"""<c r="$ref"><v>$x</v></c>"""
              case x: Short => sb ++= s"""<c r="$ref"><v>$x</v></c>"""
              case x: Int => sb ++= s"""<c r="$ref"><v>$x</v></c>"""
              case x: Long => sb ++= s"""<c r="$ref"><v>$x</v></c>"""
              case x: Float => sb ++= s"""<c r="$ref"><v>$x</v></c>"""
              case x: Double => sb ++= s"""<c r="$ref"><v>$x</v></c>"""
              case x: java.math.BigDecimal =>
                sb ++= s"""<c r="$ref"><v>${x.toPlainString}</v></c>"""
              case x: Boolean =>
                sb ++= s"""<c r="$ref" t="b"><v>${if (x) 1 else 0}</v></c>"""
              case x =>
                sb ++= s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xmlEscape(x.toString)}</t></is></c>"""
            }
          }
          sb ++= "</row>"
        }
        rowXml(1, df.columns.toSeq)
        rows.zipWithIndex.foreach { case (row, j) =>
          rowXml(j + 2, row.toSeq)
        }
        sb ++= "</sheetData></worksheet>"
        put(s"xl/worksheets/sheet${i + 1}.xml", sb.result())
      }
    } finally zos.close()
  }

  // ---------------------------------------------------------------- internals

  /** (sheetName, zip part path) in workbook order. */
  private def workbookSheets(zf: Lookup): Seq[(String, String)] = {
    val rels = mutable.Map.empty[String, String]
    withEntry(zf, "xl/_rels/workbook.xml.rels") { in =>
      val r = XIF.createXMLStreamReader(in)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship")
          rels(attr(r, "Id")) = attr(r, "Target")
      }
      r.close()
    }
    val out = mutable.ArrayBuffer.empty[(String, String)]
    withEntry(zf, "xl/workbook.xml") { in =>
      val r = XIF.createXMLStreamReader(in)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "sheet") {
          val name = attr(r, "name")
          val rid = attr(r, "id") // r:id resolves by local name
          val target = rels.getOrElse(rid,
            throw new IllegalArgumentException(s"dangling sheet rel $rid"))
          val part =
            if (target.startsWith("/")) target.substring(1)
            else "xl/" + target
          out += name -> part
        }
      }
      r.close()
    }
    out.toSeq
  }

  /** Shared-string table; rich-text runs are concatenated per `si`. */
  private def sharedStrings(zf: Lookup): IndexedSeq[String] = {
    if (zf("xl/sharedStrings.xml").isEmpty)
      return IndexedSeq.empty
    val out = mutable.ArrayBuffer.empty[String]
    withEntry(zf, "xl/sharedStrings.xml") { in =>
      val r = XIF.createXMLStreamReader(in)
      var cur: StringBuilder = null
      var inT = false
      var phonetic = 0 // depth inside <rPh>: furigana, not cell text
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => cur = new StringBuilder
              case "rPh" => phonetic += 1
              case "t" => inT = true
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inT && phonetic == 0 && cur != null) cur ++= r.getText
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "rPh" => phonetic -= 1
              case "si" => out += cur.result(); cur = null
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
    }
    out.toIndexedSeq
  }

  /** Style table: cellXfs index → is-a-date-format. Built-in date
    * numFmtIds are 14–22 and 45–47; custom formats count as dates
    * when the format code (minus quoted literals and color tags)
    * contains day/month/year/hour/second letters. */
  private def dateStyles(zf: Lookup): Set[Int] = {
    if (zf("xl/styles.xml").isEmpty) return Set.empty
    val customDate = mutable.Set.empty[Int]
    val xfFmts = mutable.ArrayBuffer.empty[Int]
    withEntry(zf, "xl/styles.xml") { in =>
      val r = XIF.createXMLStreamReader(in)
      var inCellXfs = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "numFmt" =>
                val id = Option(attr(r, "numFmtId")).map(_.toInt)
                val code = Option(attr(r, "formatCode")).getOrElse("")
                val bare = code.replaceAll("\"[^\"]*\"", "")
                  .replaceAll("\\[[^\\]]*\\]", "")
                if (id.nonEmpty && bare.exists(c => "dmyhsDMYHS".indexOf(c) >= 0))
                  customDate += id.get
              case "cellXfs" => inCellXfs = true
              case "xf" if inCellXfs =>
                xfFmts += Option(attr(r, "numFmtId")).map(_.toInt).getOrElse(0)
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "cellXfs") inCellXfs = false
          case _ => ()
        }
      }
      r.close()
    }
    xfFmts.zipWithIndex.collect {
      case (fmt, i)
          if (fmt >= 14 && fmt <= 22) || (fmt >= 45 && fmt <= 47) ||
            customDate.contains(fmt) => i
    }.toSet
  }

  /** Excel serial → ISO string. Serials count days since 1899-12-30
    * (the 1900 system with its intentional lotus leap-year quirk
    * already folded in for dates past 1900-02-28, which is every date
    * a modern workbook holds). Whole serials become `yyyy-MM-dd`;
    * fractional ones carry a time-of-day part. */
  private[graft] def serialToIso(serial: Double): String = {
    val epoch = java.time.LocalDate.of(1899, 12, 30)
    val days = math.floor(serial).toLong
    val date = epoch.plusDays(days)
    val frac = serial - days
    if (frac < 1e-9) date.toString
    else {
      val secs = math.round(frac * 86400)
      // 23:59:59.6+ rounds to a full day: roll the DATE forward too,
      // or end-of-day timestamps shift back 24h
      val (d2, s2) = if (secs >= 86400) (date.plusDays(1), 0L)
                     else (date, secs)
      if (s2 == 0) d2.toString
      else {
        val t = java.time.LocalTime.ofSecondOfDay(s2)
        s"$d2 ${t.toString}" +
          (if (t.getSecond == 0 && t.toString.length == 5) ":00" else "")
      }
    }
  }

  /** One worksheet part → (column names, string rows): StAX row walk,
    * ragged rows padded, first row the header (when `header`);
    * date-styled numeric cells are converted from Excel serials to ISO
    * strings so downstream inference can surface a real DateType.
    * Pure JVM — runs on the driver (single-workbook readers) or
    * inside a task ([[readXlsxDir]]). */
  private def sheetStrings(zf: Lookup, part: String,
                           shared: IndexedSeq[String],
                           header: Boolean): (Seq[String], Seq[Seq[String]]) = {
    val dateXf = dateStyles(zf)
    val rows = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
    withEntry(zf, part) { in =>
      val r = XIF.createXMLStreamReader(in)
      var row: mutable.ArrayBuffer[String] = null
      var col = 0          // 0-based position of the current cell
      var typ = ""         // cell t attribute
      var dateCell = false // cell s attribute points at a date style
      var inV = false      // inside <v> (or inlineStr <t>)
      var buf: StringBuilder = null
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => row = mutable.ArrayBuffer.empty[String]; col = 0
              case "c" if row != null =>
                val ref = attr(r, "r")
                col = if (ref != null) colIndex(ref) else col
                typ = Option(attr(r, "t")).getOrElse("")
                dateCell = Option(attr(r, "s"))
                  .exists(s => dateXf.contains(s.toInt))
              case "v" => inV = true; buf = new StringBuilder
              case "t" if typ == "inlineStr" =>
                inV = true; if (buf == null) buf = new StringBuilder
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inV) buf ++= r.getText
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" | "t" if inV =>
                inV = false
              case "c" if row != null =>
                if (buf != null) {
                  val raw = buf.result()
                  val v = typ match {
                    case "s" => shared(raw.trim.toInt)
                    case "b" => if (raw.trim == "1") "true" else "false"
                    case "" | "n" if dateCell &&
                        scala.util.Try(raw.trim.toDouble).isSuccess =>
                      serialToIso(raw.trim.toDouble)
                    case _ => raw // number, str (formula cache), inlineStr
                  }
                  while (row.length < col) row += null
                  if (row.length == col) row += v else row(col) = v
                }
                buf = null; typ = ""; dateCell = false; col += 1
              case "row" =>
                rows += row; row = null
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
    }
    val width = if (rows.isEmpty) 0 else rows.map(_.length).max
    rows.foreach { r => while (r.length < width) r += null }
    if (header && rows.nonEmpty) {
      val h = rows.head.zipWithIndex.map { case (v, i) =>
        if (v == null || v.isEmpty) s"_c$i" else v
      }
      (h.toSeq, rows.tail.toSeq.map(_.toSeq))
    } else ((0 until width).map(i => s"_c$i"), rows.toSeq.map(_.toSeq))
  }

  private def withEntry[A](zf: Lookup, name: String)(f: InputStream => A): A = {
    val open = zf(name).getOrElse(
      throw new IllegalArgumentException(s"xlsx missing part: $name"))
    val in = open()
    try f(in) finally in.close()
  }

  private def attr(r: javax.xml.stream.XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** "BC12" → 0-based column 54. */
  private[graft] def colIndex(ref: String): Int = {
    var acc = 0; var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  /** 0-based column 54 → "BC". */
  private[graft] def colName(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb += ('A' + r).toChar; n = (n - 1) / 26 }
    sb.result().reverse
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      case c => c.toString
    }
}
