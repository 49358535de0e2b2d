package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Unified reader/writer facade + parquet table catalog (SURVEY §2.1).
  *
  * Reference: `read_data` (gofast/core/io.py:826) with its
  * extension→parser map (gofast/api/property.py:2781), `export_data`
  * (io.py:1137), and the HDF5 store/retrieve family
  * (`handle_datasets_with_hdfstore`, management.py:424) which here is a
  * parquet warehouse of named tables — the format a 100 TB deployment
  * actually uses (columnar, splittable, predicate/partition pruning).
  */
object IO {

  /** The statistical formats' extensions — one record reader each. */
  private val Statistical: Map[String, TallCells] = Map(
    "sas7bdat" -> Sas, "sav" -> Sav, "zsav" -> Sav, "dta" -> Dta,
    "xpt" -> Xpt, "feather" -> Feather, "arrow" -> Feather)

  /** Extension-dispatched read, mirroring `read_data`'s map. .npy and
    * .npz dispatch to the pure-JVM [[Npy]] parser (COO rows); .pkl /
    * .pickle to the pure-JVM [[Pickle]] record reader (flat
    * list/dict/scalar frames only — constructor opcodes refuse, by
    * design); the statistical formats to their [[TallCells]]
    * `readRecords`: .sas7bdat ([[Sas]]: little- and big-endian,
    * uncompressed, RLE or RDC), .sav/.zsav ([[Sav]]: no, bytecode or
    * zlib compression), .dta ([[Dta]]), .xpt ([[Xpt]]) and
    * .feather/.arrow ([[Feather]]); .h5 remains a documented
    * conversion. `sanitizeNames` lower-snake-cases columns, the
    * `sanitize=True` read option (io.py:826). */
  def readData(spark: SparkSession, path: String,
               inferSchema: Boolean = true,
               sanitizeNames: Boolean = false): DataFrame = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    val df = ext match {
      case "csv" | "txt" =>
        spark.read.option("header", "true")
          .option("inferSchema", inferSchema.toString).csv(path)
      case "tsv" =>
        spark.read.option("header", "true").option("sep", "\t")
          .option("inferSchema", inferSchema.toString).csv(path)
      case "fwf" => Fwf.readFwf(spark, path)
      case "json" => spark.read.option("multiLine", "false").json(path)
      case "parquet" | "parq" => spark.read.parquet(path)
      case "orc" => spark.read.orc(path)
      case "xml" => spark.read.option("rowTag", "row").xml(path)
      case "xlsx" => Excel.readExcelSheets(spark, path)._2.head._2
      case "npy" => Npy.read(spark, path)
      case "npz" => Npy.readNpz(spark, path)
      case "pkl" | "pickle" => Pickle.readRecords(spark, path)
      case stat if Statistical.contains(stat) =>
        Statistical(stat).readRecords(spark, path)
      case "html" | "htm" =>
        val tables = Scrape.readHtmlTables(spark, path)
        require(tables.nonEmpty, s"no <table> found in $path")
        tables.head
      case other =>
        throw new IllegalArgumentException(s"unsupported format: .$other")
    }
    if (sanitizeNames) sanitizeColumns(df) else df
  }

  /** Column-name sanitization (`sanitize_frame_cols`,
    * gofast/core/utils.py:1941): trim, lower, non-alnum → '_'. */
  def sanitizeColumns(df: DataFrame): DataFrame =
    df.withColumnsRenamed(df.columns.map { c =>
      c -> c.trim.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        .replaceAll("^_+|_+$", "")
    }.toMap)

  /** Single-file export under the DataFrameWriter SaveMode contract,
    * resolved through the HADOOP filesystem for both the exists()
    * check and the write — a java.io.File check would mis-detect
    * hdfs:// or s3a:// targets as absent while the read side resolves
    * the same URIs through Hadoop FS (r15 advice). */
  private def singleFileWrite(df: DataFrame, path: String, ext: String,
                              mode: SaveMode)
                             (write: java.io.OutputStream => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val exists = fs.exists(p)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"path already exists: $path")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        throw new UnsupportedOperationException(
          s"append to an existing .$ext is not supported")
      case _ =>
        val out = fs.create(p, true)
        try write(out) finally out.close()
    }
  }

  /** Extension-dispatched write (`export_data`, io.py:1137). */
  def exportData(df: DataFrame, path: String,
                 mode: SaveMode = SaveMode.Overwrite): Unit = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    val w = df.write.mode(mode)
    ext match {
      case "csv"            => w.option("header", "true").csv(path)
      case "json"           => w.json(path)
      case "parquet" | "parq" => w.parquet(path)
      case "orc"            => w.orc(path)
      case "xlsx"           =>
        singleFileWrite(df, path, ext, mode)(os =>
          Excel.writeXlsx(os, Seq("Sheet1" -> df), 1048575))
      case "pkl" | "pickle" =>
        // records → protocol-2 list-of-dicts via Pickle.dumps (the
        // reader's own writer); same bound + SaveMode as the others
        singleFileWrite(df, path, ext, mode) { os =>
          val (cols, rows) = driverRows(df, ext)
          val recs = rows.map(r =>
            scala.collection.immutable.ListMap(
              cols.map(_._1).zip(r): _*))
          os.write(Pickle.dumps(recs))
        }
      case "html" | "htm" | "tex" | "md" =>
        // text-table exports (the reference writers map's to_html /
        // to_latex, property.py:2835): any column type stringifies,
        // same driver-side bound and SaveMode contract as .xlsx.
        // .html round-trips through Scrape.readHtmlTables.
        singleFileWrite(df, path, ext, mode) { os =>
          val names = df.columns.toSeq
          val taken = df.select(names.map(n =>
            org.apache.spark.sql.functions.col(n).cast("string")): _*)
            .take(1048576)
          require(taken.length <= 1048575,
            s"single-file .$ext export is bounded at 1048575 rows " +
              "(driver-side by design) — write parquet for anything bigger")
          val rows = taken.toSeq.map(r =>
            names.indices.map(i => Option(r.getString(i)).getOrElse("")))
          val body = ext match {
            case "tex" => texTable(names, rows)
            case "md" => mdTable(names, rows)
            case _ => htmlTable(names, rows)
          }
          os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      case "sas7bdat" | "sav" | "zsav" | "dta" | "stata" | "xpt" |
           "feather" | "arrow" =>
        // single-file statistical-package exports are driver-side by
        // design, like .xlsx — same save-mode contract, same bound
        // (.stata is the reference writers-map name for .dta,
        // gofast/api/property.py:2835)
        singleFileWrite(df, path, ext, mode) { os =>
          val (cols, rows) = driverRows(df, ext)
          val bytes = ext match {
            case "sav" => Sav.dumps(cols, rows, bytecode = true)
            case "zsav" => Sav.dumps(cols, rows, zsav = true)
            case "dta" | "stata" => Dta.dumps(cols, rows)
            case "xpt" => Xpt.dumps(cols, rows)
            case "feather" | "arrow" => Feather.dumps(cols, rows)
            case _ => Sas.dumps(cols, rows)
          }
          os.write(bytes)
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported format: .$other")
    }
  }

  private def escHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def htmlTable(names: Seq[String], rows: Seq[Seq[String]]): String = {
    val sb = new StringBuilder("<table>\n<thead><tr>")
    names.foreach(n => sb.append("<th>").append(escHtml(n)).append("</th>"))
    sb.append("</tr></thead>\n<tbody>\n")
    rows.foreach { r =>
      sb.append("<tr>")
      r.foreach(v => sb.append("<td>").append(escHtml(v)).append("</td>"))
      sb.append("</tr>\n")
    }
    sb.append("</tbody>\n</table>\n").toString
  }

  private def mdTable(names: Seq[String], rows: Seq[Seq[String]]): String = {
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("|", "\\|").replace("\n", "<br>")
    val sb = new StringBuilder
    sb.append(names.map(esc).mkString("| ", " | ", " |\n"))
    sb.append(names.map(_ => "---").mkString("| ", " | ", " |\n"))
    rows.foreach(r => sb.append(r.map(esc).mkString("| ", " | ", " |\n")))
    sb.toString
  }

  private def escTex(s: String): String =
    s.flatMap {
      case c @ ('&' | '%' | '$' | '#' | '_' | '{' | '}') => s"\\$c"
      case '~' => "\\textasciitilde{}"
      case '^' => "\\textasciicircum{}"
      case '\\' => "\\textbackslash{}"
      case c => c.toString
    }

  private def texTable(names: Seq[String], rows: Seq[Seq[String]]): String = {
    val sb = new StringBuilder("\\begin{tabular}{")
    sb.append("l" * names.length).append("}\n\\toprule\n")
    sb.append(names.map(escTex).mkString(" & ")).append(" \\\\\n\\midrule\n")
    rows.foreach(r =>
      sb.append(r.map(escTex).mkString(" & ")).append(" \\\\\n"))
    sb.append("\\bottomrule\n\\end{tabular}\n")
    sb.toString
  }

  /** Bounded driver-side materialization for single-file exports:
    * numeric/boolean columns widen to double (both formats' only
    * numeric type), strings pass through, anything else refuses
    * loudly. The row bound matches writeXlsx's sheet limit — past it,
    * a single non-splittable file is the wrong export; write parquet. */
  private def driverRows(df: DataFrame, fmt: String, maxRows: Int = 1048575)
      : (Seq[(String, Boolean)], Seq[Seq[Any]]) = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: NumericType | BooleanType => (f.name, true)
        case StringType => (f.name, false)
        case other => throw new IllegalArgumentException(
          s".$fmt export supports numeric/boolean/string columns; " +
            s"'${f.name}' is $other — cast or stringify upstream")
      }
    }
    val widened = df.select(cols.map { case (n, isNum) =>
      val c = org.apache.spark.sql.functions.col(n)
      if (isNum) c.cast("double").as(n) else c
    }: _*)
    val taken = widened.take(maxRows + 1)
    require(taken.length <= maxRows,
      s"single-file .$fmt export is bounded at $maxRows rows " +
        "(driver-side by design) — write parquet for anything bigger")
    (cols, taken.toSeq.map(r => cols.indices.map(r.get)))
  }
}

/** Driver-side HTTP(S)/file fetch into a DataFrame — `request_data`
  * (gofast/dataops/management.py:202), `fetch_remote_data` (:714). The
  * body lands on the driver (small API payloads by design); at scale a
  * DataSource V2 connector replaces this. */
object Remote {
  def requestJsonLines(spark: SparkSession, url: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val src = scala.io.Source.fromURL(url)
    val body = try src.getLines().toList finally src.close()
    spark.read.json(spark.createDataset(body))
  }

  def requestCsv(spark: SparkSession, url: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val src = scala.io.Source.fromURL(url)
    val body = try src.getLines().toList finally src.close()
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(spark.createDataset(body))
  }
}

/** Named-dataset warehouse: the reference's HDF5 store/retrieve
  * (`store_or_retrieve_data`, management.py:521) as a parquet
  * directory-per-table layout. */
class Catalog(spark: SparkSession, warehouse: String) {
  private def pathOf(name: String) = s"$warehouse/$name"

  def save(name: String, df: DataFrame,
           partitionBy: Seq[String] = Nil,
           mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(pathOf(name))
  }

  def table(name: String): DataFrame = spark.read.parquet(pathOf(name))

  def list(): Seq[String] = {
    val dir = new java.io.File(warehouse)
    if (!dir.exists) Nil
    else dir.listFiles.filter(_.isDirectory).map(_.getName).sorted.toSeq
  }

  /** Bucketed managed table: co-locates rows by hash(bucketCols) at
    * WRITE time so later equi-joins/aggregations on those keys run
    * WITHOUT a shuffle — the 100 TB answer to repeated fact⋈fact joins
    * (SURVEY §2.3 scale note). Both join sides must use the same bucket
    * count and keys. */
  def saveBucketed(name: String, df: DataFrame, buckets: Int,
                   bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)

  def managed(name: String): DataFrame = spark.table(name)

  /** Collect table + column statistics for the cost-based optimizer:
    * with row counts and column NDV/min/max in the metastore, Catalyst
    * reorders multi-way joins and picks broadcast sides from DATA, not
    * the 10 MB static threshold — the difference between a good and a
    * catastrophic join order on a 100 TB star join. Run after large
    * writes to a managed (saveBucketed) table. */
  def analyze(name: String, columns: Seq[String] = Nil): Unit = {
    if (columns.isEmpty)
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS")
    else
      spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS " +
        columns.mkString(", "))
  }

  /** Catalog row-count statistic for `name`, if analyzed — read from
    * the table metadata (plan-level `stats.rowCount` only surfaces
    * with `spark.sql.cbo.enabled`). */
  def rowCountStat(name: String): Option[BigInt] = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
    spark.sessionState.catalog.getTableMetadata(id).stats.flatMap(_.rowCount)
  }

  def drop(name: String): Boolean = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    val f = new java.io.File(pathOf(name))
    if (f.exists) { rm(f); true } else false
  }
}
