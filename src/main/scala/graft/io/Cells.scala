package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The tall-cell layout the statistical-format readers emit, and the
  * Spark plumbing around a format's decoder — each declared once: the
  * whole-file `binaryFile` read, the in-memory blob read, the wide
  * `records` pivot, the first-file schema bootstrap and the per-file
  * union of within-file scans. [[TallCells]] and [[TypedCells]] build a
  * format's reader surface from these. */
object Cells {

  /** The (src_file, row, key, vtype, value_str, value_double) cell
    * layout. */
  val schema: StructType = StructType(Seq(
    StructField("src_file", StringType, nullable = false),
    StructField("row", LongType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("vtype", StringType, nullable = false),
    StructField("value_str", StringType, nullable = true),
    StructField("value_double", DoubleType, nullable = true)))

  /** One cell: a numeric value rides `value_double` under vtype "num",
    * anything else `value_str` under "str". */
  def cell(file: String, row: Long, key: String, isNum: Boolean,
           v: Any): Row =
    if (isNum) Row(file, row, key, "num", null, v)
    else Row(file, row, key, "str", v, null)

  /** One decoded row as cells under a (name, isNum) column list. */
  def row(file: String, rowId: Long, cols: Seq[(String, Boolean)],
          vals: Seq[Any]): Iterator[Row] =
    cols.iterator.zip(vals.iterator).map { case ((k, isNum), v) =>
      cell(file, rowId, k, isNum, v)
    }

  /** Consecutive decoded rows as cells, row ids counted from
    * `firstRow`. */
  def cells(file: String, cols: Seq[(String, Boolean)],
            rows: Iterator[Seq[Any]], firstRow: Long = 0L): Iterator[Row] =
    rows.zipWithIndex.flatMap { case (vals, r) =>
      row(file, firstRow + r, cols, vals)
    }

  /** Pivot tall cells into the wide record frame under a (name, isNum)
    * column list — one groupBy(row) shuffle, max over the single
    * matching cell (non-matching cells are null under the `when` and
    * `max` skips them; a missing value stays null). */
  def records(cellsDf: DataFrame, cols: Seq[(String, Boolean)]): DataFrame = {
    require(cols.nonEmpty, "records needs at least one column")
    val aggs = cols.map { case (k, isNum) =>
      val v = if (isNum) col("value_double") else col("value_str")
      max(when(col("key") === k, v)).as(k)
    }
    cellsDf.groupBy(col("src_file"), col("row"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Every file of a path, directory or glob as (path, bytes) — one
    * `binaryFile` row per file, parsed per partition by the caller. */
  def files(spark: SparkSession, path: String): RDD[(String, Array[Byte])] =
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).rdd
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))

  /** In-memory (name, bytes) blobs through the same per-file kernels —
    * entries and tests synthesize fixtures without filesystem paths. */
  def blobs(spark: SparkSession,
            blobs: Seq[(String, Array[Byte])]): RDD[(String, Array[Byte])] = {
    require(blobs.nonEmpty, "a blob read needs at least one blob")
    spark.sparkContext.parallelize(blobs, math.min(blobs.size, 32))
  }

  /** First file of a path/glob by NAME, its bytes read once — the
    * schema bootstrap of the one-call wide and typed reads
    * (binaryFile prunes `content` when unselected, so choosing by path
    * costs no data reads). */
  def firstFileBytes(spark: SparkSession, path: String): Array[Byte] = {
    val firstPath = spark.read.format("binaryFile").load(path)
      .select("path").orderBy("path").limit(1).head().getString(0)
    spark.read.format("binaryFile").load(firstPath)
      .select("content").head().getAs[Array[Byte]](0)
  }

  /** Union one within-file scan per matched file of a path, glob or
    * directory — both axes of parallelism at once (across files AND
    * across each file's pages/rows/batches). */
  def unionPerFile(spark: SparkSession, path: String)
                  (perFile: String => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(_.isFile).map(_.getPath)
      else Seq(st.getPath)
    }.map(_.toString).sorted
    require(files.nonEmpty, s"no files match $path")
    files.map(perFile).reduce(_.unionByName(_))
  }

  /** The typed surfaces prepend (src_file, row) to the file's own
    * variables — a user variable with either name would collide
    * silently (duplicate columns, or an ambiguous-column error three
    * operators later). Refuse loudly at the read. */
  def requireNoReservedNames(names: Seq[String], reader: String): Unit = {
    val hit = names.filter(n => n == "src_file" || n == "row")
    require(hit.isEmpty,
      s"$reader: column name(s) ${hit.mkString(", ")} collide with the " +
        "typed surface's reserved (src_file, row) columns — rename them " +
        "at the producer")
  }

  /** (src_file, row) followed by a typed read's own columns. */
  def typedSchema(fields: Seq[StructField]): StructType = StructType(
    StructField("src_file", StringType, nullable = false) +:
      StructField("row", LongType, nullable = false) +: fields)
}

/** A statistical format's tall-cell reader surface. The format supplies
  * one file's metadata, its (name, isNum) columns and decoded rows, and
  * its own within-file paged scan; every other surface is built here.
  * Serializable because the per-file kernels run inside tasks. */
trait TallCells extends Serializable {
  type Meta

  def parseMeta(bytes: Array[Byte]): Meta

  def columns(meta: Meta): Seq[(String, Boolean)]

  /** Every row of one file in file order: Double (numeric columns) or
    * String cells, null for missing values. */
  def rows(bytes: Array[Byte], meta: Meta): Iterator[Seq[Any]]

  /** Within-file parallel scan of ONE file: a bounded driver read of
    * the metadata, then each task preads and decodes its own slice.
    * Row ids are dense 0..N−1 in file order, identical to [[read]]'s. */
  def readPaged(spark: SparkSession, path: String,
                partitions: Int = 0): DataFrame

  /** Read file(s) (path, directory or glob) as tall cells, parsed per
    * partition off a `binaryFile` scan. */
  def read(spark: SparkSession, path: String): DataFrame =
    cellFrame(spark, Cells.files(spark, path))

  def readBlobs(spark: SparkSession,
                blobs: Seq[(String, Array[Byte])]): DataFrame =
    cellFrame(spark, Cells.blobs(spark, blobs))

  def records(cellsDf: DataFrame, cols: Seq[(String, Boolean)]): DataFrame =
    Cells.records(cellsDf, cols)

  /** The one-call wide read: columns from the FIRST file's own metadata
    * (a bounded driver read of one file), every file then parsed
    * distributed and pivoted. */
  def readRecords(spark: SparkSession, path: String): DataFrame =
    records(read(spark, path),
      columns(parseMeta(Cells.firstFileBytes(spark, path))))

  /** [[readPaged]] over a directory/glob of large files. */
  def readPagedAll(spark: SparkSession, path: String,
                   partitions: Int = 0): DataFrame =
    Cells.unionPerFile(spark, path)(readPaged(spark, _, partitions))

  private def cellFrame(spark: SparkSession,
                        files: RDD[(String, Array[Byte])]): DataFrame =
    spark.createDataFrame(files.flatMap { case (file, bytes) =>
      val meta = parseMeta(bytes)
      Cells.cells(file, columns(meta), rows(bytes, meta))
    }, Cells.schema)
}

/** The typed surface of a format whose columns the tall-cell layout
  * cannot hold (binary blobs, vectors): one row per record, (src_file,
  * row) then the file's own columns. The format supplies the per-file
  * kernel under the FIRST file's schema and its within-file scan. */
trait TypedCells extends Serializable {

  protected def typedFrom(spark: SparkSession, first: Array[Byte],
                          files: RDD[(String, Array[Byte])]): DataFrame

  def readTypedPaged(spark: SparkSession, path: String,
                     partitions: Int = 0): DataFrame

  def readTyped(spark: SparkSession, path: String): DataFrame =
    typedFrom(spark, Cells.firstFileBytes(spark, path),
      Cells.files(spark, path))

  def readTypedBlobs(spark: SparkSession,
                     blobs: Seq[(String, Array[Byte])]): DataFrame = {
    val files = Cells.blobs(spark, blobs) // refuses an empty Seq first
    typedFrom(spark, blobs.head._2, files)
  }

  def readTypedPagedAll(spark: SparkSession, path: String,
                        partitions: Int = 0): DataFrame =
    Cells.unionPerFile(spark, path)(readTypedPaged(spark, _, partitions))
}
