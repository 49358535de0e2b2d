package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The within-file scan machinery of the statistical-format readers:
  * a bounded, widening driver read fits the file's own metadata, then
  * each task preads and decodes a contiguous fixed-stride row range
  * ([[Sas.readPaged]] pioneered the shape). The tall-cell layout and
  * the whole-file surfaces live in [[Cells]].
  */
private[io] object PagedScan {

  /** The session Hadoop conf flattened for task-side rebuild — a bare
    * `new Configuration()` on an executor would lose every non-default
    * filesystem property (s3a credentials, endpoints, timeouts). */
  private[io] def confMap(spark: SparkSession): Map[String, String] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  private def rebuild(m: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Open `path` TASK-side under a [[confMap]] capture, closed after
    * `f` — every executor pread of the paged scans goes through here. */
  def open[T](hconf: Map[String, String], path: String)
             (f: org.apache.hadoop.fs.FSDataInputStream => T): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(rebuild(hconf)).open(p)
    try f(in) finally in.close()
  }

  /** Read a HEAD of the file, widening geometrically until `parse`
    * accepts it — metadata is front-loaded in every supported format,
    * so this stays a bounded driver read (loud past `limit`). `align`
    * rounds head sizes down (xpt parses whole 80-byte cards only).
    * `retryable` decides whether a parse failure means "head too
    * short" (widen) or "broken file" (rethrow). */
  def driverMeta[M](spark: SparkSession, path: String,
                    initial: Int = 1 << 16, limit: Int = 1 << 26,
                    align: Int = 1,
                    retryable: Exception => Boolean = _ => true)
                   (parse: Array[Byte] => M): M = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen
    def aligned(s: Long): Int = {
      val a = math.min(math.min(s, limit.toLong), len)
      (a - a % align).toInt
    }
    val cap = aligned(Long.MaxValue) // largest head we will ever read
    require(cap > 0,
      s"$path is shorter than one $align-byte unit — not a data file")
    val in = fs.open(p)
    try {
      var size = aligned(initial.toLong)
      var out: Option[M] = None
      while (out.isEmpty) {
        val buf = new Array[Byte](size)
        in.readFully(0, buf)
        try out = Some(parse(buf))
        catch {
          case e: Exception =>
            if (size >= cap || !retryable(e))
              throw new IllegalArgumentException(
                s"metadata did not close within the first $size bytes " +
                  s"of $path (head limit $cap) — ${e.getMessage}", e)
            size = aligned(size.toLong * 8)
        }
      }
      out.get
    } finally in.close()
  }

  /** Pread a byte range on the driver — xpt's blank-pad trim. */
  def readTail(spark: SparkSession, path: String, from: Long,
               n: Int): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](n)
      in.readFully(from, buf)
      buf
    } finally in.close()
  }

  def fileLength(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
  }

  /** Largest per-task pread — keeps every buffer far under both the
    * 2 GB Array limit and executor memory; ranges split further when
    * `totalRows / partitions` rows would exceed it. */
  private val MaxRangeBytes = 128L << 20

  /** Fan contiguous row ranges across tasks; each task rebuilds the
    * session's Hadoop conf, preads its bytes and hands them to
    * `decode(buf, startRow, nRows)`. */
  def scan(spark: SparkSession, path: String, schema: StructType,
           totalRows: Long, dataAt: Long, rowLen: Long, partitions: Int)
          (decode: (Array[Byte], Long, Long) => Iterator[Row]): DataFrame = {
    require(rowLen > 0, "paged scan needs a positive row stride")
    val nParts = math.max(1, if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism)
    val byParts = math.max(1L, (totalRows + nParts - 1) / nParts)
    val perPart = math.min(byParts, math.max(1L, MaxRangeBytes / rowLen))
    val ranges = (0L until totalRows by perPart)
      .map(s => (s, math.min(perPart, totalRows - s)))
    val hconf = confMap(spark)
    val rdd = spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (start, n) =>
        val buf = new Array[Byte]((n * rowLen).toInt)
        open(hconf, path)(_.readFully(dataAt + start * rowLen, buf))
        decode(buf, start, n)
      }
    spark.createDataFrame(rdd, schema)
  }
}
