package graft.io

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** NumPy `.npy` / `.npz` ingest — closes the `read_data` numpy-format
  * descope (reference: `np.load` branch of the loader family,
  * gofast/api/property.py:2781-2796) with a pure-JVM parser of the
  * PUBLIC npy format spec (magic `\x93NUMPY`, version byte pair,
  * little-endian header length, a Python-literal header dict with
  * `descr` / `fortran_order` / `shape`, then raw buffer bytes).
  *
  * Scale shape: the scan is `spark.read.format("binaryFile")` — one
  * input row per FILE, parsed per-partition with zero driver
  * involvement, so a sharded-npy directory layout (the way numpy
  * corpora are actually stored — one bounded .npy per shard)
  * parallelizes across executors; a single file is bounded by the
  * binaryFile 2 GB row limit and is refused loudly above
  * `maxElements`. Output is COO — (src_file, array_name, coords,
  * value, value_long, dtype) — flat, splittable, SQL-friendly at any
  * rank; [[readNpyMatrix]] regroups rank ≤ 2 into per-row vectors
  * (the embeddings shape).
  *
  * Supported descrs: little-endian/byte-order-free f8 f4 i8 i4 i2 i1
  * u1 u2 u4 b1. Big-endian and structured/string dtypes are refused
  * loudly (documented descope — no silent misreads). Integer values
  * ride BOTH `value` (double — exact to 2^53) and `value_long`
  * (exact); floats leave `value_long` null.
  */
object Npy {

  final case class NpyHeader(descr: String, fortran: Boolean,
                             shape: Seq[Long], dataOffset: Int)

  private val Magic: Array[Byte] =
    Array(0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  /** Parse the npy header; throws on bad magic / unsupported dtype. */
  def parseHeader(bytes: Array[Byte]): NpyHeader = {
    require(bytes.length >= 10 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not an npy file (bad magic)")
    val major = bytes(6) & 0xff
    val (headerLen, headerStart) =
      if (major == 1)
        (((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)), 10)
      else {
        require(bytes.length >= 12, "truncated npy v2+ header")
        (((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8) |
          ((bytes(10) & 0xff) << 16) | ((bytes(11) & 0xff) << 24)), 12)
      }
    val header = new String(bytes, headerStart, headerLen,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val descr = "'descr'\\s*:\\s*'([^']+)'".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"npy header without descr: $header"))
    require(!descr.startsWith(">"),
      s"big-endian npy dtype $descr is not supported (documented descope)")
    val fortran = "'fortran_order'\\s*:\\s*(True|False)".r
      .findFirstMatchIn(header).exists(_.group(1) == "True")
    val shape = "'shape'\\s*:\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        .map(_.toLong))
      .getOrElse(throw new IllegalArgumentException(
        s"npy header without shape: $header"))
    NpyHeader(descr, fortran, shape, headerStart + headerLen)
  }

  private def elemSize(descr: String): Int = descr.dropWhile(c =>
      c == '<' || c == '|' || c == '=') match {
    case "f8" | "i8" | "u8" => 8
    case "f4" | "i4" | "u4" => 4
    case "f2" | "i2" | "u2" => 2
    case "i1" | "u1" | "b1" => 1
    case other => throw new IllegalArgumentException(
      s"unsupported npy dtype $other (supported: f8 f4 i8 i4 i2 i1 u1 u2 u4 b1)")
  }

  /** Decode one element at index k of the raw buffer:
    * (double value, long value or null-for-floats). */
  private def readElem(buf: ByteBuffer, descr: String, k: Int)
      : (Double, java.lang.Long) = {
    val t = descr.dropWhile(c => c == '<' || c == '|' || c == '=')
    t match {
      case "f8" => (buf.getDouble(k * 8), null)
      case "f4" => (buf.getFloat(k * 4).toDouble, null)
      case "f2" => throw new IllegalArgumentException(
        "f2 (half) npy dtype is not supported (documented descope)")
      case "i8" => val v = buf.getLong(k * 8); (v.toDouble, Long.box(v))
      case "i4" => val v = buf.getInt(k * 4).toLong; (v.toDouble, Long.box(v))
      case "i2" => val v = buf.getShort(k * 2).toLong; (v.toDouble, Long.box(v))
      case "i1" => val v = buf.get(k).toLong; (v.toDouble, Long.box(v))
      case "u1" | "b1" =>
        val v = (buf.get(k) & 0xff).toLong; (v.toDouble, Long.box(v))
      case "u2" =>
        val v = (buf.getShort(k * 2) & 0xffff).toLong; (v.toDouble, Long.box(v))
      case "u4" =>
        val v = (buf.getInt(k * 4) & 0xffffffffL); (v.toDouble, Long.box(v))
      case "u8" => throw new IllegalArgumentException(
        "u8 npy dtype is not supported (no lossless JVM target)")
      case other => throw new IllegalArgumentException(
        s"unsupported npy dtype $other")
    }
  }

  /** File-order index k → logical coords under the header's layout
    * (C row-major or Fortran column-major). */
  private def coordsOf(k: Long, shape: Seq[Long], fortran: Boolean)
      : Seq[Long] = {
    if (shape.isEmpty) return Seq.empty
    val out = new Array[Long](shape.size)
    var rem = k
    if (fortran) {
      var i = 0
      while (i < shape.size) {
        out(i) = rem % shape(i); rem /= shape(i); i += 1
      }
    } else {
      var i = shape.size - 1
      while (i >= 0) {
        out(i) = rem % shape(i); rem /= shape(i); i -= 1
      }
    }
    out.toSeq
  }

  /** All (coords, value, value_long) triples of one npy byte blob. */
  private[io] def elements(bytes: Array[Byte], maxElements: Long)
      : (NpyHeader, Iterator[(Seq[Long], Double, java.lang.Long)]) = {
    val h = parseHeader(bytes)
    val nElems = if (h.shape.isEmpty) 1L else h.shape.product // () = scalar
    require(nElems <= maxElements,
      s"npy array has $nElems elements > maxElements=$maxElements — " +
        "shard the array across files (the sharded-npy layout)")
    val sz = elemSize(h.descr)
    require(bytes.length.toLong >= h.dataOffset + nElems * sz,
      s"npy data truncated: need ${nElems * sz} bytes, have " +
        s"${bytes.length - h.dataOffset}")
    val buf = ByteBuffer.wrap(bytes, h.dataOffset,
      (nElems * sz).toInt).slice().order(ByteOrder.LITTLE_ENDIAN)
    val it = (0L until nElems).iterator.map { k =>
      val (d, l) = readElem(buf, h.descr, k.toInt)
      (coordsOf(k, h.shape, h.fortran), d, l)
    }
    (h, it)
  }

  val cooSchema: StructType = StructType(Seq(
    StructField("src_file", StringType, nullable = false),
    StructField("array_name", StringType, nullable = false),
    StructField("coords", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("value_long", LongType, nullable = true),
    StructField("dtype", StringType, nullable = false)))

  private def cooFrame(spark: SparkSession,
                       files: org.apache.spark.rdd.RDD[(String, Array[Byte])],
                       maxElements: Long): DataFrame =
    spark.createDataFrame(files.flatMap { case (name, bytes) =>
      val (h, it) = elements(bytes, maxElements)
      it.map { case (c, d, l) => Row(name, "", c, d, l, h.descr) }
    }, cooSchema)

  /** Read .npy file(s) (a path, directory or glob) as COO rows. */
  def read(spark: SparkSession, path: String,
           maxElements: Long = 1L << 28): DataFrame =
    cooFrame(spark, Cells.files(spark, path), maxElements)

  /** Parse in-memory npy blobs (name, bytes) as COO rows — the same
    * `elements` kernel as [[read]] without the filesystem: entries
    * and tests synthesize their fixtures with [[npyBytes]] instead of
    * depending on an absolute path that breaks under relocation. */
  def readBlobs(spark: SparkSession, blobs: Seq[(String, Array[Byte])],
                maxElements: Long = 1L << 28): DataFrame =
    cooFrame(spark, Cells.blobs(spark, blobs), maxElements)

  /** Synthesize a spec-conformant npy v1 blob — the writer side of the
    * format (magic, 64-byte-aligned Python-literal header, raw
    * little-endian C-order buffer). '<f8' and '<f4' cover the
    * embedding-corpus layouts; ints ride exactly in f8 to 2^53. */
  def npyBytes(descr: String, shape: Seq[Long],
               values: Array[Double]): Array[Byte] = {
    val n = if (shape.isEmpty) 1L else shape.product
    require(values.length.toLong == n,
      s"values ${values.length} != shape product $n")
    val shapeStr =
      if (shape.isEmpty) "()"
      else if (shape.size == 1) s"(${shape.head},)"
      else shape.mkString("(", ", ", ")")
    val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shapeStr, }"
    val pad = (64 - (10 + dict.length + 1) % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val sz = descr match {
      case "<f8" => 8
      case "<f4" => 4
      case o => throw new IllegalArgumentException(
        s"npyBytes writes <f8 or <f4, got $o")
    }
    val buf = ByteBuffer.allocate(10 + header.length + (n * sz).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic).put(1.toByte).put(0.toByte)
    buf.putShort(header.length.toShort)
    buf.put(header.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    if (sz == 8) values.foreach(buf.putDouble)
    else values.foreach(v => buf.putFloat(v.toFloat))
    buf.array()
  }

  /** Export an (id, vector) DataFrame as SHARDED rank-2 '<f8' .npy
    * files under `dir` — the layout numpy embedding corpora actually
    * use (one bounded matrix per shard; [[read]]'s binaryFile scan
    * parallelizes over the files). Column 0 of every matrix row is the
    * id, columns 1..d the vector, so shards are SELF-DESCRIBING — no
    * sidecar index to drift out of sync. Shard s holds ids in
    * [s·rowsPerShard, (s+1)·rowsPerShard) sorted ascending:
    * deterministic bytes for deterministic input. Each shard is
    * grouped with collect_list (bounded by rowsPerShard·(d+1) doubles)
    * and written by the TASK holding it — zero driver involvement;
    * `dir` must be a shared filesystem on a real cluster. */
  def writeNpyShards(df: DataFrame, idCol: String, vecCol: String,
                     dir: String, rowsPerShard: Int = 4096): Unit = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    new java.io.File(dir).mkdirs()
    df.select(col(idCol).cast("long").as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_id").isNotNull && col("_v").isNotNull)
      .withColumn("_shard", floor(col("_id") / rowsPerShard).cast("long"))
      .groupBy("_shard")
      .agg(array_sort(collect_list(struct(col("_id"), col("_v"))))
        .as("_rows"))
      .foreach { r =>
        val s = r.getLong(0)
        val rows = r.getSeq[Row](1)
        val d = rows.head.getSeq[Double](1).length
        require(rows.forall(_.getSeq[Double](1).length == d),
          s"shard $s mixes vector widths — writeNpyShards needs a " +
            "rectangular corpus")
        val flat = new Array[Double](rows.length * (d + 1))
        var i = 0
        rows.foreach { row =>
          flat(i * (d + 1)) = row.getLong(0).toDouble
          val v = row.getSeq[Double](1)
          var j = 0
          while (j < d) { flat(i * (d + 1) + 1 + j) = v(j); j += 1 }
          i += 1
        }
        val bytes = npyBytes("<f8", Seq(rows.length.toLong, (d + 1).toLong), flat)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"shard-$s%05d.npy"), bytes)
        ()
      }
  }

  /** Read .npz archive(s): each zip entry is an npy, `array_name` =
    * the entry name without its .npy suffix. Deflate and stored
    * entries both stream through the JDK inflater per partition. */
  def readNpz(spark: SparkSession, path: String,
              maxElements: Long = 1L << 28): DataFrame = {
    val rdd = Cells.files(spark, path).flatMap { case (file, archive) =>
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(archive))
      // entry bytes must be drained before the next getNextEntry, so
      // materialize the (bounded-by-file-size) entry list first, then
      // stream elements lazily
      val entries = Iterator.continually(zin.getNextEntry)
        .takeWhile(_ != null)
        .map(e => (e.getName.stripSuffix(".npy"), zin.readAllBytes()))
        .toVector
      entries.iterator.flatMap { case (name, bytes) =>
        val (h, it) = elements(bytes, maxElements)
        it.map { case (c, d, l) =>
          Row(file, name, c, d, l, h.descr)
        }
      }
    }
    spark.createDataFrame(rdd, cooSchema)
  }

  /** Rank ≤ 2 npy file(s) as per-row vectors — the embeddings shape:
    * (src_file, array_name, row, values array<double>). Rank-1 arrays
    * become one row 0 carrying the whole vector; `maxCols` bounds the
    * per-row width loudly (a row must fit in memory — shard wider
    * matrices). Fortran order is handled by the coords mapping. */
  def readNpyMatrix(spark: SparkSession, path: String,
                    maxCols: Long = 1L << 22,
                    maxElements: Long = 1L << 28): DataFrame = {
    val coo = read(spark, path, maxElements)
    val rank = size(col("coords"))
    val rowIdx = when(rank >= 2, element_at(col("coords"), 1))
      .otherwise(lit(0L))
    // rank-0 (shape ()) files have EMPTY coords: under ANSI mode an
    // unconditional element_at(coords, 1) throws INVALID_ARRAY_INDEX
    // before any fallback — each access must sit behind a rank guard.
    val colIdx = when(rank >= 2, element_at(col("coords"), 2))
      .when(rank === 1, element_at(col("coords"), 1))
      .otherwise(lit(0L))
    coo.select(col("src_file"), col("array_name"), rank.as("_rank"),
        rowIdx.as("row"), colIdx.as("_col"), col("value"))
      // guards ride a FILTER (a pruned-away aggregate column would
      // silence raise_error): rank and width are refused loudly
      .filter(
        when(col("_rank") > lit(2), raise_error(lit(
          "readNpyMatrix needs rank <= 2; use Npy.read (COO) for tensors"))
          .cast("boolean"))
        .when(col("_col") >= lit(maxCols), raise_error(concat(lit(
          s"npy row wider than maxCols=$maxCols at col "), col("_col")))
          .cast("boolean"))
        .otherwise(lit(true)))
      .groupBy("src_file", "array_name", "row")
      .agg(array_sort(collect_list(struct(col("_col"), col("value"))))
        .as("_pairs"))
      .select(col("src_file"), col("array_name"), col("row"),
        transform(col("_pairs"), p => p.getField("value")).as("values"))
  }
}
