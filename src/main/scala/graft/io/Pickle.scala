package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Pure-JVM pickle ingest over a `binaryFile` scan — closes the
  * `read_data` pickle descope (reference: gofast/api/property.py:2781
  * read_data's extension map; gofast/core/io.py:826 read_data).
  *
  * SUPPORTED SUBSET, refused loudly outside it: protocol 0–5 framing
  * with list / tuple / dict / scalar (None, bool, int ≤ 64-bit,
  * float, str) payloads — the shapes `pd.to_pickle`-adjacent record
  * dumps actually carry. GLOBAL / STACK_GLOBAL / REDUCE / BUILD /
  * NEWOBJ and friends are REFUSED BY DESIGN, not just descoped:
  * executing constructor opcodes is how malicious pickles run code,
  * and a data engine has no business instantiating classes from a
  * 100 TB data lake.
  *
  * Layout mirrors [[Npy]]: the scan parses per-partition (one row per
  * file, zero driver involvement), [[read]] emits tall
  * (row, key, typed value) cells, [[records]] pivots to the wide
  * record frame under a driver-inferred (key, type) schema — the
  * fitted-scalar pattern, schema from ONE bounded file read.
  *
  * Top-level value → cells:
  *  - list/tuple of dicts (records): row = index, one cell per key;
  *  - dict of equal-length scalar lists (columnar): row = position;
  *  - dict of scalars: one row 0;
  *  - list/tuple of scalars: key = "value";
  *  - bare scalar: row 0, key "value".
  * Anything deeper (nested containers inside records) refuses loudly.
  */
object Pickle {

  // ---------------------------------------------------------------
  // opcode-level parser
  // ---------------------------------------------------------------

  /** Names for the refused opcodes so the error teaches, not taunts. */
  private val RefusedNames: Map[Int, String] = Map(
    'c'.toInt -> "GLOBAL", 0x93 -> "STACK_GLOBAL", 'R'.toInt -> "REDUCE",
    'b'.toInt -> "BUILD", 0x81 -> "NEWOBJ", 0x92 -> "NEWOBJ_EX",
    'i'.toInt -> "INST", 'o'.toInt -> "OBJ", 'P'.toInt -> "PERSID",
    'Q'.toInt -> "BINPERSID", 0x8e -> "BINBYTES8", 'B'.toInt -> "BINBYTES",
    'C'.toInt -> "SHORT_BINBYTES", 0x96 -> "BYTEARRAY8",
    0x8f -> "EMPTY_SET", 0x90 -> "ADDITEMS", 0x91 -> "FROZENSET",
    0x97 -> "NEXT_BUFFER", 0x98 -> "READONLY_BUFFER",
    'L'.toInt -> "LONG (protocol-0 text int)", 'I'.toInt -> "INT (text)",
    'F'.toInt -> "FLOAT (text)", 'S'.toInt -> "STRING (text)",
    'V'.toInt -> "UNICODE (text)", 'p'.toInt -> "PUT (text)",
    'g'.toInt -> "GET (text)", 0x8b -> "LONG4")

  private object Mark // stack sentinel

  /** Parse one pickle frame. Containers come back as
    * `mutable.ArrayBuffer[Any]` (list/tuple) and
    * `mutable.LinkedHashMap[Any, Any]` (dict, insertion-ordered);
    * scalars as null / Boolean / Long / Double / String. */
  def parse(bytes: Array[Byte]): Any = {
    require(bytes.nonEmpty, "empty pickle stream")
    val in = new Bytes.Cursor(bytes, "truncated pickle stream")
    val stack = mutable.ArrayBuffer.empty[Any]
    val memo = mutable.LongMap.empty[Any]
    var nextMemo = 0L
    def pop(): Any = stack.remove(stack.length - 1)
    def popToMark(): mutable.ArrayBuffer[Any] = {
      val i = stack.lastIndexOf(Mark)
      require(i >= 0, "pickle stack underflow: no MARK")
      val items = stack.slice(i + 1, stack.length)
      stack.remove(i, stack.length - i)
      items
    }
    def setItems(items: mutable.ArrayBuffer[Any]): Unit = {
      require(items.length % 2 == 0, "odd SETITEMS run")
      val d = stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]]
      items.grouped(2).foreach(kv => d.put(kv(0), kv(1)))
    }
    var proto = 0
    var done = false
    while (!done) {
      require(in.pos < bytes.length, "pickle stream ended without STOP")
      val op = in.u1()
      op match {
        case 0x80 => proto = in.u1() // PROTO
          require(proto <= 5, s"pickle protocol $proto unknown")
        case 0x95 => in.s(8); () // FRAME — length is advisory
        case '.' => done = true // STOP
        case 'N' => stack += null // NONE
        case 0x88 => stack += java.lang.Boolean.TRUE // NEWTRUE
        case 0x89 => stack += java.lang.Boolean.FALSE // NEWFALSE
        case 'J' => stack += in.i4().toLong // BININT
        case 'K' => stack += in.u1().toLong // BININT1
        case 'M' => stack += in.u2().toLong // BININT2
        case 0x8a => // LONG1: little-endian two's complement
          val n = in.u1()
          if (n == 0) stack += 0L
          else {
            require(n <= 8, s"pickle integer wider than 64 bits " +
              s"($n bytes) — documented descope, shard such ids upstream")
            val b = in.s(n)
            var v = b(n - 1).toLong // sign-extends
            var i = n - 2
            while (i >= 0) { v = (v << 8) | (b(i).toLong & 0xff); i -= 1 }
            stack += v
          }
        case 'G' => stack += in.f8(be = true) // BINFLOAT (big-endian!)
        case 'X' => // BINUNICODE
          stack += new String(in.s(in.i4()),
            java.nio.charset.StandardCharsets.UTF_8)
        case 0x8c => // SHORT_BINUNICODE
          stack += new String(in.s(in.u1()),
            java.nio.charset.StandardCharsets.UTF_8)
        case 0x8d => // BINUNICODE8
          val n = in.i8()
          require(n <= Int.MaxValue, "unicode payload > 2 GiB")
          stack += new String(in.s(n.toInt),
            java.nio.charset.StandardCharsets.UTF_8)
        case 'U' => // SHORT_BINSTRING (py2 bytes-as-str: latin-1 view)
          stack += new String(in.s(in.u1()),
            java.nio.charset.StandardCharsets.ISO_8859_1)
        case 'T' => // BINSTRING
          stack += new String(in.s(in.i4()),
            java.nio.charset.StandardCharsets.ISO_8859_1)
        case ']' => stack += mutable.ArrayBuffer.empty[Any] // EMPTY_LIST
        case '}' => stack += mutable.LinkedHashMap.empty[Any, Any] // EMPTY_DICT
        case ')' => stack += mutable.ArrayBuffer.empty[Any] // EMPTY_TUPLE
        case '(' => stack += Mark // MARK
        case 'a' => // APPEND
          val v = pop()
          stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] += v
        case 'e' => // APPENDS
          val items = popToMark()
          stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] ++= items
        case 's' => // SETITEM
          val v = pop(); val k = pop()
          stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]].put(k, v)
        case 'u' => setItems(popToMark()) // SETITEMS
        case 'l' => stack += popToMark() // LIST
        case 't' => stack += popToMark() // TUPLE
        case 'd' => // DICT
          val items = popToMark()
          stack += mutable.LinkedHashMap.empty[Any, Any]
          setItems(items)
        case 0x85 => stack += mutable.ArrayBuffer(pop()) // TUPLE1
        case 0x86 => // TUPLE2
          val b = pop(); val a = pop(); stack += mutable.ArrayBuffer(a, b)
        case 0x87 => // TUPLE3
          val c = pop(); val b = pop(); val a = pop()
          stack += mutable.ArrayBuffer(a, b, c)
        case 'q' => memo(in.u1().toLong) = stack.last // BINPUT
        case 'r' => memo(in.u4()) = stack.last // LONG_BINPUT
        case 0x94 => memo(nextMemo) = stack.last; nextMemo += 1 // MEMOIZE
        case 'h' => stack += memo(in.u1().toLong) // BINGET
        case 'j' => stack += memo(in.u4()) // LONG_BINGET
        case other =>
          val name = RefusedNames.getOrElse(other,
            f"0x$other%02x")
          throw new IllegalArgumentException(
            s"pickle opcode $name is not supported: this reader parses " +
              "list/tuple/dict/scalar frames ONLY and never executes " +
              "constructor opcodes (GLOBAL/REDUCE/BUILD run arbitrary " +
              "code by design). Re-export the data as " +
              "json/parquet/npy, or flatten to records before pickling.")
      }
      // a stream that never announced PROTO is protocol 0/1 — refuse
      // before misreading its text opcodes as binary ones
      if (proto == 0 && !done)
        throw new IllegalArgumentException(
          "protocol-0/1 pickles are not supported (documented " +
            "descope) — re-dump with protocol >= 2")
    }
    require(stack.length == 1, s"pickle left ${stack.length} stack items")
    stack.head
  }

  // ---------------------------------------------------------------
  // value normalization: top-level → (row, key, scalar) cells
  // ---------------------------------------------------------------

  private def isScalar(v: Any): Boolean = v match {
    case null | _: java.lang.Boolean | _: java.lang.Long | _: Long |
         _: java.lang.Double | _: Double | _: String => true
    case _ => false
  }

  private def scalarCell(row: Long, key: String, v: Any): Row = v match {
    case null => Row(row, key, "null", null, null, null, null)
    case b: java.lang.Boolean => Row(row, key, "bool", null, null, null, b)
    case l: Long =>
      // double view rides along, exact to 2^53 (the Npy convention)
      Row(row, key, "int", null, l.toDouble, l, null)
    case d: Double => Row(row, key, "float", null, d, null, null)
    case s: String => Row(row, key, "str", s, null, null, null)
    case other => throw new IllegalArgumentException(
      s"non-scalar value under key '$key': ${other.getClass.getName} — " +
        "the supported subset is FLAT records (scalars only inside " +
        "rows); restructure nested payloads upstream")
  }

  private def dictCells(row: Long, d: mutable.LinkedHashMap[Any, Any]): Iterator[Row] =
    d.iterator.map { case (k, v) =>
      require(k.isInstanceOf[String],
        s"non-string dict key $k — records need string column names")
      scalarCell(row, k.asInstanceOf[String], v)
    }

  /** Normalize one parsed top-level value to cells. */
  def cells(top: Any): Iterator[Row] = top match {
    case xs: mutable.ArrayBuffer[Any @unchecked] if xs.nonEmpty &&
        xs.forall(_.isInstanceOf[mutable.LinkedHashMap[_, _]]) =>
      xs.iterator.zipWithIndex.flatMap { case (d, i) =>
        dictCells(i.toLong, d.asInstanceOf[mutable.LinkedHashMap[Any, Any]])
      }
    case d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked]
        if d.nonEmpty && d.valuesIterator.forall(_.isInstanceOf[mutable.ArrayBuffer[_]]) =>
      val lens = d.valuesIterator
        .map(_.asInstanceOf[mutable.ArrayBuffer[Any]].length).toSet
      require(lens.size == 1,
        s"columnar dict with ragged list lengths $lens — not a frame")
      d.iterator.flatMap { case (k, vs) =>
        require(k.isInstanceOf[String],
          s"non-string dict key $k — records need string column names")
        vs.asInstanceOf[mutable.ArrayBuffer[Any]].iterator.zipWithIndex
          .map { case (v, i) => scalarCell(i.toLong, k.asInstanceOf[String], v) }
      }
    case d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked] =>
      dictCells(0L, d)
    case xs: mutable.ArrayBuffer[Any @unchecked] =>
      xs.iterator.zipWithIndex.map { case (v, i) =>
        scalarCell(i.toLong, "value", v)
      }
    case v => Iterator.single(scalarCell(0L, "value", v))
  }

  private val cellSchema = StructType(Seq(
    StructField("src_file", StringType, nullable = false),
    StructField("row", LongType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("vtype", StringType, nullable = false),
    StructField("value_str", StringType, nullable = true),
    StructField("value_double", DoubleType, nullable = true),
    StructField("value_long", LongType, nullable = true),
    StructField("value_bool", BooleanType, nullable = true)))

  private def cellFrame(spark: SparkSession,
                        files: RDD[(String, Array[Byte])]): DataFrame =
    spark.createDataFrame(files.flatMap { case (file, bytes) =>
      cells(parse(bytes)).map(r => Row.fromSeq(file +: r.toSeq))
    }, cellSchema)

  /** Read .pkl file(s) (path, directory or glob) as tall cells —
    * parsed per-partition off a binaryFile scan ([[Cells.files]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    cellFrame(spark, Cells.files(spark, path))

  /** In-memory blobs through the same kernel ([[Cells.blobs]]). */
  def readBlobs(spark: SparkSession,
                blobs: Seq[(String, Array[Byte])]): DataFrame =
    cellFrame(spark, Cells.blobs(spark, blobs))

  /** Infer the (key, type) record schema from ONE parsed value —
    * key order = first-appearance order; int⊔float promotes to float,
    * null ⊔ t = t; str/bool vs numeric conflicts refuse loudly. */
  def inferKeys(top: Any): Seq[(String, String)] = {
    val order = mutable.LinkedHashMap.empty[String, String]
    def merge(a: String, b: String): String = (a, b) match {
      case (x, y) if x == y => x
      case ("null", t) => t
      case (t, "null") => t
      case ("int", "float") | ("float", "int") => "float"
      case (x, y) => throw new IllegalArgumentException(
        s"key types conflict across rows: $x vs $y — not a frame")
    }
    cells(top).foreach { r =>
      val k = r.getString(1); val t = r.getString(2)
      order(k) = order.get(k).map(merge(_, t)).getOrElse(t)
    }
    order.toSeq.map { case (k, t) => (k, if (t == "null") "str" else t) }
  }

  /** Pivot tall cells into the wide record frame under an inferred
    * (key, type) schema — one groupBy(row), `first` per key, exactly
    * one shuffle keyed on the row id. */
  def records(cellsDf: DataFrame, keys: Seq[(String, String)]): DataFrame = {
    require(keys.nonEmpty, "records needs at least one key")
    val aggs = keys.map { case (k, t) =>
      val v = t match {
        case "int" => col("value_long")
        case "float" => col("value_double")
        case "bool" => col("value_bool")
        case "str" => col("value_str")
        case other => throw new IllegalArgumentException(
          s"unknown inferred type $other for key $k")
      }
      // max over the single matching cell (non-matching rows are null
      // under the when and max skips them — `first` would grab an
      // arbitrary row's null); an explicit None cell has no non-null
      // candidate and correctly stays null
      max(when(col("key") === k, v)).as(k)
    }
    cellsDf.groupBy(col("src_file"), col("row"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The one-call wide read: schema inferred from the FIRST file
    * (bounded driver read — the fitted-scalar pattern), every file
    * then parsed distributed and pivoted. */
  def readRecords(spark: SparkSession, path: String): DataFrame =
    records(read(spark, path),
      inferKeys(parse(Cells.firstFileBytes(spark, path))))

  // ---------------------------------------------------------------
  // writer — fixtures and round-trip tests (protocol 2 subset)
  // ---------------------------------------------------------------

  /** Dump a supported-subset value as a protocol-2 pickle (BININT
    * ladder, BINUNICODE, BINFLOAT; memo-free — CPython memoizes every
    * container/string so its byte stream differs, which is why the
    * PARSER is golden-tested against CPython-written fixtures in
    * PickleSpec while this writer is only required to round-trip). */
  def dumps(v: Any): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x80); out.write(2) // PROTO 2
    def emit(x: Any): Unit = x match {
      case null => out.write('N')
      case b: Boolean => out.write(if (b) 0x88 else 0x89)
      case l: Long =>
        if (l >= 0 && l <= 0xff) { out.write('K'); out.write(l.toInt) }
        else if (l >= 0 && l <= 0xffff) {
          out.write('M'); out.write((l & 0xff).toInt)
          out.write(((l >> 8) & 0xff).toInt)
        } else if (l >= Int.MinValue && l <= Int.MaxValue) {
          out.write('J')
          var i = 0
          while (i < 4) { out.write(((l >> (8 * i)) & 0xff).toInt); i += 1 }
        } else {
          out.write(0x8a); out.write(8)
          var i = 0
          while (i < 8) { out.write(((l >> (8 * i)) & 0xff).toInt); i += 1 }
        }
      case i: Int => emit(i.toLong)
      case d: Double =>
        out.write('G')
        val bits = java.lang.Double.doubleToLongBits(d)
        var i = 7
        while (i >= 0) { out.write(((bits >> (8 * i)) & 0xff).toInt); i -= 1 }
      case s: String =>
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.write('X')
        var i = 0
        while (i < 4) { out.write((b.length >> (8 * i)) & 0xff); i += 1 }
        out.write(b)
      case xs: Seq[Any @unchecked] =>
        out.write(']')
        if (xs.nonEmpty) { out.write('('); xs.foreach(emit); out.write('e') }
      case m: scala.collection.Map[Any @unchecked, Any @unchecked] =>
        out.write('}')
        if (m.nonEmpty) {
          out.write('(')
          m.foreach { case (k, v2) => emit(k); emit(v2) }
          out.write('u')
        }
      case other => throw new IllegalArgumentException(
        s"Pickle.dumps supports the read subset only, got ${other.getClass}")
    }
    emit(v)
    out.write('.')
    out.toByteArray
  }
}
