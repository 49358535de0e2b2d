package graft

import org.apache.spark.sql.functions._
import graft.io.Pickle

/** Pickle ingest against GOLDEN fixtures written by CPython's own
  * `pickle.dumps` (src/test/resources/pickle — protocols 2/4/5), so
  * the parser is checked against the real producer. The refusal
  * cases pin the security stance: constructor opcodes NEVER execute. */
class PickleSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "src/test/resources/pickle"

  private def bytes(f: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f))

  test("records list-of-dicts (p2): wide pivot matches the closed form") {
    val wide = Pickle.readRecords(spark, s"$dir/records_p2.pkl")
      .orderBy("row")
      .select($"id", $"name", $"score", $"flag", $"note")
      .as[(Long, String, Double, Boolean, Option[String])].collect()
    assert(wide.length === 12)
    wide.zipWithIndex.foreach { case ((id, name, score, flag, note), i) =>
      assert(id === i.toLong)
      assert(name === s"r${i % 3}")
      assert(score === i * 0.25)
      assert(flag === (i % 2 == 0))
      assert(note === (if (i % 4 == 0) None else Some(s"n$i")))
    }
  }

  test("columnar dict-of-lists (p4): FRAME/SHORT_BINUNICODE/MEMOIZE") {
    val wide = Pickle.readRecords(spark, s"$dir/columnar_p4.pkl")
      .orderBy("row").select($"k", $"v", $"s")
      .as[(Long, Double, String)].collect()
    assert(wide.toSeq === Seq((1L, 1.5, "a"), (2L, -2.5, "b"), (3L, 3.25, "c")))
  }

  test("heterogeneous scalars (p5): tall cells carry per-row types") {
    val tall = Pickle.read(spark, s"$dir/scalars_p5.pkl")
      .orderBy("row")
      .select($"vtype", $"value_str", $"value_double", $"value_long", $"value_bool")
      .collect()
    assert(tall.length === 11)
    assert(tall(0).getString(0) === "null")
    assert(tall(1).getBoolean(4) === true && tall(2).getBoolean(4) === false)
    assert(tall(3).getLong(3) === 42L && tall(4).getLong(3) === -7L)
    assert(tall(5).getLong(3) === 70000L)
    assert(tall(6).getLong(3) === (1L << 40) && tall(7).getLong(3) === -(1L << 40))
    assert(tall(8).getDouble(2) === 3.5)
    assert(tall(9).getString(1) === "x")
    // 2^53+1: value_long exact, the double view rounds — both present
    assert(tall(10).getLong(3) === 9007199254740993L)
    assert(tall(10).getDouble(2) === 9007199254740992.0)
  }

  test("memo reuse (BINGET) and top-level tuple of dicts both parse") {
    val memo = Pickle.readRecords(spark, s"$dir/memo_p2.pkl")
      .orderBy("row").select($"a").as[String].collect()
    assert(memo.toSeq === Seq("shared", "shared"))
    val tup = Pickle.readRecords(spark, s"$dir/tuple_p2.pkl")
      .orderBy("row").select($"a").as[Long].collect()
    assert(tup.toSeq === Seq(1L, 2L))
  }

  test("constructor opcodes, sets, >64-bit ints, protocol 0 refuse loudly") {
    val global = intercept[IllegalArgumentException] {
      Pickle.parse(bytes("refuse_global.pkl"))
    }
    assert(global.getMessage.contains("GLOBAL") ||
      global.getMessage.contains("STACK_GLOBAL"))
    assert(global.getMessage.contains("never executes"))
    val set = intercept[IllegalArgumentException] {
      Pickle.parse(bytes("refuse_set.pkl"))
    }
    assert(set.getMessage.contains("EMPTY_SET") ||
      set.getMessage.contains("FROZENSET"))
    val big = intercept[IllegalArgumentException] {
      Pickle.parse(bytes("refuse_bigint.pkl"))
    }
    assert(big.getMessage.contains("wider than 64 bits"))
    val p0 = intercept[IllegalArgumentException] {
      Pickle.parse(bytes("refuse_p0.pkl"))
    }
    assert(p0.getMessage.contains("protocol-0/1"))
  }

  test("writer round-trips through the parser and the blob reader") {
    val v = Seq(
      Map("a" -> 1L, "b" -> "x", "c" -> 0.5, "d" -> true, "e" -> null),
      Map("a" -> -300000L, "b" -> "y", "c" -> -1.25, "d" -> false,
        "e" -> "there"))
    val blob = Pickle.dumps(v)
    val wide = Pickle.records(
        Pickle.readBlobs(spark, Seq(("t.pkl", blob))),
        Pickle.inferKeys(Pickle.parse(blob)))
      .orderBy("row")
      .select($"a", $"b", $"c", $"d", $"e")
      .as[(Long, String, Double, Boolean, Option[String])].collect()
    assert(wide.toSeq === Seq((1L, "x", 0.5, true, None),
      (-300000L, "y", -1.25, false, Some("there"))))
  }

  test("inferKeys: null|str merges, int|float promotes, str|int refuses") {
    val promo = Pickle.dumps(Seq(Map("a" -> 1L), Map("a" -> 2.5)))
    assert(Pickle.inferKeys(Pickle.parse(promo)) === Seq(("a", "float")))
    val nul = Pickle.dumps(Seq(Map("a" -> null), Map("a" -> "s")))
    assert(Pickle.inferKeys(Pickle.parse(nul)) === Seq(("a", "str")))
    val bad = Pickle.dumps(Seq(Map("a" -> "s"), Map("a" -> 1L)))
    intercept[IllegalArgumentException] {
      Pickle.inferKeys(Pickle.parse(bad))
    }
  }

  test("nested containers inside records refuse; IO.readData dispatches") {
    intercept[IllegalArgumentException] {
      Pickle.cells(Pickle.parse(
        Pickle.dumps(Seq(Map("a" -> Seq(1L, 2L)))))).toVector
    }
    assert(graft.io.IO.readData(spark, s"$dir/records_p2.pkl").count() === 12L)
  }
}
