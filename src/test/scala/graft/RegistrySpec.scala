package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's shape, checked without running a query. */
class RegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keySet
  private val oracle = SparkEntry.oracleSql.keySet

  test("the registry holds exactly 338 query names") {
    assert(names.size === 338)
  }

  test("no name is defined in two registry files") {
    assert(SparkEntry.files.map(_.queries.size).sum === names.size)
    assert(SparkEntry.files.map(_.oracleSql.size).sum === oracle.size)
    val e = intercept[IllegalArgumentException](
      SparkEntry.merged(Seq(Map("a" -> 1, "b" -> 2), Map("b" -> 3))))
    assert(e.getMessage.contains("defined twice: b"))
  }

  test("every oracle SQL belongs to a registered query") {
    assert((oracle -- names).isEmpty, s"orphan oracle SQL: ${oracle -- names}")
  }

  test("rows-only queries are the ones without oracle SQL") {
    val rowsOnly = names -- oracle
    assert(rowsOnly.size === 338 - SparkEntry.oracleSql.size)
  }

  test("Verify.selected rejects SPARK_GRAFT_ONLY names outside the registry") {
    val typo = intercept[IllegalArgumentException](
      Verify.selected(Some("smart_group,smart_grop")))
    assert(typo.getMessage.contains("'smart_grop'"))
    assert(!typo.getMessage.contains("'smart_group'"))
    val empty = intercept[IllegalArgumentException](Verify.selected(Some("")))
    assert(empty.getMessage.contains("''"))
    assert(Verify.selected(Some(" ks_test,smart_group ")).sorted ===
      Seq("ks_test", "smart_group"))
    assert(Verify.selected(None).toSet === names)
  }
}
