package graft

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {
  private val modules = SparkEntry.modules

  test("module key counts sum to 332 with no name registered twice") {
    val perModule = modules.map(_.queries.size).sum
    assert(perModule == 332)
    assert(SparkEntry.queries.size == perModule,
      modules.flatMap(_.queries.keys).groupBy(identity).collect { case (k, v) if v.size > 1 => k })
    assert(SparkEntry.oracleSql.size == modules.map(_.oracle.size).sum)
  }

  test("every oracle key is a registered query") {
    assert(SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet == Set.empty)
  }

  test("the queries without an oracle are exactly check.py's rows-only companions") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/check.py")), "UTF-8")
    val block = """(?s)ROWS_ONLY_COMPANIONS = \{(.*?)\n\}""".r
      .findFirstMatchIn(src).map(_.group(1)).getOrElse(fail("no ROWS_ONLY_COMPANIONS in check.py"))
    val declared = """(?m)^\s*"(\w+)":""".r.findAllMatchIn(block).map(_.group(1)).toSet
    assert(declared.size == 12)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == declared)
  }
}
