package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry is one list of [[Gate]] values; `queries` and
  * `oracleSql` are maps derived from it. These checks keep the derived
  * views honest: a duplicate name would vanish silently in `toMap`, and
  * the registry is add-only against the committed bench record. */
class GateRegistrySpec extends AnyFunSuite {

  test("gate names are unique") {
    val dups = SparkEntry.gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: ${dups.mkString(", ")}")
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every gate in the committed bench_full.json is still registered") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_full.json")), "UTF-8")
    val qs = txt.substring(txt.indexOf("\"queries\":{") + 10)
    val benched = "\"([^\"]+)\":".r.findAllMatchIn(qs.substring(0, qs.indexOf("}") + 1))
      .map(_.group(1)).toSet
    assert(benched.nonEmpty)
    assert(benched -- SparkEntry.queries.keySet == Set.empty)
  }

  test("each alias runs its target's body and oracle") {
    assert(SparkEntry.aliases.nonEmpty)
    for ((alias, target) <- SparkEntry.aliases) {
      assert(SparkEntry.queries(alias) eq SparkEntry.queries(target), alias)
      assert(SparkEntry.oracleSql(alias) == SparkEntry.oracleSql(target), alias)
    }
  }
}
