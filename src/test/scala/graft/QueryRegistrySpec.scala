package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry]] folds one list of operator families into the query,
  * local-query and oracle maps. A map union would let a later family's
  * entry silently replace an earlier one's under the same name; these
  * checks make every name own exactly one query. */
class QueryRegistrySpec extends AnyFunSuite {

  test("every query name is unique across families, queries and localQueries") {
    val names = SparkEntry.families.flatMap(f =>
      (f.queries.keys ++ f.localQueries.keys).map(_ -> f.getClass.getSimpleName))
    val dups = names.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, dups.mkString("\n"))
    assert(SparkEntry.queries.size + SparkEntry.localQueries.size == names.size)
  }

  test("every oracle names a query, and no two families share an oracle key") {
    val keys = SparkEntry.families.flatMap(_.oracles.keys)
    assert(keys.size == keys.distinct.size,
      keys.diff(keys.distinct).mkString(", "))
    val orphans = keys.filterNot(SparkEntry.queries.contains)
    assert(orphans.isEmpty, orphans.mkString(", "))
  }

  test("every query and local query has a gate: a SQL oracle or a Python one") {
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get("tools/oracle_check.py"))
    val dict = src.substring(src.indexOf("PY_ORACLES = {"))
    val py = "\"(\\w+)\":".r.findAllMatchIn(dict.substring(0, dict.indexOf('}')))
      .map(_.group(1)).toSet
    assert(py.size >= 9, s"read only ${py.size} Python oracles")
    val ungated = (SparkEntry.queries.keys ++ SparkEntry.localQueries.keys)
      .filterNot(n => SparkEntry.oracleSql.contains(n) || py(n))
    assert(ungated.isEmpty, ungated.mkString(", "))
  }
}
