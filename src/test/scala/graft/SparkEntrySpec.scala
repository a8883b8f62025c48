package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared query inventory: `SparkEntry.queries` and `oracleSql`
  * are maps built from `allSpecs` by name, so a duplicated name would
  * silently drop a row from both.
  */
class SparkEntrySpec extends AnyFunSuite {
  test("query names are unique") {
    val dups = SparkEntry.allSpecs.groupBy(_.name)
      .collect { case (name, specs) if specs.size > 1 => name }
    assert(dups.isEmpty, s"duplicated query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === SparkEntry.allSpecs.size)
  }
}
