package graft

import org.scalatest.funsuite.AnyFunSuite

/** The catalog is the union of `SparkEntry.packs`; a name clash between
  * two packs would silently keep only one of the builders. */
class RegistrySpec extends AnyFunSuite {

  private def clashes(names: Seq[String]): Seq[String] =
    names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      .toSeq.sorted

  test("no query or oracle name is defined by two packs") {
    assert(clashes(SparkEntry.packs.flatMap(_.queries.keys)).isEmpty)
    assert(clashes(SparkEntry.packs.flatMap(_.oracles.keys)).isEmpty)
  }

  test("every oracle names a query") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("the catalog holds 238 queries") {
    assert(SparkEntry.queries.size == 238)
  }
}
