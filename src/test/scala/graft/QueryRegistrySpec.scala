package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Oracle, Query, Registry}

/** The query registry's shape, checked without Spark or data: one entry per
  * gate query, each carrying its oracle, with no name declared twice.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = Registry.all.map(_.name)

  test("349 uniquely named queries, each name in a known family") {
    assert(names.size === 349)
    assert(names.distinct.size === names.size)
    val pattern = "^(g|q|e|p|f|t|d|s|st|m)[0-9]+_[a-z0-9_]+$".r
    val bad = names.filterNot(n => pattern.matches(n))
    assert(bad.isEmpty, s"names outside the family pattern: $bad")
  }

  test("the SparkEntry views cover exactly the registry") {
    assert(SparkEntry.queries.keySet === names.toSet)
    val derived = Registry.all.collect { case Query(n, _, Oracle.Derived(_)) => n }.toSet
    val static = SparkEntry.oracleSql.keySet
    assert(static.intersect(derived).isEmpty)
    assert(static ++ derived === names.toSet)
  }

  test("building a registry with a duplicate name throws") {
    val q = Registry.all.head
    val e = intercept[IllegalArgumentException](Registry.build(Seq(q, Registry.all(1), q)))
    assert(e.getMessage.contains(q.name))
  }

  test("a query without an oracle does not compile") {
    assertCompiles("""Query("g0_sql", (s, dir) => s.emptyDataFrame, Oracle.Sql("SELECT 1"))""")
    assertDoesNotCompile("""Query("g0_none", (s, dir) => s.emptyDataFrame)""")
  }

  test("VALUES oracles: typed empty select, quoted strings, NULL options") {
    val cols = Seq("vertex" -> "BIGINT", "lang" -> "VARCHAR", "slope" -> "BIGINT")
    assert(Oracle.values(cols: _*)(Nil, "vertex") ===
      "SELECT CAST(NULL AS BIGINT) AS vertex, CAST(NULL AS VARCHAR) AS lang, " +
        "CAST(NULL AS BIGINT) AS slope WHERE 1 = 0")
    assert(Oracle.values(cols: _*)(Seq((1L, "it's", Some(3L)), (2L, "en", None)), "vertex") ===
      "SELECT CAST(c0 AS BIGINT) AS vertex, CAST(c1 AS VARCHAR) AS lang, " +
        "CAST(c2 AS BIGINT) AS slope FROM (VALUES (1, 'it''s', 3), (2, 'en', NULL)) " +
        "AS t(c0, c1, c2) ORDER BY vertex")
    assert(Oracle.values("vertex" -> "BIGINT")(Seq(7L, 9L)) ===
      "SELECT CAST(c0 AS BIGINT) AS vertex FROM (VALUES (7), (9)) AS t(c0)")
  }
}
