package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-coverage gate: every registered query must be verified by
  * SOMETHING — either a DuckDB oracle (`SparkEntry.oracleSql`, the
  * driver's hash-compare path) or a named ScalaTest suite listed here
  * explicitly. A new query added with neither fails this suite, so
  * nothing can silently ship as a rows-only check again (q48 shipped
  * oracle-less for three rounds before anyone noticed). */
class RegistrySpec extends AnyFunSuite {

  /** Queries deliberately NOT oracle-checked (non-SQL-expressible
    * semantics), each pinned by a spec class that must keep existing.
    * Empty today — every registered query carries an oracle; additions
    * here need the named suite to compile. */
  private val specPinned: Map[String, String] = Map.empty

  test("every registered query has a DuckDB oracle or a named spec pin") {
    val unverified = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- specPinned.keySet
    assert(unverified.isEmpty,
      s"queries with NO oracle and NO spec pin: ${unverified.toSeq.sorted}")
  }

  test("spec pins name suites that actually exist") {
    specPinned.foreach { case (q, cls) =>
      assert(
        scala.util.Try(Class.forName(cls)).isSuccess,
        s"$q claims pin by $cls, which does not resolve")
    }
  }

  test("query names are distinct, so no query drops out of the name maps") {
    val dups = SparkEntry.registry.map(_.name).groupBy(identity).collect {
      case (n, ns) if ns.size > 1 => n
    }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted}")
  }

  test("no orphan oracles or pins for unregistered queries") {
    val orphans = (SparkEntry.oracleSql.keySet ++ specPinned.keySet) --
      SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle/pin without a query: ${orphans.toSeq.sorted}")
  }
}
