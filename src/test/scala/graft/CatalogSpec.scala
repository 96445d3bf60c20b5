package graft

/** Catalog integrity: SparkEntry.queries is a Map, so a duplicated
  * query name would SILENTLY drop one implementation (and the driver
  * would never notice the missing row). Guard the invariant here. */
class CatalogSpec extends SparkSpec {

  test("no query-name collisions; every query has a well-formed name") {
    val names = (queries.Relational.qs ++ queries.Windows.qs ++
      queries.Functions.qs ++ queries.Parity.qs ++ queries.Extensions.qs ++
      queries.Fuzz.qs)
      .map(_.name)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(",")}")
    assert(SparkEntry.queries.size == names.size)
    assert(names.forall(_.matches("(q|x|fz)[0-9]+_[a-z0-9_]+")), names.filterNot(_.matches("(q|x|fz)[0-9]+_[a-z0-9_]+")))
  }

  test("every oracle belongs to a registered query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the driver's flagship smoke-check contract holds: entry() returns rows") {
    // the driver calls SparkEntry.entry(spark) directly and requires
    // rows > 0 on sf0.001; nothing else exercises that exact code path
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a query-name filter with an unknown name fails and lists the unknown names") {
    val name = SparkEntry.queries.keys.min
    assert(SparkEntry.names(s" $name,$name ") == Set(name))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.names(s"$name,no_such_query,also_missing")
    }
    assert(e.getMessage.endsWith("unknown query names: also_missing,no_such_query"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.names(","))
  }

  test("every query has an oracle — the rows-only set is empty") {
    // a new query registered without its oracleSql entry would demote
    // itself to the weaker rows-only check without any test noticing.
    // Round 12 shrank the intentional rows-only set 11 -> 5 (the
    // deterministic ANN/semdedup tiers gained DuckDB re-derivation
    // oracles); round 15 closed the last 5 (VERDICT r14 task #5): the
    // by-nature-approximate tiers — HLL x63/x112/x287,
    // percentile_approx x129, float-fold x64 — are now judged as
    // BOUND CHECKS (exact twin columns + a Spark-computed
    // inside-error-envelope boolean the oracle asserts as TRUE), so
    // every one of the catalog's queries is oracle-gated.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty,
      s"unexpected rows-only set: ${rowsOnly.toSeq.sorted.mkString(",")}")
  }
}
