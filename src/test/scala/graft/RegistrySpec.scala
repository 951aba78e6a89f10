package graft

/** Smoke guard over the whole driver contract: every registered query
  * must execute its full physical plan at sf0.001 through Bench's run
  * step, produce a non-empty schema with unique names, and every oracle
  * key must reference a registered query. Catches breakage in no-oracle
  * queries that the DuckDB gate can't see. */
class RegistrySpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  test("registry names are unique and oracle keys resolve") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.registry.size >= 40)
  }

  test("entry() smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.registry.foreach { q =>
    test(s"query ${q.name} executes at sf0.001") {
      Sessions.runAndReset(spark) {
        val df = q.run(spark, Dir)
        assert(df.columns.nonEmpty)
        assert(df.columns.distinct.length === df.columns.length, "duplicate column names")
        df
      }
    }
  }
}
