package graft

/** The driver contract: the query registry, the Bench subset and the
  * session config every main and suite runs under. */
class RegistrySpec extends SparkSpec {
  private val names = SparkEntry.registry.map(_.name)

  test("registry names are unique") {
    assert(names.diff(names.distinct).isEmpty)
    assert(SparkEntry.queries.keys.toSeq == names)
  }

  test("every bench query is registered exactly once") {
    val bench = SparkEntry.benchQueries
    assert(bench.diff(bench.distinct).isEmpty)
    assert(bench.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("every registered query carries non-empty oracle SQL") {
    assert(SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).isEmpty)
    assert(SparkEntry.oracleSql.keys.toSeq == names)
  }

  test("unknown query names fail fast, all of them listed") {
    SparkEntry.requireRegistered(Seq("q01_pricing_summary"))
    val e = intercept[IllegalArgumentException](SparkEntry.requireRegistered(
      Seq("q01_pricing_summary", "q01_pricing_sumary", "q999_nope")))
    assert(e.getMessage.contains("q01_pricing_sumary, q999_nope"))
  }

  test("the suites run under the GraftSession config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.excludedRules") ==
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.files.minPartitionNum") == "4")
  }
}
