package graft

/** Every graft session is built by [[GraftSession]]; the specs' shared
  * session is too, so its live configuration is the factory's. */
class GraftSessionSpec extends SparkSpec {

  test("a session carries the five shared settings") {
    // spelled out, not read back from GraftSession.shared: dropping an
    // entry from the factory must fail here
    val expected = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000")
    assert(GraftSession.shared.toMap == expected)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("local(n) sets the master and one shuffle partition per core") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the core count is SPARK_GRAFT_CPUS, else every available processor") {
    assert(GraftSession.cpusFrom(Some("7")) == 7)
    assert(GraftSession.cpusFrom(Some(" 12 ")) == 12)
    assert(GraftSession.cpusFrom(None) == Runtime.getRuntime.availableProcessors)
  }
}
