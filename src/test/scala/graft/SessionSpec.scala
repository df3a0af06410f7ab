package graft

/** The session factory: the `SPARK_GRAFT_CPUS` parser and the settings
  * every session (the shared test session included) carries. */
class SessionSpec extends SparkTestBase {

  test("SPARK_GRAFT_CPUS parses a positive integer") {
    assert(Session.parseCpus(Some("8")) == 8)
    assert(Session.parseCpus(None) ==
      math.min(32, Runtime.getRuntime.availableProcessors()))
  }

  test("SPARK_GRAFT_CPUS rejects zero, negatives and non-numbers, naming the variable") {
    for (raw <- Seq("0", "-1", "abc")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(raw), e.getMessage)
    }
  }

  test("the test session carries the factory's settings") {
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "128k")
    assert(spark.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") == "900s")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
