package graft

/** Pins each session profile's conf map to literal values: a change there
  * silently moves the oracle layout, the bench numbers or the spec plans.
  * Asserts on the maps only — one JVM holds one active session, so no
  * profile is started here.
  */
class SessionsSpec extends SparkTestBase {

  test("bench profile: wide shuffles, AQE, 4 MB splits") {
    assert(Sessions.benchConf(4) == Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft-bench-4",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "1048576",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    // shuffle partitions follow the core count above 8
    assert(Sessions.benchConf(32)("spark.sql.shuffle.partitions") == "32")
    assert(Sessions.benchConf(1)("spark.master") == "local[1]")
  }

  test("oracle profile: one shuffle partition per core, nothing else set") {
    assert(Sessions.oracleConf(4) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(Sessions.oracleConf(32)("spark.sql.shuffle.partitions") == "32")
  }

  test("test profile: fixed local[4], 8 shuffle partitions, AQE") {
    assert(Sessions.testConf == Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft-tests",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("the shared spec session runs under the test profile") {
    Sessions.testConf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }

  test("core count: SPARK_GRAFT_CPUS, else every core of the host") {
    assert(Sessions.cpus == sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt))
  }
}
