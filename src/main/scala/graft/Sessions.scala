package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built. Three named profiles, each one
  * literal conf map; the differences between them are on purpose:
  *
  *   - [[bench]]: every `Bench` mode. Wide shuffles (≥ 8 partitions) and
  *     4 MB splits keep the decode stage wide at any core count (row groups
  *     are 1 MB, see `ImageGen`).
  *   - [[oracle]]: `Verify` and `Pipeline.main`. One shuffle partition per
  *     core and Spark's defaults otherwise: the layout the DuckDB oracle
  *     hashes were recorded under — partition layout can move
  *     floating-point sums, so this map must not change.
  *   - [[test]]: the specs and the test-side mains. A fixed `local[4]`, so
  *     spec plans and timings do not depend on the host.
  *
  * `spark-submit` entry points (`SubmitSmoke`, `ValidateMain`) build their
  * own bare session: master and extensions come from the submit line.
  */
object Sessions {

  /** Core count: `SPARK_GRAFT_CPUS`, or every core of this host when unset. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def benchConf(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> s"graft-bench-$cores",
    "spark.sql.shuffle.partitions" -> math.max(cores, 8).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.files.openCostInBytes" -> "1048576",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def oracleConf(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  val testConf: Map[String, String] = Map(
    "spark.master" -> "local[4]",
    "spark.app.name" -> "graft-tests",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def bench(cores: Int = cpus): SparkSession = start(benchConf(cores))
  def oracle(cores: Int = cpus): SparkSession = start(oracleConf(cores))
  def test(): SparkSession = start(testConf)

  private def start(conf: Map[String, String]): SparkSession = {
    val s = SparkSession.builder().config(conf).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
