package graft

import org.apache.spark.sql.SparkSession

import graft.testkit.ErrorCaptureTestKit

/** [[GraftSession]]: the settings every harness shares, the cores a main
  * takes from `SPARK_GRAFT_CPUS`, and what each caller adds to them.
  */
class GraftSessionSpec extends SparkSpec {

  /** The master and confs a builder will set. The map is protected in
    * Spark's builder; its JVM accessor is public.
    */
  private def options(b: SparkSession.Builder): Set[(String, String)] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]].toSet

  private def extras(b: SparkSession.Builder, cores: Int): Set[(String, String)] = {
    val shared = options(GraftSession.builder(cores))
    assert(shared.subsetOf(options(b)))
    options(b) -- shared
  }

  private val pfFalse = "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"

  test("a builder session holds the five shared settings") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(options(GraftSession.builder(4)) == Set(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("SPARK_GRAFT_CPUS sets both the master and the shuffle partitions") {
    assert(GraftSession.coresIn(Map.empty) == 32)
    val cores = GraftSession.coresIn(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(cores == 3)
    val set = options(GraftSession.builder(cores)).toMap
    assert(set("spark.master") == "local[3]")
    assert(set("spark.sql.shuffle.partitions") == "3")
  }

  test("each caller adds only its own settings") {
    assert(extras(Bench.sessionBuilder(3), 3) ==
      Set(pfFalse, "spark.sql.autoBroadcastJoinThreshold" -> "64MB"))
    assert(extras(Verify.sessionBuilder(3), 3) == Set(pfFalse))
    assert(extras(Probe.sessionBuilder, 4) == Set(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    assert(extras(ErrorCaptureTestKit.sessionBuilder("kit", 2), 2) ==
      Set("spark.app.name" -> "kit", "spark.sql.ansi.enabled" -> "true"))
  }
}
