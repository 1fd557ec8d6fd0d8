package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains, specs and test kit build their local
  * session. Each caller adds only the settings it needs beyond these.
  */
object GraftSession {

  /** Cores a main runs on when `SPARK_GRAFT_CPUS` is unset. */
  val DefaultCores = 32

  /** Cores a main runs on: `SPARK_GRAFT_CPUS`, else [[DefaultCores]]. */
  def cores: Int = coresIn(sys.env)

  private[graft] def coresIn(env: collection.Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(DefaultCores)(_.toInt)

  /** A builder preset with what every graft harness sets: `local[cores]`,
    * one shuffle partition per core, UTC session time, parquet
    * TIMESTAMP(NANOS) read as long nanos (the events.ts contract), and
    * no UI.
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
