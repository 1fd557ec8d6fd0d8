package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.ErrorFrame

/** Dev-only smoke probe: runs entry() and the capture queries with codegen
  * fallback disabled, proving TryCapture's generated code compiles (no
  * silent interpreted fallback). Usage: sbt "runMain graft.Probe".
  */
object Probe {
  /** Four cores; generated code only, with no interpreted fallback. */
  private[graft] def sessionBuilder: SparkSession.Builder =
    GraftSession.builder(4)
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")

  def main(args: Array[String]): Unit = {
    val spark = sessionBuilder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("ENTRY_ROWS=" + SparkEntry.entry(spark).count())
    val dir = if (args.nonEmpty && !args(0).startsWith("explain:")) args(0)
      else "/root/testdata/sf0.001"
    args.filter(_.startsWith("explain:")).map(_.stripPrefix("explain:")).foreach { q =>
      println(s"==== EXPLAIN $q")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    // every query must survive CODEGEN_ONLY (no silent interpreted fallback)
    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case t: Throwable => bad += 1; println(s"CODEGEN_FAIL $name: $t") }
    }
    if (!sharedCapture(spark)) bad += 1
    println(s"CODEGEN_ONLY_FAILURES=$bad")
    SparkEntry.queries("e4_dead_letters")(spark, dir).show(3, 60, vertical = false)
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  /** The dlq_clean capture shape: two columns sharing a JSON cast that
    * throws on a non-numeric k, written through the values tee, with
    * dead letters from the rows it left behind. True when every id
    * lands in exactly the branch its k says.
    */
  private def sharedCapture(spark: SparkSession): Boolean = {
    val rows = 1000
    val events = spark.range(0, rows, 1, 4).select(col("id"), when(col("id") % 50 === 0,
      lit("{\"k\": \"x\"}")).otherwise(concat(lit("{\"k\": "), (col("id") % 9).cast("string"),
      lit("}"))).as("props"))
    val k = "CAST(get_json_object(props, '$.k') AS BIGINT)"
    val ef = ErrorFrame.captureErrors(events,
      Map("k_num" -> expr(k), "score" -> expr(s"(id * 100) DIV ($k % 7)")),
      to_json(struct(col("id"), col("props"))))
    val expected = (0 until rows).count(i => i % 50 == 0 || i % 9 == 0 || i % 9 == 7)
    try {
      val values = ef.values.collect().length
      val letters = ef.deadLetters("probe").count()
      println(s"SHARED_CAPTURE values=$values letters=$letters expected_letters=$expected")
      values + letters == rows && letters == expected
    } catch { case t: Throwable => println(s"CODEGEN_FAIL shared_capture: $t"); false }
  }
}
