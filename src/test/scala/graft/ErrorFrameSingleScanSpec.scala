package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.BlockCount

import graft.core.ErrorFrame

/** The single-scan contract: a values action leaves the frame's error
  * rows behind for the error branch, which then reads them instead of
  * capturing every record again; whatever ran before, values plus
  * errors cover the input exactly once.
  */
class ErrorFrameSingleScanSpec extends SparkSpec {
  import spark.implicits._

  private val Rows = 400L
  private val CastClass = "org.apache.spark.SparkNumberFormatException"
  private val DivClass = "org.apache.spark.SparkArithmeticException"

  /** Four partitions; every tenth `s` (id % 10 = 3) is not a number, and
    * a numeric `s` divisible by 7 fails the division.
    */
  private def input: DataFrame = spark.range(0, Rows, 1, 4).select(col("id"),
    when(col("id") % 10 === 3, concat(lit("x"), col("id").cast("string")))
      .otherwise(col("id").cast("string")).as("s"))

  private def expectedClass(id: Long): Option[String] =
    if (id % 10 == 3) Some(CastClass) else if (id % 7 == 0) Some(DivClass) else None

  private def frame(in: DataFrame = input): ErrorFrame = ErrorFrame.captureErrors(in,
    Map("v" -> expr("cast(s as int)"), "inv" -> expr("1000 div (cast(s as int) % 7)")),
    input = col("s"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Values ids and error (id, class) pairs cover the input exactly
    * once, each error with the class the per-row computation throws.
    */
  private def assertCovers(values: Seq[Long], errors: Seq[(Long, String)]): Unit = {
    assert(values.size == values.distinct.size, "a values id repeats")
    assert(errors.map(_._1).distinct.size == errors.size, "an error id repeats")
    assert((values ++ errors.map(_._1)).sorted == (0L until Rows))
    assert(values.forall(expectedClass(_).isEmpty))
    errors.foreach { case (id, cls) => assert(expectedClass(id).contains(cls), s"id $id: $cls") }
  }

  /** Ids of the values branch consumed whole (a projection of it prunes
    * columns under the tee, and the error branch would then scan).
    */
  private def valueIds(ef: ErrorFrame): Seq[Long] = ef.values.collect().map(_.getAs[Long]("id")).toSeq
  private def errorPairs(ef: ErrorFrame): Seq[(Long, String)] =
    ef.errors.select($"id", $"error_class").as[(Long, String)].collect().toSeq
  private def readsOnlyTeedRows(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])

  test("single scan: values then errors reads the teed rows, and they cover the input once") {
    val ef = frame()
    assert(ef.values.queryExecution.executedPlan.toString.contains("ErrorTee"))
    val v = valueIds(ef)
    assert(readsOnlyTeedRows(ef.errors))
    assertCovers(v, errorPairs(ef))
    // dead letters read the same rows
    assert(ef.deadLetters("d").count() == Rows - v.size)
  }

  test("single scan: after values.select(\"id\") errors scan again, and values plus errors cover the input once") {
    val ef = frame()
    val ids = ef.values.select($"id").as[Long].collect().toSeq
    // the projection pruned the input columns below the tee
    assert(!readsOnlyTeedRows(ef.errors))
    assertCovers(ids, errorPairs(ef))
  }

  test("single scan: after values.count() dead letters scan again, and count the rest") {
    val ef = frame()
    val n = ef.values.count()
    val letters = ef.deadLetters("d")
    assert(!readsOnlyTeedRows(letters))
    assert(letters.count() == Rows - n)
    assertCovers(valueIds(frame()), errorPairs(ef))
  }

  test("single scan: errors first, then values") {
    val ef = frame()
    val e = errorPairs(ef)
    assertCovers(valueIds(ef), e)
  }

  test("single scan: values.limit(1), then errors recomputes the untouched partitions") {
    val ef = frame()
    assert(ef.values.limit(1).collect().length == 1)
    assertCovers(valueIds(frame()), errorPairs(ef))
  }

  test("single scan: values.union(values) written, then errors") {
    val ef = frame()
    val out = java.nio.file.Files.createTempDirectory("graft-union").resolve("v").toString
    ef.values.union(ef.values).write.parquet(out)
    val both = spark.read.parquet(out).select($"id").as[Long].collect().toSeq
    val e = errorPairs(ef)
    assert(both.size == 2 * both.distinct.size)
    assertCovers(both.distinct, e)
  }

  test("single scan: values written twice, then errors") {
    val ef = frame()
    noop(ef.values)
    val first = ef.errorRowsRddId
    noop(ef.values)
    assert(ef.errorRowsRddId.isDefined && ef.errorRowsRddId != first)
    assertCovers(valueIds(frame()), errorPairs(ef))
  }

  test("single scan: the errors action after a full values action evaluates no capture") {
    val calls = spark.sparkContext.longAccumulator("captures")
    val parse = udf { (s: String) => calls.add(1); s.toInt }
    val ef = ErrorFrame.captureErrors(input, Map("v" -> parse(col("s"))), input = col("s"))
    noop(ef.values)
    assert(calls.value == Rows)
    val errors = ef.errors.count()
    val letters = ef.deadLetters("d").count()
    assert(calls.value == Rows, "the error branch captured records again")
    assert(errors == Rows / 10 && letters == errors)
    // built before any values action, the error branch scans
    val fresh = ErrorFrame.captureErrors(input, Map("v" -> parse(col("s"))), input = col("s"))
    fresh.errors.count()
    assert(calls.value == 2 * Rows)
  }

  test("single scan: no block of an unreachable frame's error rows is left after GC") {
    def run(): Int = {
      val ef = frame()
      noop(ef.values)
      assert(ef.deadLetters("d").count() > 0)
      val id = ef.errorRowsRddId.get
      assert(BlockCount.of(id) == 4)
      id
    }
    val id = run()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (BlockCount.of(id) > 0 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(BlockCount.of(id) == 0)
  }

  test("single scan: a frame over a cached capture keeps the filter scan") {
    val captured = frame()
    val cached = captured.df.persist()
    try {
      val ef = ErrorFrame(cached, captured.resultNames, captured.inputCol)
      assert(!ef.values.queryExecution.executedPlan.toString.contains("ErrorTee"))
      assertCovers(valueIds(ef), errorPairs(ef))
      assert(ef.errorRowsRddId.isEmpty)
    } finally { cached.unpersist(); () }
  }

  test("single scan: file lineage after a values action still scans the source") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage").resolve("in").toString
    input.write.parquet(dir)
    val ef = frame(spark.read.parquet(dir))
    noop(ef.values)
    val files = ef.deadLetters("d", withLineage = true).select($"topic").as[String].collect()
    assert(files.length == 93 && files.forall(_.contains("part-")))
    assert(ef.deadLetters("d").count() == 93)
  }
}
