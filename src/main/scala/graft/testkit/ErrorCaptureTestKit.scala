package graft.testkit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DeadLetterSerde, ErrorClassifier, ErrorFrame}

/** Published test harness for users of the capture API — the Spark
  * analog of the reference's shipped test fixtures
  * (error-handling-core/src/testFixtures: ErrorCaptureTopologyTest.java,
  * TestDeadLetterSerde.java): downstream projects test their OWN capture
  * topologies against these helpers instead of rebuilding scaffolding.
  *
  * Everything here uses only the public graft + Spark API and plain
  * `require`-based checks, so it works under any test framework.
  */
object ErrorCaptureTestKit {

  /** Deterministic local session configured like production graft
    * deployments expect (ANSI on — capture relies on failing casts
    * throwing; small shuffle fan-out; UTC; nanos-as-long parquet reads) —
    * the analog of ErrorCaptureTopologyTest.getKafkaProperties().
    */
  def localSession(appName: String = "graft-testkit", threads: Int = 4): SparkSession = {
    val s = sessionBuilder(appName, threads).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private[graft] def sessionBuilder(appName: String, threads: Int): SparkSession.Builder =
    graft.GraftSession.builder(threads)
      .appName(appName)
      .config("spark.sql.ansi.enabled", "true")

  /** All three branches of one capture topology, materialized. */
  final case class CaptureResult(values: DataFrame, errors: DataFrame, deadLetters: DataFrame)

  /** Run a user capture topology and return every branch, after checking
    * the partition invariant: each input row lands in EXACTLY one of
    * values/errors (the reference's topology tests assert the same split
    * over the output/error topics).
    */
  def runCapture(input: DataFrame, results: Map[String, Column], inputCol: Column,
      description: String = "testkit"): CaptureResult = {
    val ef = ErrorFrame.captureErrors(input, results, inputCol)
    val (nIn, nOk, nErr) = (input.count(), ef.values.count(), ef.errors.count())
    require(nOk + nErr == nIn,
      s"capture must partition the input: $nIn rows in, $nOk values + $nErr errors out")
    CaptureResult(ef.values, ef.errors, ef.deadLetters(description))
  }

  /** Serialize dead letters to JSON and parse them back through the
    * reference DeadLetter shape, requiring a lossless round trip — the
    * TestDeadLetterSerde.java analog. Returns the parsed frame.
    */
  def dlqJsonRoundTrip(deadLetters: DataFrame): DataFrame = {
    // pin to ONE evaluation: every action otherwise re-runs the capture
    // scan, and a re-raised exception renders a fresh stack trace
    // (generated-class frame names differ per execution), which would
    // read as a round-trip mismatch
    val stable = deadLetters.localCheckpoint()
    val schema = stable.schema
    val parsed = DeadLetterSerde.toJsonValue(stable)
      .select(from_json(col("value"), schema).as("dl"))
      .select(col("dl.*"))
    val cols = schema.fieldNames.map(col).toSeq
    val back = parsed.select(cols: _*)
    val a = stable.select(cols: _*).exceptAll(back).count()
    val b = back.exceptAll(stable.select(cols: _*)).count()
    require(a == 0 && b == 0,
      s"DLQ JSON round trip must be lossless: $a rows lost, $b rows mutated")
    back
  }

  /** An error class the default classifier treats as recoverable — the
    * analog of ErrorCaptureTopologyTest.createRecoverableException()
    * (which returns a Kafka SerializationException; graft's default
    * classifier uses Spark-native recoverable classes instead).
    */
  val recoverableErrorClass: String = "java.net.SocketTimeoutException"

  /** A classifier that treats exactly [[recoverableErrorClass]] as
    * recoverable — inject into ErrorFrame.filterRecoverable to test
    * retry/DLQ routing deterministically.
    */
  val recoverableClassifier: ErrorClassifier =
    ErrorClassifier(Seq(recoverableErrorClass), Set.empty)

  /** A column that throws for marked rows — the deterministic poison
    * pill for capture tests: `poison(when-condition, result-otherwise)`.
    * The raised error is non-recoverable under any classifier default.
    */
  def poison(failWhen: Column, otherwise: Column): Column =
    when(failWhen, raise_error(concat(lit("testkit poison: "), failWhen.cast("string"))))
      .otherwise(otherwise)

  /** Run a caller-provided STREAMING frame through a capture topology to
    * parquet values/DLQ sinks — the TestTopology.start()/stop() lifecycle
    * analog for any public streaming source (file, rate, kafka). `feed`
    * receives the started query: produce source data there and call
    * `q.processAllAvailable()` between batches. Returns the values/DLQ
    * frames read back.
    *
    * Only public Spark API: no internal MemoryStream dependency, so the
    * fixture survives Spark package moves.
    */
  def runStreamingCapture(stream: DataFrame, inputCol: Column,
      results: Map[String, Column], description: String)(
      feed: org.apache.spark.sql.streaming.StreamingQuery => Unit)
      : (DataFrame, DataFrame) = {
    val spark = stream.sparkSession
    val tmp = java.nio.file.Files.createTempDirectory("graft-testkit-stream").toString
    val q = graft.streaming.StreamErrorHandling.captureToDlq(
      stream, results, input = inputCol, description = description,
      valuesPath = s"$tmp/values", dlqPath = s"$tmp/dlq",
      checkpointPath = s"$tmp/ckpt")
    try feed(q) finally q.stop()
    def readOrEmpty(path: String, fallback: DataFrame) =
      try spark.read.parquet(path)
      catch { case _: org.apache.spark.sql.AnalysisException => fallback.limit(0) }
    (readOrEmpty(s"$tmp/values", spark.emptyDataFrame),
      readOrEmpty(s"$tmp/dlq", spark.emptyDataFrame))
  }

  /** Convenience: run a streaming capture over string batches, fed
    * through a temp-dir FILE source (public API; one text file per batch,
    * each processed to completion before the next lands). The input
    * column is `s`.
    */
  def runStreamingCapture(spark: SparkSession, batches: Seq[Seq[String]],
      results: Map[String, Column], description: String = "testkit-stream")
      : (DataFrame, DataFrame) = {
    val src = java.nio.file.Files.createTempDirectory("graft-testkit-src")
    val stream = spark.readStream.text(src.toString).withColumnRenamed("value", "s")
    runStreamingCapture(stream, col("s"), results, description) { q =>
      batches.zipWithIndex.foreach { case (b, i) =>
        java.nio.file.Files.write(src.resolve(s"batch-$i.txt"),
          b.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        q.processAllAvailable()
      }
    }
  }
}
