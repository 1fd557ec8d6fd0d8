package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerDrain
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** A trigger writes its sinks as concurrent jobs over one pinned
  * capture ([[StreamErrorHandling.writeSinks]]), or as one job over
  * routed rows (`captureToDlq`): the writes overlap, the capture and
  * its telemetry run once per row, a failed write fails the trigger and
  * its replay rewrites every sink, and `stop()` leaves no sink job
  * behind.
  */
class ConcurrentSinksSpec extends SparkSpec {
  import spark.implicits._

  private val Results = Map("v" -> expr("cast(value as int)"))

  /** Adds one text file per entry of `files` to the stream under
    * `root`, all in one rename, so one trigger reads them together.
    */
  private def drop(root: Path, name: String, files: Seq[String]*): Unit = {
    val staged = Files.createDirectories(root.resolve("staging").resolve(name))
    files.zipWithIndex.foreach { case (lines, f) =>
      Files.write(staged.resolve(s"part-$f.txt"), lines.asJava)
    }
    Files.move(staged, Files.createDirectories(root.resolve("in")).resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def captureToDlq(root: Path): StreamingQuery =
    StreamErrorHandling.captureToDlq(spark.readStream.text(s"$root/in/*"), Results,
      col("value"), "sinks", s"$root/values", s"$root/dlq", s"$root/ckpt")

  private def rowsAt(path: String): Long =
    if (new java.io.File(path).exists) spark.read.parquet(path).count() else -1L

  test("writeSinks runs its writes as concurrent jobs and rethrows a failed one") {
    val tmp = Files.createTempDirectory("graft-write-sinks")
    // each write's only task waits for the other's: written in series,
    // the first would time out
    ConcurrentSinksSpec.barrier = new CyclicBarrier(2)
    val meet = udf { (x: Long) => ConcurrentSinksSpec.barrier.await(30, TimeUnit.SECONDS); x }
    StreamErrorHandling.writeSinks(spark)(
      (() => spark.range(0, 1, 1, 1).select(meet($"id").as("id"))) -> s"$tmp/a",
      (() => spark.range(1, 2, 1, 1).select(meet($"id").as("id"))) -> s"$tmp/b")
    assert(rowsAt(s"$tmp/a") == 1 && rowsAt(s"$tmp/b") == 1)
    // a failed write is rethrown once the other write has ended
    val failure = intercept[Exception] {
      StreamErrorHandling.writeSinks(spark)(
        (() => spark.range(0, 3, 1, 1).select(expr("id div 0").as("q"))) -> s"$tmp/c",
        (() => spark.range(0, 5, 1, 1).toDF()) -> s"$tmp/d")
    }
    assert(Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("DIVIDE_BY_ZERO")), failure.toString)
    assert(rowsAt(s"$tmp/d") == 5)
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("captureToDlq telemetry counts each row once on every trigger, multi-file ones included") {
    val tmp = Files.createTempDirectory("graft-sink-telemetry")
    drop(tmp, "warm", Seq("0"))
    val q = captureToDlq(tmp)
    q.processAllAvailable()
    // trigger i: 3 files when i % 4 == 1, else 1; every 5th row poison
    val expected = (1 to 12).map { i =>
      val files = (0 until (if (i % 4 == 1) 3 else 1)).map { f =>
        (0 until 40 + 7 * i + f).map { j =>
          if (j % 5 == 2) s"x$i-$f-$j" else (i * 1000 + f * 100 + j).toString
        }
      }
      drop(tmp, s"t$i", files: _*)
      q.processAllAvailable()
      val rows = files.flatten
      (rows.size.toLong, rows.count(_.startsWith("x")).toLong)
    }
    q.stop()
    val telemetry = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => p.batchId -> StreamErrorHandling.captureTelemetry(p).map(t => (t._1, t._2)))
      .toMap
    expected.zip(1 to 12).foreach { case ((rows, errors), i) =>
      assert(telemetry.get(i.toLong).flatten.contains((rows, errors)),
        s"trigger $i: telemetry ${telemetry.get(i.toLong)}, expected ($rows, $errors)")
      assert(rowsAt(s"$tmp/values/batch_id=$i") == rows - errors, s"trigger $i values")
      assert(rowsAt(s"$tmp/dlq/batch_id=$i") == errors, s"trigger $i dead letters")
    }
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a captureToDlq trigger runs exactly one job") {
    val tmp = Files.createTempDirectory("graft-sink-one-job")
    drop(tmp, "warm", Seq("0"))
    val q = captureToDlq(tmp)
    q.processAllAvailable()
    val group = q.runId.toString
    val jobs = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_ == group).foreach(g => jobs.put(e.jobId, g))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 3).foreach { i =>
        drop(tmp, s"t$i", Seq("1", "x", "3"), Seq("y", "5"))
        q.processAllAvailable()
      }
      ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    q.stop()
    assert(jobs.size == 3, s"jobs of three triggers: ${jobs.keySet}")
    (1 to 3).foreach { i =>
      assert(rowsAt(s"$tmp/values/batch_id=$i") == 3 && rowsAt(s"$tmp/dlq/batch_id=$i") == 2)
    }
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a failed sink write fails the trigger, and its replay rewrites both sinks") {
    val tmp = Files.createTempDirectory("graft-sink-replay")
    val (dlq, parked) = (tmp.resolve("dlq"), tmp.resolve("dlq-parked"))
    drop(tmp, "t0", Seq("1", "x", "3"))
    val q0 = captureToDlq(tmp)
    q0.processAllAvailable()
    // the dead-letter dir becomes a plain file: trigger 1 cannot write there
    Files.move(dlq, parked)
    Files.write(dlq, Seq("not a dir").asJava)
    drop(tmp, "t1", Seq("4", "y", "6", "z"))
    intercept[Exception](q0.processAllAvailable())
    q0.stop()
    // one job writes both sinks, and every sink dir is made before it
    // starts: the failed trigger committed neither sink
    assert(!new java.io.File(s"$tmp/values/batch_id=1/_SUCCESS").exists)
    Files.delete(dlq)
    Files.move(parked, dlq)
    val q1 = captureToDlq(tmp)
    q1.processAllAvailable()
    q1.stop()
    val values = spark.read.parquet(s"$tmp/values")
      .select($"batch_id", $"v").as[(Int, Int)].collect().sorted.toSeq
    assert(values == Seq((0, 1), (0, 3), (1, 4), (1, 6)))
    val letters = spark.read.parquet(s"$tmp/dlq")
      .select($"batch_id", $"input_value").as[(Int, String)].collect().sorted.toSeq
    assert(letters == Seq((0, "x"), (1, "y"), (1, "z")))
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("query.stop() during a trigger leaves no sink job running") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-sink-stop")
    val sinkJobs = new SinkJobs
    spark.sparkContext.addSparkListener(sinkJobs)
    try {
      ConcurrentSinksSpec.started = new CountDownLatch(1)
      val slow = udf { (s: String) =>
        ConcurrentSinksSpec.started.countDown()
        Thread.sleep(100)
        s
      }
      val mem = MemoryStream[String]
      val q = StreamErrorHandling.captureToDlq(mem.toDF().select(slow($"value").as("s")),
        Map("v" -> expr("cast(s as int)")), col("s"), "stop",
        s"$tmp/values", s"$tmp/dlq", s"$tmp/ckpt")
      mem.addData((1 to 100).map(_.toString))
      assert(ConcurrentSinksSpec.started.await(60, TimeUnit.SECONDS), "no sink job started")
      q.stop()
      assert(!q.isActive && q.exception.isEmpty)
      ListenerDrain(spark.sparkContext)
      assert(!sinkJobs.started.isEmpty)
      // the writes ran in the query's job group, which stop() cancels
      assert(sinkJobs.groups.asScala.toSet == Set(q.runId.toString))
      val running = sinkJobs.started.asScala.toSet -- sinkJobs.ended.asScala
      assert(running.isEmpty, s"sink jobs still running after stop(): $running")
    } finally spark.sparkContext.removeSparkListener(sinkJobs)
    FileUtils.deleteDirectory(tmp.toFile)
  }
}

object ConcurrentSinksSpec {
  @volatile var barrier: CyclicBarrier = _
  @volatile var started: CountDownLatch = _
}

/** Ids and job groups of the jobs [[StreamErrorHandling.writeSinks]]
  * started, and ids of every job that ended.
  */
private class SinkJobs extends SparkListener {
  val started: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  val groups: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val ended: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.contains("graft-sinks-"))) {
      started.add(e.jobId)
      groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      ()
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.add(e.jobId); () }
}
