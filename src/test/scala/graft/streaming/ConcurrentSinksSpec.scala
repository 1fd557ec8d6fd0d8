package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerDrain
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** A trigger writes its sinks as one job over routed rows
  * ([[StreamErrorHandling.writeSplit]]: `captureToDlq`, `contractToDlq`,
  * the DSIR, classifier and Gopher gates, `quarantineLate`), or as
  * concurrent jobs over one pinned frame
  * ([[StreamErrorHandling.writeSinks]]): a routed trigger runs one job
  * and computes each row once, concurrent writes overlap, the capture
  * and its telemetry run once per row, a failed write fails the trigger
  * and its replay rewrites every sink, and `stop()` leaves no sink job
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

  test("jobs per trigger of every routed trigger body") {
    val P = graft.operators.Pipeline
    val T = graft.operators.TextAnalysis
    val docs = Seq((1L, "1 3 5"), (2L, "x y")).toDF("doc_id", "text")
    val nanos = P.dsirModelNanos(P.dsirModel(docs, isTarget = $"doc_id" === 1L))
    val model = T.trainQualityModel((
      (0L until 10L).map(i => (i, ("rep rep rep w" + i + " ") * 6)) ++
      (10L until 20L).map(i => (i, (0 until 24).map(j => s"t${i}_$j").mkString(" ")))
    ).toDF("doc_id", "text"), isPositive = $"doc_id" < 10L)
    val E = StreamErrorHandling
    // (body, jobs per trigger, query over the lines of `in` writing
    // sinks a and b under `root`)
    val bodies = Seq[(String, Int, (DataFrame, Path) => StreamingQuery)](
      ("captureToDlq", 1, (in, root) => E.captureToDlq(in, Results, $"value", "jobs",
        s"$root/a", s"$root/b", s"$root/ckpt")),
      ("contractToDlq", 1, (in, root) => E.contractToDlq(in,
        Seq("digits" -> $"value".rlike("^[0-9]+$")), $"value", "jobs",
        s"$root/a", s"$root/b", s"$root/ckpt")),
      ("dsirGate", 1, (in, root) => E.dsirGate(in.toDF("text"), nanos, 0.0,
        s"$root/a", s"$root/b", s"$root/ckpt")),
      ("classifierGate", 1, (in, root) => E.classifierGate(in.toDF("text"), model, 0.5,
        s"$root/a", s"$root/b", s"$root/ckpt")),
      ("gopherGate", 1, (in, root) => E.gopherGate(in.toDF("text"),
        s"$root/a", s"$root/b", s"$root/ckpt", minWords = 1L)),
      // the prior watermark's read, the routed job and the state commit
      ("quarantineLate", 3, (in, root) => E.quarantineLate(
        in.withColumn("ts", expr("timestamp_millis(crc32(value))")), "ts", 1000L,
        s"$root/a", s"$root/b", s"$root/state", s"$root/ckpt")))
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(listener)
    try bodies.foreach { case (body, expected, start) =>
      val tmp = Files.createTempDirectory("graft-sink-jobs")
      drop(tmp, "warm", Seq("0"))
      val q = start(spark.readStream.text(s"$tmp/in/*"), tmp)
      try {
        q.processAllAvailable()
        def ran: Int = {
          ListenerDrain(spark.sparkContext)
          Option(jobs.get(q.runId.toString)).fold(0)(_.get)
        }
        (1 to 3).foreach { i =>
          val before = ran
          drop(tmp, s"t$i", Seq("1", "x", "3"), Seq("y", "5"))
          q.processAllAvailable()
          assert(ran - before == expected, s"$body: jobs of trigger $i")
          assert(rowsAt(s"$tmp/a/batch_id=$i") + rowsAt(s"$tmp/b/batch_id=$i") == 5,
            s"$body: rows of trigger $i")
        }
      } finally q.stop()
      FileUtils.deleteDirectory(tmp.toFile)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a split computes a score read by its predicate and both sinks once per row") {
    val tmp = Files.createTempDirectory("graft-split-once")
    ConcurrentSinksSpec.scored.set(0)
    val score = udf { (x: Long) => ConcurrentSinksSpec.scored.incrementAndGet(); x % 10 }
    val rows = spark.range(0, 100, 1, 4).withColumn("score", score($"id"))
    StreamErrorHandling.writeSplit(rows, $"score" >= 5)(
      Seq($"id", $"score") -> s"$tmp/high",
      Seq($"id", ($"score" * 2).as("twice")) -> s"$tmp/low")
    assert(ConcurrentSinksSpec.scored.get == 100)
    assert(rowsAt(s"$tmp/high") == 50 && rowsAt(s"$tmp/low") == 50)
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
  val scored = new AtomicLong
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
