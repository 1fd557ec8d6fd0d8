package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamErrorHandling

/** Cross-invocation state for the flaky-UDF retry test (single local JVM). */
object FlakyState {
  val attempts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
  def reset(): Unit = attempts.clear()
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("trendingToSink stores the exact top-k of each finalized window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val tmp = Files.createTempDirectory("graft-trend").toString
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val q = StreamErrorHandling.trendingToSink(
      mem.toDF().toDF("ts", "page"), "ts", "1 hour", "0 seconds",
      "page", k = 2, s"$tmp/out", s"$tmp/ckpt")
    // hour 10: a×3, b×2, c×1 -> top2 = a,b ; hour 11: c×2, a×1
    mem.addData(Seq((ts(10, 1), "a"), (ts(10, 2), "a"), (ts(10, 3), "a"),
      (ts(10, 4), "b"), (ts(10, 5), "b"), (ts(10, 6), "c"),
      (ts(11, 1), "c"), (ts(11, 2), "c"), (ts(11, 3), "a")))
    q.processAllAvailable()
    // advance the watermark past both hours so they finalize
    mem.addData(Seq((ts(13, 0), "zz"))); q.processAllAvailable()
    mem.addData(Seq((ts(14, 0), "zz"))); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$tmp/out")
      .select($"window_start", $"page", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(got.filter(r => r._1.contains(" 10:") || r._1.contains(" 11:")) == Set(
      ("2024-01-01 10:00:00", "a", 3L), ("2024-01-01 10:00:00", "b", 2L),
      ("2024-01-01 11:00:00", "c", 2L), ("2024-01-01 11:00:00", "a", 1L)))
  }

  test("contractToDlq routes rule violations to the DLQ in DeadLetter shape") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val tmp = Files.createTempDirectory("graft-contract").toString
    val q = StreamErrorHandling.contractToDlq(
      mem.toDF().toDF("id", "qty"),
      rules = Seq("qty_small" -> (col("qty") < 100L)),
      input = col("id").cast("string"),
      description = "qty contract",
      valuesPath = s"$tmp/values",
      dlqPath = s"$tmp/dlq",
      checkpointPath = s"$tmp/ckpt")
    mem.addData((1L, 5L), (2L, 500L)); q.processAllAvailable()
    mem.addData((3L, 7L), (4L, 900L)); q.processAllAvailable()
    q.stop()
    val values = spark.read.parquet(s"$tmp/values")
      .select($"id").as[Long].collect().sorted
    assert(values.toSeq == Seq(1L, 3L))
    val dlq = spark.read.parquet(s"$tmp/dlq")
      .select($"input_value", $"cause.error_class", $"cause.message")
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(dlq.toSeq == Seq(
      ("2", "graft.ContractViolation", "qty_small"),
      ("4", "graft.ContractViolation", "qty_small")))
  }

  test("dsirGate (ST35): crash-replayed trigger rewrites its partition, never re-appends") {
    val tmp = Files.createTempDirectory("graft-dsir-replay").toString
    val docs = Seq((1L, "alpha beta alpha"), (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val nanos = graft.operators.Pipeline.dsirModelNanos(
      graft.operators.Pipeline.dsirModel(docs, isTarget = col("doc_id") === 1L))
    def replay(): Unit = StreamErrorHandling.processDsirTrigger(
      docs, batchId = 0L, nanos, minLogWeight = 0.0,
      s"$tmp/kept", s"$tmp/rejected")
    replay(); replay() // crash-replay: same trigger twice
    val kept = spark.read.parquet(s"$tmp/kept")
    val rej = spark.read.parquet(s"$tmp/rejected")
    assert(kept.count() + rej.count() == 2L, "replay duplicated rows")
    // the target-vocabulary doc scores above the noise doc
    val k = kept.select($"doc_id").as[Long].collect().toSet
    assert(k.contains(1L) && !k.contains(2L))
  }

  test("classifierGate (ST36): stream scores equal batch scoring; replay rewrites") {
    implicit val sqlCtx = spark.sqlContext
    val train = (
      (0L until 10L).map(i => (i, ("rep rep rep w" + i + " ") * 6, 1)) ++
      (10L until 20L).map(i =>
        (i, (0 until 24).map(j => s"t${i}_$j").mkString(" "), 0))
    ).toDF("doc_id", "text", "cls")
    val model = graft.operators.TextAnalysis.trainQualityModel(train,
      isPositive = col("cls") === 1, rounds = 4)
    val tmp = Files.createTempDirectory("graft-clf-gate").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamErrorHandling.classifierGate(
      mem.toDF().toDF("doc_id", "text"), model, minScore = 0.5,
      s"$tmp/kept", s"$tmp/rejected", s"$tmp/ckpt")
    val rows = train.select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val (t1, t2) = rows.partition(_._1 % 2 == 0)
    mem.addData(t1); q.processAllAvailable()
    mem.addData(t2); q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(s"$tmp/kept")
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect()
    val rej = spark.read.parquet(s"$tmp/rejected")
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect()
    assert(kept.map(_._1).sorted.toSeq == (0L until 10L),
      s"repetitive docs must pass the gate: ${kept.toSeq}")
    assert(rej.map(_._1).sorted.toSeq == (10L until 20L))
    // scores bit-equal the batch scorer over the same rows
    val batch = train.select($"doc_id",
        graft.operators.TextAnalysis.qualityScore($"text", model).as("s"))
      .as[(Long, Double)].collect().toMap
    (kept ++ rej).foreach { case (d, s) => assert(s == batch(d)) }
    // crash-replay: re-running trigger 0 rewrites its partition
    StreamErrorHandling.processClassifierTrigger(
      t1.toDF("doc_id", "text"), batchId = 0L, model, 0.5,
      s"$tmp/kept", s"$tmp/rejected")
    assert(spark.read.parquet(s"$tmp/kept").count() +
      spark.read.parquet(s"$tmp/rejected").count() == 20L)
  }

  test("gopherGate (ST38): stream verdicts equal batch gopherQualityFlags; " +
      "replay rewrites") {
    implicit val sqlCtx = spark.sqlContext
    val good = ((1 to 50).map(i => s"word$i") ++ Seq("the", "of", "with"))
      .mkString(" ")
    val bad = "too short the of"
    val docs = Seq((1L, good), (2L, bad), (3L, good + " extra"),
      (4L, (1 to 60).map(_ => "xy").mkString(" ") + " the of"))
    // no verdict for a null text: it must still land in one sink
    val noText = (5L, null: String)
    val tmp = Files.createTempDirectory("graft-gopher-gate").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamErrorHandling.gopherGate(
      mem.toDF().toDF("doc_id", "text"),
      s"$tmp/kept", s"$tmp/rejected", s"$tmp/ckpt")
    mem.addData(docs.take(2)); q.processAllAvailable()
    mem.addData(docs.drop(2) :+ noText); q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(s"$tmp/kept")
      .select($"doc_id").as[Long].collect().toSet
    val rej = spark.read.parquet(s"$tmp/rejected")
      .select($"doc_id").as[Long].collect().toSet
    // verdicts equal the batch operator's keep on the same corpus
    val batch = graft.operators.TextAnalysis
      .gopherQualityFlags(docs.toDF("doc_id", "text"))
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(kept == batch.filter(_._2).keySet && rej - 5L == batch.filterNot(_._2).keySet)
    assert(kept == Set(1L, 3L) && rej == Set(2L, 4L, 5L))
    // crash-replay: re-running trigger 0 rewrites, never re-appends
    StreamErrorHandling.processGopherTrigger(
      docs.take(2).toDF("doc_id", "text"), batchId = 0L, 50L, 100000L,
      graft.operators.TextAnalysis.GopherStopwords, s"$tmp/kept",
      s"$tmp/rejected")
    assert(spark.read.parquet(s"$tmp/kept").count() +
      spark.read.parquet(s"$tmp/rejected").count() == 5L)
  }

  test("contaminationGate (ST30): per-trigger verdicts equal the batch p4 verdict") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val tmp = Files.createTempDirectory("graft-contam").toString
    val evalSet = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val q = StreamErrorHandling.contaminationGate(
      mem.toDF().toDF("doc_id", "text"), evalSet, n = 2,
      s"$tmp/clean", s"$tmp/flagged", s"$tmp/ckpt")
    val triggers = Seq(
      Seq((1L, "alpha beta something else"), (2L, "totally clean doc here")),
      Seq((3L, "full leak delta epsilon zeta"), (4L, "another clean one")),
      Seq((5L, "beta gamma then alpha beta twice")))
    triggers.foreach { t => mem.addData(t); q.processAllAvailable() }
    q.stop()
    // whole-corpus equality with the BATCH operator (p4) on the same docs
    val all = triggers.flatten.toDF("doc_id", "text")
    val batchVerdict = graft.operators.Pipeline.contamination(all, evalSet, 2)
      .as[(Long, Long)].collect().toSet
    assert(batchVerdict.map(_._1) === Set(1L, 3L, 5L)) // non-vacuous
    assert(batchVerdict(5L -> 2L), "doc 5 shares two distinct grams")
    val flagged = spark.read.parquet(s"$tmp/flagged")
      .select($"doc_id", $"n_shared").as[(Long, Long)].collect().toSet
    assert(flagged === batchVerdict)
    val clean = spark.read.parquet(s"$tmp/clean")
      .select($"doc_id").as[Long].collect().toSet
    assert(clean === triggers.flatten.map(_._1).toSet -- flagged.map(_._1))
    // PER-TRIGGER equality: each epoch dir holds exactly the batch
    // verdict restricted to that trigger's docs
    triggers.zipWithIndex.foreach { case (t, id) =>
      val want = graft.operators.Pipeline
        .contamination(t.toDF("doc_id", "text"), evalSet, 2)
        .as[(Long, Long)].collect().toSet
      val dir = new java.io.File(s"$tmp/flagged/batch_id=$id")
      val got =
        if (!dir.exists()) Set.empty[(Long, Long)]
        else spark.read.parquet(dir.toString)
          .select($"doc_id", $"n_shared").as[(Long, Long)].collect().toSet
      assert(got === want, s"trigger $id verdict diverged from batch p4")
    }
  }

  test("maintainExactSubstr (ST31): trigger outputs union to the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val tmp = Files.createTempDirectory("graft-xsub").toString
    val q = graft.streaming.StreamAggState.maintainExactSubstr(
      mem.toDF().toDF("doc_id", "text"), k = 3, w = 4,
      s"$tmp/state", s"$tmp/values", s"$tmp/ckpt")
    val base = (1 to 30).map(i => s"a$i").mkString(" ")
    val run6 = (5 to 10).map(i => s"a$i").mkString(" ") // w+k-1 boundary run
    val triggers = Seq(
      Seq((1L, base), (2L, "f1 f2 f3 f4 f5 unique here")),
      Seq((3L, s"g1 g2 g3 g4 g5 $run6 h1 h2 h3")), // clone of a prior trigger
      Seq((4L, s"$run6 k1 k2 k3"), (5L, "l1 l2 l3 l4 l5")))
    triggers.foreach { t => mem.addData(t); q.processAllAvailable() }
    q.stop()
    // doc ids are monotone with arrival, so the streaming store's
    // first-arriving canonical IS the batch operator's global argmin:
    // the union of trigger outputs must EQUAL the batch d32 verdict
    val want = graft.operators.Dedup
      .exactSubstrTrim(triggers.flatten.toDF("doc_id", "text"), 3, 4)
      .collect().map(_.toString).sorted.toSeq
    val got = spark.read.parquet(s"$tmp/values")
      .select($"doc_id", $"n_tokens", $"n_removed", $"text_out")
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
    // the cross-trigger clones really lost the planted passage
    val rem = spark.read.parquet(s"$tmp/values")
      .select($"doc_id", $"n_removed").as[(Long, Long)].collect().toMap
    assert(rem(1L) === 0L, "first occurrence is canonical")
    assert(rem(3L) >= 3L && rem(4L) >= 3L, s"clones must trim: $rem")
  }

  test("maintainDomainCap (ST37): admitted union equals batch capPerDomain; " +
      "rejects observable; counts persist across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val tmp = Files.createTempDirectory("graft-domcap").toString
    val q = graft.streaming.StreamAggState.maintainDomainCap(
      mem.toDF().toDF("doc_id", "source", "text"), "source", k = 3,
      s"$tmp/state", s"$tmp/values", s"$tmp/rejected", s"$tmp/ckpt")
    // doc ids monotone with arrival; s0 overflows in trigger 2, s1 never
    val triggers = Seq(
      Seq((1L, "s0", "a"), (2L, "s0", "b"), (3L, "s1", "c")),
      Seq((4L, "s0", "d"), (5L, "s0", "e"), (6L, "s1", "f")),
      Seq((7L, "s0", "g"), (8L, "s1", "h")))
    triggers.foreach { t => mem.addData(t); q.processAllAvailable() }
    q.stop()
    val want = graft.operators.Pipeline
      .capPerDomain(triggers.flatten.toDF("doc_id", "source", "text"),
        "source", k = 3)
      .select($"doc_id").as[Long].collect().toSet
    val got = spark.read.parquet(s"$tmp/values")
      .select($"doc_id").as[Long].collect().toSet
    assert(got === want, s"streaming admits $got vs batch twin $want")
    assert(got === Set(1L, 2L, 4L, 3L, 6L, 8L))
    // over-cap docs are observable, not silently dropped
    val rej = spark.read.parquet(s"$tmp/rejected")
      .select($"doc_id").as[Long].collect().toSet
    assert(rej === Set(5L, 7L), s"rejected $rej")
    // the maintained counts saturate at k
    val st = graft.streaming.StreamAggState.readState(spark, s"$tmp/state")
      .get.as[(String, Long)].collect().toMap
    assert(st === Map("s0" -> 3L, "s1" -> 3L))
  }

  test("maintainChiSquare (ST39): per-trigger statistic equals batch x16 twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val tmp = Files.createTempDirectory("graft-chi2").toString
    val q = graft.streaming.StreamAggState.maintainChiSquare(
      mem.toDF().toDF("a", "b"), "a", "b",
      s"$tmp/state", s"$tmp/stats", s"$tmp/ckpt")
    val triggers = Seq(
      Seq.fill(12)(("x", "u")) ++ Seq.fill(4)(("x", "v")) ++ Seq.fill(4)(("y", "u")),
      Seq.fill(8)(("y", "v")) ++ Seq.fill(2)(("x", "u")),
      Seq.fill(6)(("y", "u")) ++ Seq.fill(6)(("x", "v")))
    var seen = Seq.empty[(String, String)]
    triggers.zipWithIndex.foreach { case (t, i) =>
      mem.addData(t); q.processAllAvailable()
      seen ++= t
      val want = graft.operators.Pipeline
        .chiSquare(seen.toDF("a", "b"), "a", "b")
        .as[(Double, Long, Long)].head()
      val got = spark.read.parquet(s"$tmp/stats/batch_id=$i")
        .as[(Double, Long, Long)].head()
      assert(got == want, s"trigger $i statistic $got != batch twin $want")
    }
    q.stop()
    // the maintained store IS the contingency table of everything seen
    val st = graft.streaming.StreamAggState.readState(spark, s"$tmp/state")
      .get.as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val wantCells = seen.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(st == wantCells, s"store $st != $wantCells")
  }

  test("maintainBm25 (ST33): per-trigger scores EQUAL the batch t33 twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val tmp = Files.createTempDirectory("graft-bm25").toString
    val queries = Seq((0L, "hash"), (0L, "join"), (1L, "scan"))
      .toDF("qid", "term")
    val q = graft.streaming.StreamAggState.maintainBm25(
      mem.toDF().toDF("doc_id", "text"), queries, 3,
      s"$tmp/state", s"$tmp/scores", s"$tmp/ckpt")
    val triggers = Seq(
      Seq((1L, "hash join hash scan"), (2L, "scan scan filter")),
      Seq((3L, "join join hash"), (4L, "filter sort merge scan")),
      Seq((5L, "hash hash hash scan join"), (6L, "scan hash")))
    var seen = Seq.empty[(Long, String)]
    triggers.zipWithIndex.foreach { case (t, id) =>
      seen = seen ++ t
      mem.addData(t); q.processAllAvailable()
      // df, dl, avgdl, N all move as the corpus grows: the maintained
      // store must reproduce the batch scorer EXACTLY, doubles included
      val want = graft.operators.TextAnalysis
        .bm25TopDocs(seen.toDF("doc_id", "text"), queries, 3)
        .collect().map(_.toString).sorted.toSeq
      val got = spark.read.parquet(s"$tmp/scores/batch_id=$id")
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, s"trigger $id diverged from the batch twin")
    }
    q.stop()
  }

  test("captureToDlq splits a stream into values and dead letters") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val tmp = Files.createTempDirectory("graft-stream").toString

    val q = StreamErrorHandling.captureToDlq(
      mem.toDF().withColumnRenamed("value", "s"),
      Map("v" -> expr("cast(s as int)")),
      input = col("s"),
      description = "stream test",
      valuesPath = s"$tmp/values",
      dlqPath = s"$tmp/dlq",
      checkpointPath = s"$tmp/ckpt")

    mem.addData("1", "oops", "3")
    q.processAllAvailable()
    mem.addData("4", "bad")
    q.processAllAvailable()
    q.stop()

    val values = spark.read.parquet(s"$tmp/values").select($"v").as[Int].collect().sorted
    assert(values.toSeq == Seq(1, 3, 4))
    val dlq = spark.read.parquet(s"$tmp/dlq")
    assert(dlq.count() == 2)
    assert(dlq.select($"description").distinct().as[String].collect().toSeq ==
      Seq("stream test"))
    assert(dlq.select($"cause.error_class").distinct().as[String].collect().head ==
      "org.apache.spark.SparkNumberFormatException")
    // per-micro-batch one-pass telemetry rode the progress events
    val tele = q.recentProgress.toSeq.flatMap(StreamErrorHandling.captureTelemetry)
    assert(tele.map(_._1).sum == 5 && tele.map(_._2).sum == 2)
    val byClass = tele.flatMap(_._3).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    assert(byClass == Map("org.apache.spark.SparkNumberFormatException" -> 2L))
  }

  test("kafka-shaped stream: record lineage reaches the streaming DLQ") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, String)]
    val tmp = Files.createTempDirectory("graft-stream-lineage").toString
    val q = StreamErrorHandling.captureToDlq(
      mem.toDF().toDF("topic", "partition", "offset", "s"),
      Map("v" -> expr("cast(s as int)")),
      input = col("s"),
      description = "lineage test",
      valuesPath = s"$tmp/values",
      dlqPath = s"$tmp/dlq",
      checkpointPath = s"$tmp/ckpt")
    mem.addData(("in-topic", 2, 100L, "7"), ("in-topic", 2, 101L, "zap"))
    q.processAllAvailable()
    q.stop()
    val dlq = spark.read.parquet(s"$tmp/dlq")
      .select($"topic", $"partition", $"offset", $"input_value")
      .as[(String, Int, Long, String)].collect()
    assert(dlq.toSeq == Seq(("in-topic", 2, 101L, "zap")))
  }

  test("windowedCounts aggregates tumbling windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val counts = StreamErrorHandling.windowedCounts(
      mem.toDF().toDF("ts", "kind"), "ts", "1 hour", "2 hours", "kind")

    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    mem.addData((ts(0), "a"), (ts(0), "a"), (ts(1), "b"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wc").as[(String, String, Long)].collect().toSet
    assert(rows == Set(("2024-01-01 00:00:00", "a", 2L), ("2024-01-01 01:00:00", "b", 1L)))
  }

  test("sessionize groups events by silence gap per key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val sessions = StreamErrorHandling.sessionize(
      mem.toDF().toDF("ts", "user"), "ts", "user",
      gap = "30 minutes", watermarkDelay = "2 hours")

    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // u1: two events 10 min apart (one session), then one 2h later (new
    // session); u2: a single event
    mem.addData((ts(0, 0), "u1"), (ts(0, 10), "u1"), (ts(2, 30), "u1"), (ts(1, 0), "u2"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess").as[(String, String, String, Long)].collect().toSet
    assert(rows == Set(
      ("u1", "2024-01-01 00:00:00", "2024-01-01 00:40:00", 2L),
      ("u1", "2024-01-01 02:30:00", "2024-01-01 03:00:00", 1L),
      ("u2", "2024-01-01 01:00:00", "2024-01-01 01:30:00", 1L)))
  }

  test("captureToDlq restart from checkpoint does not duplicate outputs") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-restart").toString
    val mem = MemoryStream[String]
    def start() = StreamErrorHandling.captureToDlq(
      mem.toDF().withColumnRenamed("value", "s"),
      Map("v" -> expr("cast(s as int)")), input = col("s"),
      description = "restart test",
      valuesPath = s"$tmp/values", dlqPath = s"$tmp/dlq",
      checkpointPath = s"$tmp/ckpt")

    val q1 = start()
    mem.addData("1", "2")
    q1.processAllAvailable()
    q1.stop()
    // restart against the same checkpoint; add more data
    val q2 = start()
    mem.addData("3")
    q2.processAllAvailable()
    q2.stop()
    val vals = spark.read.parquet(s"$tmp/values").select($"v").as[Int].collect().sorted
    assert(vals.toSeq == Seq(1, 2, 3)) // no batch replayed into duplicates
  }

  test("dedupStreaming drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = StreamErrorHandling.dedupStreaming(
      mem.toDF().toDF("id", "ts", "payload"), "id", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dd").outputMode("append").start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:30:00")
    // same id at a DIFFERENT timestamp is still a duplicate: state keys on id
    mem.addData((1L, t, "a"), (1L, t2, "a-later"), (2L, t, "b"))
    q.processAllAvailable()
    mem.addData((1L, t, "a-again"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dd").count() == 2) // one row per id within horizon
  }

  test("captureToDlqWithRetry: non-blocking carry-over retries across triggers") {
    implicit val sqlCtx = spark.sqlContext
    FlakyState.reset()
    spark.udf.register("graft_flaky", (s: String) => {
      val n = FlakyState.attempts
        .computeIfAbsent(s, _ => new java.util.concurrent.atomic.AtomicInteger)
        .incrementAndGet()
      if (s.startsWith("flaky") && n <= 2)
        throw new IllegalStateException(s"transient failure for $s (attempt $n)")
      if (s.startsWith("always"))
        throw new IllegalStateException(s"permanent transient-looking failure for $s")
      s.length.toLong
    })
    val mem = MemoryStream[String]
    val tmp = Files.createTempDirectory("graft-retry").toString
    val classifier = graft.core.ErrorClassifier(
      recoverablePrefixes =
        Seq("java.lang.IllegalStateException", "org.apache.spark.SparkException"),
      nonRecoverableClasses = Set("org.apache.spark.SparkNumberFormatException"))
    val q = StreamErrorHandling.captureToDlqWithRetry(
      mem.toDF().withColumnRenamed("value", "s"),
      Map("v" -> expr(
        "case when s = 'poison' then cast(concat('x', s) as bigint) else graft_flaky(s) end")),
      input = col("s"),
      description = "retry test",
      valuesPath = s"$tmp/values", dlqPath = s"$tmp/dlq",
      checkpointPath = s"$tmp/ckpt",
      classifier = classifier, maxRetries = 3, backoffMs = 0L)
    def values() = spark.read.parquet(s"$tmp/values")
      .select($"s", $"v").as[(String, Long)].collect().toMap
    def pendingCount(): Long = StreamErrorHandling
      .readPending(spark, s"$tmp/ckpt/graft-pending").map(_.count()).getOrElse(0L)
    // trigger 1: poison dead-letters immediately; flaky + always carry over
    mem.addData("good", "flaky-row", "poison", "always-fails")
    q.processAllAvailable()
    assert(pendingCount() == 2)
    // trigger 2: an UNRELATED micro-batch processes while retries are
    // pending — the old in-trigger sleep design would have blocked it
    mem.addData("tick1")
    q.processAllAvailable()
    assert(values().keySet == Set("good", "tick1"))
    assert(pendingCount() == 2)
    // trigger 3: flaky-row's 3rd attempt succeeds into values
    mem.addData("tick2")
    q.processAllAvailable()
    assert(values().keySet == Set("good", "tick1", "tick2", "flaky-row"))
    // trigger 4: always-fails exhausts its budget (initial + 3 retries)
    mem.addData("tick3")
    q.processAllAvailable()
    q.stop()
    assert(values()("flaky-row") == "flaky-row".length.toLong)
    val dlq = spark.read.parquet(s"$tmp/dlq")
      .select($"input_value", $"description").as[(String, String)].collect().toMap
    assert(dlq.keySet == Set("poison", "always-fails"))
    assert(dlq("poison") == "retry test")
    assert(dlq("always-fails") == "retry test (retries exhausted)")
    assert(StreamErrorHandling.readPending(spark, s"$tmp/ckpt/graft-pending")
      .map(_.count()).getOrElse(0L) == 0)
    // exact bounded attempt counts: flaky healed on attempt 3; always
    // was attempted 1 + maxRetries times
    assert(FlakyState.attempts.get("flaky-row").get() == 3)
    assert(FlakyState.attempts.get("always-fails").get() == 4)
  }

  test("retry store crash consistency: a replayed trigger rewrites its epoch, no duplicate retries") {
    // drive processRetryTrigger directly (the exact body foreachBatch
    // runs) with pinned batchIds and clocks: a crash between the
    // pending-store write and the checkpoint commit means the SAME
    // batchId runs twice — the second run must see the same input
    // epoch and rewrite, not re-append or double-increment
    val tmp = Files.createTempDirectory("graft-retry-replay").toString
    val pPath = s"$tmp/pending"
    val classifier = graft.core.ErrorClassifier(
      Seq("org.apache.spark.SparkNumberFormatException"), Set.empty)
    val results = Map("v" -> expr("cast(s as bigint)"))
    def trigger(rows: Seq[String], batchId: Long, now: Long): Unit = {
      // foreachBatch receives the CAPTURED stream frame; mirror that
      val captured = graft.core.ErrorFrame.captureErrors(
        rows.toDF("s"), results, input = col("s"))
      StreamErrorHandling.processRetryTrigger(
        captured.df, batchId, captured.resultNames, results, col("s"), "replay test",
        s"$tmp/values", s"$tmp/dlq", pPath, classifier,
        maxRetries = 3, backoffMs = 1000L, now = now)
    }
    def pendingState(): Seq[(String, Int)] = StreamErrorHandling
      .readPending(spark, pPath)
      .map(_.select($"s", col(StreamErrorHandling.RetryCountCol).cast("int"))
        .as[(String, Int)].collect().toSeq.sorted)
      .getOrElse(Nil)

    trigger(Seq("1", "bad"), batchId = 0L, now = 1000L)
    assert(pendingState() == Seq(("bad", 1)))
    // crash-replay of batch 0 (later wall clock): same pending state out
    trigger(Seq("1", "bad"), batchId = 0L, now = 5000L)
    assert(pendingState() == Seq(("bad", 1)), "replay re-appended or re-incremented")
    // batch 1: 'bad' is due (next_attempt 6000 <= 10000), fails again
    trigger(Seq("2"), batchId = 1L, now = 10000L)
    assert(pendingState() == Seq(("bad", 2)))
    // crash-replay of batch 1: reads epoch 0 again, rewrites epoch 1
    trigger(Seq("2"), batchId = 1L, now = 10000L)
    assert(pendingState() == Seq(("bad", 2)), "replay re-appended or re-incremented")
    // values are per-batch-dir overwrites: no duplicates across replays
    val vals = spark.read.parquet(s"$tmp/values").select($"s", $"v")
      .as[(String, Long)].collect().toSeq.sorted
    assert(vals == Seq(("1", 1L), ("2", 2L)))
    // epoch GC: batch 1's second run leaves at most epochs {0, 1}
    assert(graft.streaming.EpochStore(spark, pPath).epochs.toSet.subsetOf(Set(0L, 1L)))
  }

  test("intervalJoin matches rights within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, java.sql.Timestamp)]
    val rmem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamErrorHandling.intervalJoin(
      lmem.toDF().toDF("uid", "lts"), rmem.toDF().toDF("ruid", "rts", "tag"),
      "uid", "ruid", "lts", "rts", "2 hours", "1 hour")
    val q = joined.writeStream.format("memory").queryName("ij").outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    rmem.addData((1L, ts("2024-01-01 09:30:00"), "in-window"),
      (1L, ts("2024-01-01 07:00:00"), "too-old"))
    lmem.addData((1L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    q.stop()
    val tags = spark.table("ij").select($"tag").as[String].collect().toSeq
    assert(tags == Seq("in-window"))
  }

  test("intervalJoinOuter: unmatched lefts emit null-extended once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, java.sql.Timestamp)]
    val rmem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamErrorHandling.intervalJoinOuter(
      lmem.toDF().toDF("uid", "lts"), rmem.toDF().toDF("ruid", "rts", "tag"),
      "uid", "ruid", "lts", "rts", "1 hour", "1 hour")
    val q = joined.writeStream.format("memory").queryName("ijo")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 0: u1 has a click in-window, u2 has none
    rmem.addData((1L, ts("2024-01-01 09:30:00"), "in-window"))
    lmem.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    val phase1 = spark.table("ijo").select($"uid", $"tag")
      .as[(Long, Option[String])].collect().toSet
    // the match emits immediately; the unmatched left is still pending
    // (its horizon only closes when the watermark passes its own ts)
    assert(phase1 == Set((1L, Some("in-window"))), s"got $phase1")
    // two sentinel batches on BOTH streams (the global watermark is the
    // MIN across inputs; emission lags eviction by one batch)
    lmem.addData((90L, ts("2024-01-02 12:00:00")))
    rmem.addData((91L, ts("2024-01-02 12:00:00"), "s1"))
    q.processAllAvailable()
    lmem.addData((92L, ts("2024-01-02 18:00:00")))
    rmem.addData((93L, ts("2024-01-02 18:00:00"), "s2"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("ijo").filter($"uid" < 10L).select($"uid", $"tag")
      .as[(Long, Option[String])].collect().toSet
    assert(all == Set((1L, Some("in-window")), (2L, None)), s"got $all")
  }

  test("file-source stream: capture over parquet backfill splits values/DLQ") {
    val tmp = Files.createTempDirectory("graft-filestream").toString
    // stage a parquet "topic" directory
    Seq(("1", 1L), ("nope", 2L), ("3", 3L)).toDF("s", "seq")
      .write.parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/in")
    val q = StreamErrorHandling.captureToDlq(
      stream, Map("v" -> expr("cast(s as int)")), input = col("s"),
      description = "file backfill",
      valuesPath = s"$tmp/values", dlqPath = s"$tmp/dlq",
      checkpointPath = s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$tmp/values").select($"v").as[Int].collect().sorted.toSeq
      == Seq(1, 3))
    assert(spark.read.parquet(s"$tmp/dlq").select($"input_value").as[String].collect().toSeq
      == Seq("nope"))
  }

  test("statefulCapture keeps per-key ok/failed counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = StreamErrorHandling.statefulCapture(mem.toDS(), v => v.toLong)

    val q = out.writeStream.format("memory").queryName("sc")
      .outputMode("append").start()
    mem.addData(("k1", "10"), ("k1", "zap"), ("k2", "5"))
    q.processAllAvailable()
    mem.addData(("k1", "7"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sc")
      .as[StreamErrorHandling.StatefulOut].collect()
    val k1Last = rows.filter(r => r.key == "k1" && r.value.contains(7L)).head
    assert(k1Last.okSoFar == 2 && k1Last.failedSoFar == 1) // state survived batches
    val failed = rows.filter(_.errorClass.isDefined)
    assert(failed.length == 1 && failed.head.errorClass.get == "java.lang.NumberFormatException")
  }

  test("captureToDlqRateLimited caps stored dead letters per class, accounts the rest") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val tmp = Files.createTempDirectory("graft-stream-rl").toString

    val q = StreamErrorHandling.captureToDlqRateLimited(
      mem.toDF().withColumnRenamed("value", "s"),
      Map("v" -> expr("cast(s as int)")),
      input = col("s"),
      description = "storm test",
      valuesPath = s"$tmp/values",
      dlqPath = s"$tmp/dlq",
      accountingPath = s"$tmp/acct",
      checkpointPath = s"$tmp/ckpt",
      maxPerClass = 2)

    // trigger 1: an error storm — 5 poison rows, only 2 may be stored
    mem.addData("1", "bad_a", "bad_b", "bad_c", "bad_d", "bad_e", "2")
    q.processAllAvailable()
    // trigger 2: under the cap
    mem.addData("3", "bad_f")
    q.processAllAvailable()
    q.stop()

    val values = spark.read.parquet(s"$tmp/values").select($"v").as[Int].collect().sorted
    assert(values.toSeq == Seq(1, 2, 3), "values are never rate-limited")
    // stored DLQ: first-2 by input_value in trigger 1, the single one in trigger 2
    val dlq = spark.read.parquet(s"$tmp/dlq")
      .select($"input_value").as[String].collect().sorted
    assert(dlq.toSeq == Seq("bad_a", "bad_b", "bad_f"))
    // accounting keeps the true magnitude per trigger
    val acct = spark.read.parquet(s"$tmp/acct")
      .select($"batch_id", $"n_total", $"n_kept", $"n_suppressed")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(acct == Seq((0L, 5L, 2L, 3L), (1L, 1L, 1L, 0L)))
    // the per-trigger telemetry still reports the UNSUPPRESSED error
    // magnitude — rate limiting caps storage, never observability
    val tele = q.recentProgress.toSeq.flatMap(StreamErrorHandling.captureTelemetry)
    assert(tele.map(_._2).sum == 6, tele.toString)
  }

  test("maintainAggState: streaming folds reach the direct aggregate; replay is idempotent") {
    import graft.streaming.StreamAggState
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val tmp = Files.createTempDirectory("graft-aggstate").toString

    val q = StreamAggState.maintainAggState(
      mem.toDF().toDF("k", "x"),
      keyCols = Seq("k"), sumCols = Seq("x"),
      statePath = s"$tmp/state", checkpointPath = s"$tmp/ckpt")
    mem.addData(("a", 1L), ("b", 10L), ("a", 2L))
    q.processAllAvailable()
    mem.addData(("a", 4L), ("c", 100L))
    q.processAllAvailable()
    q.stop()

    def state(): Seq[(String, Long, Long)] =
      StreamAggState.readState(spark, s"$tmp/state").get
        .select($"k", $"n", $"sum_x").as[(String, Long, Long)]
        .collect().sortBy(_._1).toSeq
    val expected = Seq(("a", 3L, 7L), ("b", 1L, 10L), ("c", 1L, 100L))
    assert(state() == expected)

    // crash-replay: re-running the LAST trigger with the same batchId
    // and the same input must leave the state unchanged (it reads the
    // untouched epoch<N and overwrites its own epoch=N)
    StreamAggState.processTrigger(
      Seq(("a", 4L), ("c", 100L)).toDF("k", "x"), batchId = 1L,
      keyCols = Seq("k"), sumCols = Seq("x"), statePath = s"$tmp/state")
    assert(state() == expected, "replayed trigger double-counted")
  }

  test("maintainBurstEvents (ST34): episodes from the maintained store equal " +
      "batch q55 over the same corpus; replay rewrites") {
    import graft.streaming.StreamAggState
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.load(spark, sf, "events")
      .select($"user_id", $"ts").as[(Long, Long)].collect().toSeq
    val mem = MemoryStream[(Long, Long)]
    val tmp = Files.createTempDirectory("graft-burststore").toString
    val q = StreamAggState.maintainBurstEvents(
      mem.toDF().toDF("user_id", "ts"),
      statePath = s"$tmp/state", checkpointPath = s"$tmp/ckpt")
    // three triggers, arbitrary split; one event delivered TWICE
    // across triggers — the (user, ts) distinct collapses it
    val parts = rows.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    mem.addData(parts(0)); q.processAllAvailable()
    mem.addData(parts(1) :+ parts(0).head); q.processAllAvailable()
    mem.addData(parts(2)); q.processAllAvailable()
    q.stop()
    def episodes(): Set[(Long, Long, Long, Long, Long)] =
      StreamAggState.burstEpisodesFromState(spark, s"$tmp/state").get
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val got = episodes()
    val want = SparkEntry.queries("q55_bursts")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture yields no episodes — vacuous")
    assert(got == want)
    // crash replay of the last trigger: store (hence episodes) unchanged
    StreamAggState.processBurstTrigger(
      parts(2).toDF("user_id", "ts"), batchId = 2L, s"$tmp/state")
    assert(episodes() == want, "replayed burst trigger changed the store")
  }

  test("maintainCompactedLog: per-trigger merge equals one global compaction; replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-compact").toString
    val st = s"$tmp/state"
    val (keys, ord, pay) = (Seq("k"), Seq("ver", "id"), Seq("payload"))
    def trig(rows: Seq[(String, Long, Long, String)], id: Long): Unit =
      StreamAggState.processCompactTrigger(
        rows.toDF("k", "ver", "id", "payload"), id, keys, ord, pay, st)
    trig(Seq(("a", 1L, 1L, "a1"), ("a", 2L, 2L, "a2"), ("b", 1L, 3L, "b1")), 0L)
    trig(Seq(("a", 3L, 4L, "a3"), ("c", 1L, 5L, "c1")), 1L)
    def state(): Seq[(String, Long, String, Long)] =
      StreamAggState.readState(spark, st).get
        .select($"k", $"ver", $"payload", $"n_versions")
        .as[(String, Long, String, Long)].collect().sortBy(_._1).toSeq
    val expected = Seq(("a", 3L, "a3", 3L), ("b", 1L, "b1", 1L), ("c", 1L, "c1", 1L))
    assert(state() == expected)
    // crash replay of the last trigger: state unchanged, n_versions not doubled
    trig(Seq(("a", 3L, 4L, "a3"), ("c", 1L, 5L, "c1")), 1L)
    assert(state() == expected, "replayed compaction trigger double-merged")
  }

  test("maintainSlidingDistinct: maintained sketches equal batch over all history; replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-slidedd").toString
    val st = s"$tmp/state"
    // three triggers with overlapping days and repeating users
    val t0 = (for { d <- 0L to 3L; u <- 0 until 40 } yield (d, s"u${(u + d) % 55}")).toSeq
    val t1 = (for { d <- 2L to 6L; u <- 0 until 25 } yield (d, s"v${(u * 3 + d) % 41}")).toSeq
    val t2 = (for { d <- 5L to 8L; u <- 0 until 30 } yield (d, s"u${(u * 7 + d) % 55}")).toSeq
    def trig(rows: Seq[(Long, String)], id: Long): Unit =
      StreamAggState.processSlidingDistinctTrigger(
        rows.toDF("day", "uid"), id, "day", "uid", st, lgK = 12)
    trig(t0, 0L); trig(t1, 1L); trig(t2, 2L)
    def estimates(): Seq[(Long, Long)] =
      StreamAggState.readWindowEstimates(spark, st, "day", windowDays = 3).get
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // monoid contract: the maintained state's window estimates EXACTLY
    // equal the batch sketch path over all history — not approximately
    val want = operators.Pipeline.slidingDistinctSketch(
        (t0 ++ t1 ++ t2).toDF("day", "uid"), "day", "uid", windowDays = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(estimates() == want)
    // and the estimates track the exact distinct counts within HLL error
    val exact = operators.Pipeline.slidingDistinct(
        (t0 ++ t1 ++ t2).toDF("day", "uid"), "day", "uid", windowDays = 3)
      .select($"day", $"n_window").as[(Long, Long)].collect().toMap
    estimates().foreach { case (d, est) =>
      assert(math.abs(est - exact(d).toDouble) / exact(d) < 0.05, s"day $d")
    }
    // crash replay of the last trigger: state rewritten, never re-merged
    // (a double hll_union is value-idempotent — the replay contract is
    // pinned by the epoch rewrite leaving the SAME state)
    trig(t2, 2L)
    assert(estimates() == want, "replayed trigger changed the state")
  }

  test("clusterOnWrite: tail batches become immutable generations; replay never duplicates") {
    import graft.streaming.StreamAggState
    import graft.sources.Layout
    val root = Files.createTempDirectory("graft-cow").toString
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      val j = (i * 2654435761L) % 4096
      (i.toLong, (j / 256) % 16, (j / 16) % 16, j % 16)
    }.toDF("id", "x", "y", "z").repartition(2)
    def trig(lo: Int, hi: Int, id: Long): Unit =
      StreamAggState.processClusterOnWriteTrigger(mk(lo, hi), id, root,
        Seq("x", "y", "z"), numFiles = 4, minDeltaBatches = 3)
    def ids(): Set[Long] = Layout.readClustered(spark, root)
      .select($"id").as[Long].collect().toSet
    def gens(): Seq[String] = {
      val d = new java.io.File(s"$root/base")
      if (!d.exists) Nil else d.listFiles.map(_.getName).filter(_.startsWith("gen_")).sorted.toSeq
    }
    trig(0, 50, 0L); trig(50, 100, 1L)
    assert(ids() == (0L until 100L).toSet && gens().isEmpty) // tail only
    trig(100, 150, 2L) // third batch hits the threshold
    assert(ids() == (0L until 150L).toSet)
    assert(gens() == Seq("gen_0"))
    assert(Layout.consumedBatches(spark, root) ==
      Set("batch_0", "batch_1", "batch_2"))
    // crash-replayed trigger whose batch is already INSIDE a generation:
    // the ledger makes it a no-op — data must not exist twice
    trig(100, 150, 2L)
    assert(ids() == (0L until 150L).toSet, "replayed consumed batch duplicated data")
    assert(gens() == Seq("gen_0"))
    // crash between generation write and tail delete: a consumed batch
    // dir lingers in the tail; the next maintenance reclaims it WITHOUT
    // re-clustering it into a second generation
    mk(50, 100).write.mode("overwrite").parquet(s"$root/delta/batch_1")
    trig(150, 200, 3L) // one fresh batch — under threshold, stale swept
    assert(ids() == (0L until 200L).toSet, "stale consumed batch re-counted")
    assert(gens() == Seq("gen_0"))
    assert(!new java.io.File(s"$root/delta/batch_1").exists, "stale dir not swept")
  }

  test("maintainFreqSketch: maintained CMS equals batch BIT-FOR-BIT; replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-cms").toString
    val st = s"$tmp/state"
    def mk(seed: Int, n: Int): Seq[(String, Long)] = {
      val rnd = new scala.util.Random(seed)
      (1 to n).map(_ => (if (rnd.nextBoolean()) "a" else "b",
        (rnd.nextInt(50) * rnd.nextInt(50)).toLong)) // skewed values
    }
    val ts = Seq(mk(3, 400), mk(5, 300), mk(7, 500))
    def trig(rows: Seq[(String, Long)], id: Long): Unit =
      StreamAggState.processFreqTrigger(rows.toDF("g", "v"), id, "g", "v",
        st, eps = 0.001, confidence = 0.99, seed = 42)
    ts.zipWithIndex.foreach { case (r, i) => trig(r, i.toLong) }
    def state(): Map[String, (Seq[Byte], Long)] =
      StreamAggState.readState(spark, st).get
        .as[(String, Array[Byte], Long)].collect()
        .map(r => r._1 -> ((r._2.toSeq, r._3))).toMap
    val got = state()
    // counter addition is byte-exact: the maintained state EQUALS one
    // batch freqSketch over all history, blob for blob
    val want = operators.Pipeline.freqSketch(
        ts.flatten.toDF("g", "v"), "g", "v", eps = 0.001,
        confidence = 0.99, seed = 42)
      .as[(String, Array[Byte], Long)].collect()
      .map(r => r._1 -> ((r._2.toSeq, r._3))).toMap
    assert(got == want)
    // and the one-sided estimate bound holds off the live state
    val all = ts.flatten
    for (g <- Seq("a", "b"); v <- Seq(0L, 49L * 49L)) {
      val exact = all.count(r => r._1 == g && r._2 == v).toLong
      val est = operators.Pipeline.estimateFreq(got(g)._1.toArray, v)
      assert(est >= exact, s"$g/$v CMS must never undercount")
      assert(est <= exact + (0.001 * got(g)._2).ceil.toLong + 1, s"$g/$v est $est vs $exact")
    }
    // crash replay of the last trigger: identical state
    trig(ts.last, 2L)
    assert(state() == got, "replayed trigger changed the state")
  }

  test("maintainQuantileSketch: maintained sketches track exact ranks; replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-qsketch").toString
    val st = s"$tmp/state"
    val rnd = new scala.util.Random(29)
    def mk(n: Int, shift: Double): Seq[(String, Double)] =
      (1 to n).map(_ => ("a", rnd.nextDouble() * 100)) ++
        (1 to n).map(_ => ("b", shift + rnd.nextDouble() * 10))
    val ts = Seq(mk(400, 0.0), mk(300, 50.0), mk(500, 25.0))
    def trig(rows: Seq[(String, Double)], id: Long): Unit =
      StreamAggState.processQuantileTrigger(rows.toDF("g", "v"), id, "g", "v",
        relativeError = 0.01, st)
    ts.zipWithIndex.foreach { case (r, i) => trig(r, i.toLong) }
    def state(): Map[String, (Array[Byte], Long)] =
      StreamAggState.readState(spark, st).get
        .as[(String, Array[Byte], Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val s1 = state()
    val all = ts.flatten
    val probes = for (g <- Seq("a", "b"); q <- Seq(0.1, 0.5, 0.9)) yield {
      val vals = all.filter(_._1 == g).map(_._2).sorted
      assert(s1(g)._2 == vals.size.toLong)
      val est = operators.Pipeline.estimateQuantile(s1(g)._1, q)
      val rank = vals.count(_ <= est)
      // each trigger's fold is one GK merge; widen the ε bound per merge
      val tol = math.ceil(2 * ts.size * 0.01 * vals.size) + 1
      assert(math.abs(rank - q * vals.size) <= tol,
        s"$g q=$q: rank $rank of ${vals.size}")
      (g, q, est)
    }
    // crash replay of the last trigger: same counts, same estimates
    trig(ts.last, 2L)
    val s2 = state()
    assert(s2.view.mapValues(_._2).toMap == s1.view.mapValues(_._2).toMap)
    probes.foreach { case (g, q, est) =>
      assert(operators.Pipeline.estimateQuantile(s2(g)._1, q) == est)
    }
  }

  test("maintainLshDedup: per-trigger pairs equal the d6 incremental batch twin; replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-lshdedup").toString
    // 12 distinct tokens per doc (3j mod 40 cycles past j=13 only), so
    // shingles are distinct and planted copies dominate the Jaccard
    def txt(seed: Int) = (0 until 12).map(j => s"w${(seed * 7 + j * 3) % 40}").mkString(" ")
    val t0 = Seq((0L, txt(1)), (1L, txt(2)), (2L, txt(3)))
    val t1 = Seq((10L, txt(1)), (11L, txt(4))) // 10 is a copy of doc 0
    val t2 = Seq((20L, txt(4) + " extra"), (21L, txt(5))) // 20 near-copies 11
    def trig(rows: Seq[(Long, String)], id: Long): Unit =
      StreamAggState.processLshDedupTrigger(rows.toDF("doc_id", "text"), id,
        numHashes = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.5,
        s"$tmp/state", s"$tmp/pairs")
    trig(t0, 0L); trig(t1, 1L); trig(t2, 2L)
    def pairsOf(id: Long): Set[(Long, Long, Double)] =
      spark.read.parquet(s"$tmp/pairs/batch_id=$id")
        .select($"da", $"db", $"jaccard").as[(Long, Long, Double)]
        .collect().toSet
    def twin(corpus: Seq[(Long, String)],
        batch: Seq[(Long, String)]): Set[(Long, Long, Double)] =
      graft.operators.Dedup.minHashLshIncremental(
          corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"),
          numHashes = 16, rowsPerBand = 4, threshold = 0.5, shingleSize = 3)
        .as[(Long, Long, Double)].collect().toSet
    assert(pairsOf(0L).isEmpty) // no corpus yet — d6 semantics
    assert(pairsOf(1L) == twin(t0, t1))
    assert(pairsOf(2L) == twin(t0 ++ t1, t2))
    assert(pairsOf(1L).map(p => (p._1, p._2)) == Set((0L, 10L)),
      "the planted exact copy must surface against the maintained index")
    assert(pairsOf(2L).map(p => (p._1, p._2)).contains((11L, 20L)),
      "the planted near-copy must surface against the maintained index")
    // crash-replay of the last trigger: pairs and both state stores
    // unchanged (the generic StoreReplayPropertySpec member proves this
    // for every replay point; this is the readable worked example)
    def snap() = (pairsOf(2L),
      StreamAggState.readState(spark, s"$tmp/state/bands").get.count(),
      StreamAggState.readState(spark, s"$tmp/state/docs").get.count())
    val before = snap()
    trig(t2, 2L)
    assert(snap() == before, "replayed trigger re-appended")
  }

  test("maintainKnnGraph: per-trigger graph EQUALS the batch s13 knnGraph " +
      "twin on the corpus-so-far; replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-knn").toString
    def emb(id: Long): Seq[Float] =
      (0 until 8).map(d => (((id * 37 + d * 11) % 17).toFloat - 8f) / 4f)
    def rows(ids: Seq[Long]): Seq[(Long, Seq[Float], Int)] =
      ids.map(id => (id, emb(id), (id % 3).toInt))
    val t0 = rows(Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val t1 = rows(Seq(10L, 11L, 12L))
    val t2 = rows(Seq(20L, 21L))
    def trig(rs: Seq[(Long, Seq[Float], Int)], id: Long): Unit =
      StreamAggState.processKnnGraphTrigger(
        rs.toDF("vec_id", "embedding", "label"), id, g = 2, rounds = 2,
        bridges = 1, s"$tmp/state", s"$tmp/graph")
    trig(t0, 0L); trig(t1, 1L); trig(t2, 2L)
    def got(id: Long): Set[(Long, Long, Double)] =
      spark.read.parquet(s"$tmp/graph/batch_id=$id")
        .select($"src", $"dst", $"cosine").as[(Long, Long, Double)]
        .collect().toSet
    def twin(corpus: Seq[(Long, Seq[Float], Int)]): Set[(Long, Long, Double)] =
      graft.operators.Similarity.knnGraph(
          corpus.toDF("vec_id", "embedding", "label"), g = 2, rounds = 2,
          bridges = 1)
        .select($"src", $"dst", $"cosine").as[(Long, Long, Double)]
        .collect().toSet
    // EXACT set equality, doubles included: the maintained within-cell
    // top-g is a sufficient statistic (topG(W ∪ new) = topG(all)) and
    // both sides score through the identical pinned expressions
    assert(got(0L) == twin(t0))
    assert(got(1L) == twin(t0 ++ t1))
    assert(got(2L) == twin(t0 ++ t1 ++ t2))
    // every vertex of the corpus-so-far carries edges in the final graph
    assert(got(2L).map(_._1) == (t0 ++ t1 ++ t2).map(_._1).toSet)
    // crash-replay of the last trigger: graph and both state stores
    // unchanged (the generic StoreReplayPropertySpec member proves all
    // replay points; this is the readable worked example)
    def snap() = (got(2L),
      StreamAggState.readState(spark, s"$tmp/state/vectors").get.count(),
      StreamAggState.readState(spark, s"$tmp/state/within").get.count())
    val before = snap()
    trig(t2, 2L)
    assert(snap() == before, "replayed trigger re-appended")
  }

  test("maintainScd2: incremental versions equal one batch scd2 over all history; replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-scd2").toString
    val st = s"$tmp/state"
    val t0 = Seq((1L, "A", 10L, 1L), (1L, "A", 20L, 2L), (1L, "B", 30L, 3L),
      (2L, "A", 10L, 4L))
    val t1 = Seq((1L, "B", 40L, 5L), (1L, "A", 50L, 6L), (2L, "A", 60L, 7L),
      (3L, "C", 5L, 8L))
    def trig(rows: Seq[(Long, String, Long, Long)], id: Long): Unit =
      StreamAggState.processScd2Trigger(rows.toDF("k", "v", "ts", "tie"), id,
        Seq("k"), Seq("v"), "ts", "tie", st)
    trig(t0, 0L); trig(t1, 1L)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"version", $"v", $"effective_from", $"effective_to",
          $"is_current")
        .as[(Long, Int, String, Long, Option[Long], Boolean)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = snap(graft.operators.Pipeline.scd2(
      (t0 ++ t1).toDF("k", "v", "ts", "tie"), Seq("k"), Seq("v"), "ts", "tie"))
    assert(snap(StreamAggState.readState(spark, st).get) == expected)
    // k1 history: A[10,30) B[30,50) A[50,∞) -- the trigger-1 B continued
    // the open B version across the trigger boundary
    assert(expected.filter(_._1 == 1L).map(r => (r._3, r._4)) ==
      Seq(("A", 10L), ("B", 30L), ("A", 50L)))
    // crash replay of trigger 1: state rewritten, not re-extended
    trig(t1, 1L)
    assert(snap(StreamAggState.readState(spark, st).get) == expected,
      "replayed scd2 trigger duplicated versions")
  }

  test("enrichWithPendingRetry: dim-lagging facts retry and enrich late; exhausted rows land loudly") {
    import graft.streaming.StreamErrorHandling
    val tmp = Files.createTempDirectory("graft-enrich-retry").toString
    val (dimp, vals, pend) = (s"$tmp/dim", s"$tmp/values", s"$tmp/pending")
    def trig(rows: Seq[(Long, Long)], id: Long): Unit =
      StreamErrorHandling.processEnrichRetryTrigger(
        rows.toDF("user_id", "amount"), id, dimp, Seq("user_id"),
        maxAttempts = 2, vals, pend)

    // dim v1 knows only user 1
    Seq((1L, "gold")).toDF("user_id", "tier").write.mode("overwrite").parquet(dimp)
    trig(Seq((1L, 10L), (2L, 20L), (3L, 30L)), 0L) // users 2,3 pending
    // dim republished: user 2 appears; user 3 still unknown
    Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimp)
    trig(Seq((1L, 11L)), 1L) // user 2 retries and enriches; user 3 exhausts
    trig(Seq.empty, 2L)

    val enriched = spark.read.parquet(vals)
      .select($"user_id", $"amount", $"tier", $"attempts")
      .as[(Long, Long, Option[String], Int)].collect().toSet
    // user 2 enriched on its SECOND attempt with the republished dim;
    // user 3 exhausted after 2 attempts, null-enriched but visible
    assert(enriched == Set(
      (1L, 10L, Some("gold"), 0), (1L, 11L, Some("gold"), 0),
      (2L, 20L, Some("silver"), 1),
      (3L, 30L, None, 2)))
    // nothing left pending
    assert(StreamErrorHandling.readPending(spark, pend).get.count() == 0)
  }

  test("late-data quarantine: engine-late rows preserved with lateness; replay rewrites") {
    import graft.streaming.StreamErrorHandling
    val tmp = Files.createTempDirectory("graft-late").toString
    val (vals, late, st) = (s"$tmp/values", s"$tmp/late", s"$tmp/state")
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    def trig(rows: Seq[(Long, Long)], id: Long): Unit =
      StreamErrorHandling.processLateQuarantineTrigger(
        rows.map { case (i, sec) => (i, ts(sec)) }.toDF("id", "ets"),
        id, "ets", delayMs = 10_000L, vals, late, st)
    // trigger 0: no prior watermark -> nothing can be late
    trig(Seq((1L, 100L), (2L, 200L)), 0L) // wm becomes 200s - 10s = 190s
    // trigger 1: 150s is BEHIND the 190s watermark -> quarantined, 40s late
    trig(Seq((3L, 150L), (4L, 210L)), 1L)
    val values = spark.read.parquet(vals).select($"id").as[Long].collect().sorted
    assert(values.toSeq == Seq(1L, 2L, 4L))
    val quarantined = spark.read.parquet(late)
      .select($"id", $"lateness_ms").as[(Long, Long)].collect()
    assert(quarantined.toSeq == Seq((3L, 40_000L)))
    // crash replay of trigger 1: same split, no duplicates, state intact
    trig(Seq((3L, 150L), (4L, 210L)), 1L)
    assert(spark.read.parquet(vals).count() == 3)
    assert(spark.read.parquet(late).count() == 1)
    // trigger 2 still judges against wm = 210s - 10s = 200s
    trig(Seq((5L, 199L)), 2L)
    assert(spark.read.parquet(late).count() == 2)
  }

  test("late-data quarantine: an observation that never completes fails the wait, bounded") {
    import scala.concurrent.duration._
    // a listener bus that drops the execution-end event leaves the
    // trigger's observation like this one: registered, never completed
    val never = org.apache.spark.sql.Observation("late-max-never-observed")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](StreamErrorHandling.awaitObserved(never, 300.millis))
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(e.getMessage.contains("late-max-never-observed"))
    assert(e.getCause.isInstanceOf[java.util.concurrent.TimeoutException])
    assert(waitedMs >= 300 && waitedMs < 30_000)
  }

  test("bloom streaming dedup: duplicates dropped past any horizon; replay rewrites") {
    import graft.streaming.StreamErrorHandling
    val tmp = Files.createTempDirectory("graft-bloomdedup").toString
    val (vals, st) = (s"$tmp/values", s"$tmp/state")
    def trig(keys: Seq[String], id: Long): Unit =
      StreamErrorHandling.processBloomDedupTrigger(
        keys.map(k => (k, s"payload-$k")).toDF("k", "p"), id,
        "k", expectedItems = 1000, fpp = 0.01, vals, st)
    def values(): Seq[String] =
      spark.read.parquet(vals).select($"k").as[String].collect().sorted.toSeq
    trig(Seq("a", "b", "c", "a"), 0L) // in-trigger dup removed exactly
    trig(Seq("b", "c", "d"), 1L)      // b,c are cross-trigger dups
    // crash replay of trigger 1 (a crash replays the latest trigger,
    // before the next one starts): values rewritten, state not corrupted
    trig(Seq("b", "c", "d"), 1L)
    assert(values() == Seq("a", "b", "c", "d"))
    trig(Seq("a", "d", "e"), 2L)      // a returns far past any watermark
    // no false negatives: every true duplicate dropped, each key once
    assert(values() == Seq("a", "b", "c", "d", "e"))
    // and the post-replay state still rejects everything seen so far
    trig(Seq("a", "b", "c", "d", "e"), 3L)
    assert(values() == Seq("a", "b", "c", "d", "e"))
  }

  test("CDC emission: per-trigger after-images replay to the final state; replay rewrites") {
    import graft.streaming.StreamAggState
    import org.apache.spark.sql.expressions.Window
    val tmp = Files.createTempDirectory("graft-cdc").toString
    val (st, cdc) = (s"$tmp/state", s"$tmp/cdc")
    val (keys, ord, pay) = (Seq("k"), Seq("ver", "id"), Seq("payload"))
    def trig(rows: Seq[(String, Long, Long, String)], id: Long): Unit =
      StreamAggState.processCdcTrigger(
        rows.toDF("k", "ver", "id", "payload"), id, keys, ord, pay, st, cdc)
    trig(Seq(("a", 1L, 1L, "a1"), ("a", 2L, 2L, "a2"), ("b", 1L, 3L, "b1")), 0L)
    trig(Seq(("a", 3L, 4L, "a3"), ("c", 1L, 5L, "c1")), 1L)

    val log = spark.read.parquet(cdc)
      .select($"epoch".cast("long"), $"k", $"ver", $"payload", $"n_versions", $"op")
      .as[(Long, String, Long, String, Long, String)].collect()
    // trigger 0: both keys are inserts; trigger 1: a updated, c inserted,
    // UNTOUCHED b emits nothing
    assert(log.filter(_._1 == 0L).map(r => (r._2, r._6)).sorted.toSeq ==
      Seq(("a", "insert"), ("b", "insert")))
    assert(log.filter(_._1 == 1L).map(r => (r._2, r._6)).sorted.toSeq ==
      Seq(("a", "update"), ("c", "insert")))
    // after-image fixed point: latest epoch mentioning a key IS the state
    val latest = log.groupBy(_._2).map { case (_, rs) =>
      val r = rs.maxBy(_._1); (r._2, r._3, r._4, r._5)
    }.toSeq.sortBy(_._1)
    val state = StreamAggState.readState(spark, st).get
      .select($"k", $"ver", $"payload", $"n_versions")
      .as[(String, Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(latest == state)
    assert(state == Seq(("a", 3L, "a3", 3L), ("b", 1L, "b1", 1L), ("c", 1L, "c1", 1L)))
    // crash replay of trigger 1: both stores rewritten, not re-appended
    trig(Seq(("a", 3L, 4L, "a3"), ("c", 1L, 5L, "c1")), 1L)
    assert(spark.read.parquet(cdc).count() == log.length)
    assert(StreamAggState.readState(spark, st).get
      .select($"k", $"ver", $"payload", $"n_versions")
      .as[(String, Long, String, Long)].collect().sortBy(_._1).toSeq == state)
  }

  test("detectAnomalies: prior-state z-verdicts, visible warmup, replay rewrites") {
    import graft.streaming.StreamAggState
    val tmp = Files.createTempDirectory("graft-anomaly").toString
    val st = s"$tmp/state"
    val outp = s"$tmp/out"
    def trig(rows: Seq[(String, Double)], id: Long): Unit =
      StreamAggState.processAnomalyTrigger(rows.toDF("k", "v"), id,
        keyCols = Seq("k"), valueCol = "v", k = 2, minPrior = 4,
        statePath = st, outPath = outp)
    // trigger 0: no prior state -> every row is a visible warmup row
    trig(Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", 1.0)), 0L)
    val e0 = spark.read.parquet(s"$outp/epoch=0")
    assert(e0.count() == 5 && e0.filter($"flag").count() == 0)
    // trigger 1: key a has prior n=4, mu=2.5, sigma^2=1.25 -> k^2 sigma^2 = 5;
    // (10-2.5)^2 = 56.25 flags, (3-2.5)^2 = 0.25 doesn't; key b is still
    // under minPrior (n_prior=1) -> false, never null
    trig(Seq(("a", 10.0), ("a", 3.0), ("b", 100.0)), 1L)
    def verdicts(): Seq[(String, Double, Long, Boolean)] =
      spark.read.parquet(s"$outp/epoch=1")
        .select($"k", $"v", $"n_prior", $"flag")
        .as[(String, Double, Long, Boolean)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    val v1 = verdicts()
    assert(v1 == Seq(("a", 3.0, 4L, false), ("a", 10.0, 4L, true),
      ("b", 100.0, 1L, false)))
    // crash replay of trigger 1: same verdicts, same state, nothing doubled
    trig(Seq(("a", 10.0), ("a", 3.0), ("b", 100.0)), 1L)
    assert(verdicts() == v1, "replayed trigger changed verdicts")
    val a = StreamAggState.readState(spark, st).get.filter($"k" === "a")
      .select($"n", $"sum___v".cast("double"))
      .as[(Long, Double)].collect().toSeq
    assert(a == Seq((6L, 23.0)), "replayed trigger double-counted state")
  }

  test("ST22 detectIdleKeys: alert only after the quiet period, exactly once, key re-arms") {
    implicit val sqlCtx = spark.sqlContext
    import StreamErrorHandling.IdleKeyAlert
    val mem = MemoryStream[(Long, Long)] // (key, event-time ms)
    val ev = mem.toDF().toDF("key", "tms")
      .withColumn("ets", timestamp_millis($"tms"))
    val out = StreamErrorHandling.detectIdleKeys(ev, "key", "ets",
      quietMs = 10000L, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("idlekeys")
      .outputMode("append").start()
    def got: Set[(Long, Long, Long, Long)] =
      spark.table("idlekeys").as[IdleKeyAlert].collect()
        .map(a => (a.key, a.first_seen_ms, a.last_seen_ms, a.n_events)).toSet
    def feed(rows: (Long, Long)*): Unit = {
      mem.addData(rows.toSeq); q.processAllAvailable()
    }
    // key 1 active to t=5s, key 2 to t=14s; quiet = 10s. Each feed's
    // processAllAvailable includes the trailing no-data micro-batch, so
    // the watermark reaches the feed's max event time - delay (0s)
    // before the next assertion.
    feed((1L, 1000L), (1L, 5000L), (2L, 1000L)) // wm 5s — deadlines 15s/11s
    assert(got.isEmpty, "fired before any quiet period elapsed")
    feed((2L, 14000L))        // wm 14s < key1's 15s deadline — still quiet
    assert(got.isEmpty, "fired exactly at the boundary, not past it")
    feed((9L, 16000L))        // wm 16s > 15s: key 1 fires with its summary
    assert(got === Set((1L, 1000L, 5000L, 2L)))
    feed((9L, 30000L))        // wm 30s > key2's 24s deadline: key 2 fires
    assert(got === Set((1L, 1000L, 5000L, 2L), (2L, 1000L, 14000L, 2L)))
    // key 1 re-arms: new activity after its alert opens a fresh cycle
    feed((1L, 60000L))        // wm 60s > key9's 40s deadline: key 9 fires
    assert(got.contains((9L, 16000L, 30000L, 2L)))
    feed((99L, 100000L))      // wm 100s > key1's 70s: second key-1 alert
    assert(got.contains((1L, 60000L, 60000L, 1L)),
      s"key did not re-arm after its alert: $got")
    // exactly once per quiet cycle — no duplicates anywhere
    val all = spark.table("idlekeys").as[IdleKeyAlert].collect()
    assert(all.length === all.distinct.length)
    q.stop()
  }

  test("interval join telemetry: late-input drops and state eviction are observable") {
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, java.sql.Timestamp)]
    val rmem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val joined = StreamErrorHandling.intervalJoin(
      lmem.toDF().toDF("k", "lts"), rmem.toDF().toDF("k2", "rts"),
      "k", "k2", "lts", "rts", "10 seconds", "30 seconds")
    val q = joined.writeStream.format("memory").queryName("ij_tele")
      .outputMode("append").start()
    // trigger 1: on-time rows both sides
    lmem.addData((1L, ts(10))); rmem.addData((1L, ts(10))); q.processAllAvailable()
    // trigger 2: advance both watermarks far past trigger 1's state
    lmem.addData((2L, ts(40))); rmem.addData((2L, ts(40))); q.processAllAvailable()
    // trigger 3: a LEFT row 40 min below the watermark — the join
    // operator drops it invisibly; the counters must not
    lmem.addData((9L, ts(0))); q.processAllAvailable()
    // one more trigger so lingering state eviction lands
    lmem.addData((3L, ts(55))); rmem.addData((3L, ts(55))); q.processAllAvailable()
    q.stop()
    val tele = q.recentProgress.toSeq
      .flatMap(StreamErrorHandling.intervalJoinTelemetry)
    assert(tele.nonEmpty, "join telemetry must appear in progress events")
    assert(tele.map(_.leftRows).sum === 4L)
    assert(tele.map(_.rightRows).sum === 3L)
    // the trigger that saw the late row reports it on the left observe
    // with its (old) event time — attribution, not just a global count
    val lateTrig = tele.filter(t => t.leftRows === 1L && t.rightRows === 0L)
    assert(lateTrig.exists(_.leftMinTsMs === Some(ts(0).getTime)))
    assert(tele.map(_.droppedByWatermark).sum >= 1L,
      s"late-input drop must be visible: $tele")
    assert(tele.map(_.evictedFromState).sum >= 1L,
      s"state eviction must be visible: $tele")
  }
}
