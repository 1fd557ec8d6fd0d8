package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.core.ErrorFrame
import graft.streaming.{StreamAggState, StreamErrorHandling}

/** Open-loop streaming DLQ: a single generator thread drops JSON event
  * files on a fixed schedule while two queries run side by side over the
  * directory — `captureToDlq` (values + dead letters per micro-batch)
  * and `maintainAggState` (per-user sums over the captured values).
  * An event's latency runs from when its file was due to the commit of
  * the captureToDlq micro-batch that holds it.
  */
object StreamDlq {
  val Rate = 2500 // events per second offered
  val FileMs = 2000 // one file every FileMs
  val Users = 20000L
  val PoisonBp = 200
  /** Warm-up (set-up) before the measured window: a tenth of the rate
    * until each query committed this many (cold) micro-batches. Then
    * the full rate runs for FullRateLeadMs before the window opens, so
    * that the window does not hold the first micro-batches at that rate.
    */
  val WarmTriggers = 2
  val MaxWarmupMs = 60000L
  val FullRateLeadMs = 4000L
  /** A run whose generator ran later than this is invalid. */
  val MaxLagMs = 1000.0

  val Schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, " +
    "props STRING, created_ms BIGINT"

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** What the generator wrote, for the output checks. */
  final class Truth {
    var events = 0L
    var clean = 0L
    var sumK = 0L
    var sumScore = 0L
    val planted = mutable.ArrayBuffer.empty[(Long, String)]
  }

  /** Writes a file every [[FileMs]] from `t0` until stopped: a tenth of
    * `perFile` events before `full` (the warm-up), then `perFile`. Each
    * event carries the time its file was due.
    */
  final class Generator(seed: Long, perFile: Int, staging: String, target: String, t0: Long)
      extends Thread("perfbench-generator") {
    setDaemon(true)
    @volatile var stopAt = Long.MaxValue
    @volatile var full = Long.MaxValue
    val truth = new Truth
    /** (due ms, lag ms, events) per file. */
    val files = mutable.ArrayBuffer.empty[(Long, Double, Int)]

    override def run(): Unit = {
      var j = 0L
      var id = 0L
      while (t0 + j * FileMs < stopAt) {
        val due = t0 + j * FileMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val sb = new StringBuilder
        val n = if (due < full) perFile / 10 else perFile
        (0 until n).foreach { _ =>
          val r = mix(seed * 1000003L + id)
          val poison = java.lang.Long.remainderUnsigned(r, 10000) < PoisonBp
          val kind = if (!poison) null else if ((mix(r) & 1) == 0) "cast" else "div"
          val base = java.lang.Long.remainderUnsigned(mix(r + 1), 1000) * 7
          val k = if (kind == "div") base else base + 1 + java.lang.Long.remainderUnsigned(mix(r + 2), 6)
          val value = java.lang.Long.remainderUnsigned(mix(r + 3), 100000) / 100.0
          val props = if (kind == "cast") s"""{\\"k\\": \\"x$id\\"}""" else s"""{\\"k\\": $k}"""
          sb.append(s"""{"event_id":$id,"user_id":${java.lang.Long.remainderUnsigned(mix(r + 4), Users)},""")
            .append(s""""event_type":"${if ((r & 8) == 0) "click" else "view"}","value":$value,""")
            .append(s""""props":"$props","created_ms":$due}""").append('\n')
          truth.events += 1
          if (kind == null) {
            truth.clean += 1; truth.sumK += k; truth.sumScore += (value * 100).toLong / (k % 7)
          } else truth.planted += ((id, kind))
          id += 1
        }
        val tmp = Paths.get(staging, s"events-$j.json")
        Files.write(tmp, sb.toString.getBytes("UTF-8"))
        Files.move(tmp, Paths.get(target, s"events-$j.json"), StandardCopyOption.ATOMIC_MOVE)
        files += ((due, (System.currentTimeMillis() - due).toDouble, n))
        j += 1
      }
    }
  }

  /** Progress of every trigger, kept for measurement (not tracing). */
  final class Progresses extends StreamingQueryListener {
    private val all = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { all += e.progress }
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] = synchronized(all.filter(_.id == q.id).toList)
  }

  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val perFile = Rate * FileMs / 1000
    val Seq(src, staging, values, dlq, state, ck1, ck2) =
      Seq("stream-in", "stream-staging", "values", "dlq", "state", "ck-dlq", "ck-agg").map(ctx.dir)
    Seq(src, staging).foreach(d => Files.createDirectories(Paths.get(d)))
    val progress = new Progresses
    spark.streams.addListener(progress)

    val setup0 = System.currentTimeMillis()
    val input = spark.readStream.schema(Schema).json(src)
    val inputJson = to_json(struct(input.columns.map(col).toSeq: _*))
    val q1 = StreamErrorHandling.captureToDlq(input, Dlq.results, inputJson,
      Dlq.Description, values, dlq, ck1)
    val captured = ErrorFrame.captureErrors(input, Dlq.results, inputJson, stackTraces = false)
    val q2 = StreamAggState.maintainAggState(captured.values, Seq("user_id"),
      Seq("k_num", "score"), state, ck2)
    val t0 = System.currentTimeMillis() + 200
    val gen = new Generator(ctx.seed, perFile, staging, src, t0)
    gen.start()
    // warm-up at a tenth of the rate until each query has committed
    // WarmTriggers micro-batches with data; the measured (untraced)
    // window starts FullRateLeadMs after the first file at the full rate
    // and, when tracing, a traced window of the same length follows it
    val warmBy = System.currentTimeMillis() + MaxWarmupMs
    def warmed(q: StreamingQuery) = progress.of(q).count(_.numInputRows > 0) >= WarmTriggers
    while (!(warmed(q1) && warmed(q2)) && System.currentTimeMillis() < warmBy) Thread.sleep(50)
    gen.full = System.currentTimeMillis()
    r.e2e("setup_s", ctx.sessionS + (gen.full - setup0) / 1000.0, "s")
    val w0 = t0 + (gen.full - t0 + FileMs - 1) / FileMs * FileMs + FullRateLeadMs
    val w1 = w0 + (ctx.seconds * 1000).toLong
    val w2 = if (ctx.trace) w1 + (ctx.seconds * 1000).toLong else w1
    sleepUntil(w1)
    if (ctx.trace) {
      ctx.tracer.start()
      ctx.tracer.span("pass", "stream traced window")(sleepUntil(w2))
    }
    gen.stopAt = System.currentTimeMillis()
    gen.join()
    val drained = try {
      q1.processAllAvailable(); q2.processAllAvailable(); true
    } catch {
      case e: Exception =>
        r.fail(s"a streaming query failed: ${e.getClass.getName}: ${e.getMessage}"); false
    }
    q1.stop(); q2.stop()
    val drainS = (System.currentTimeMillis() - gen.stopAt) / 1000.0
    spark.streams.removeListener(progress)
    val heap = Main.liveHeapMb()
    if (!drained) { r.outcome(ok = false); return }
    if (ctx.fault == "double_batch") duplicateBatch(values)

    // measured window: triggers of the capture query that committed in it
    // with at least a file of the full rate
    val p1 = progress.of(q1).sortBy(_.batchId)
    def inWindow(a: Long, b: Long) = p1.filter { p =>
      val c = commitMs(p); c >= a && c < b && p.numInputRows >= perFile }
    val win = inWindow(w0, w1)
    val commits = p1.map(p => p.batchId -> commitMs(p)).toMap
    val lat = latencies(ctx, values, dlq, commits, w0, w1)
    if (win.isEmpty || lat.isEmpty) { r.fail("no micro-batch committed in the window"); r.outcome(false); return }
    r.e2e("pass_s", Stats.median(win.map(_.durationMs.get("triggerExecution").doubleValue / 1000)), "s")
    // events committed after the window's first commit, per second up to its last
    val span = (commitMs(win.last) - commitMs(win.head)) / 1000.0
    r.e2e("records_per_s", if (win.size < 2) 0.0 else win.tail.map(_.numInputRows).sum / span, "records/s")
    r.e2e("event_latency_p50_ms", Stats.median(lat.map(_._1)), "ms")
    val (tp, tv) = batchTail(lat)
    r.e2e("event_latency_tail_ms", tv, "ms")
    r.e2e("live_heap_mb", heap, "MiB")
    r.info += f"event_latency_tail_ms is p$tp%.1f over ${lat.size} events in ${lat.map(_._2).distinct.size} " +
      f"micro-batches; offered $Rate events/s " +
      s"in files of $perFile every $FileMs ms"
    r.info += s"window triggers (batch: ms): " + win.map(p =>
      s"${p.batchId}: ${p.durationMs.get("triggerExecution")}").mkString(", ")
    val lag = gen.files.filter { case (due, _, _) => due >= w0 && due < w2 }.map(_._2)
    val maxLag = if (lag.isEmpty) 0.0 else lag.max
    if (maxLag > MaxLagMs)
      r.fail(f"invalid run: the generator ran $maxLag%.0f ms late (bound $MaxLagMs%.0f ms)")

    val (failures, checkS) = Main.time(check(ctx, gen.truth, values, dlq, state))
    r.info += f"set-up: session ${ctx.sessionS}%.1f s, warm-up ${(gen.full - setup0) / 1000.0}%.1f s; " +
      f"after the window: draining $drainS%.1f s, checks $checkS%.1f s"
    failures.foreach(r.fail)
    // a failed check cannot be pinned on one micro-batch: count one each
    win.indices.foreach(i => r.outcome(ok = i >= failures.size))

    if (ctx.trace) {
      val tw = inWindow(w1, w2)
      def p50(k: String, ps: Seq[StreamingQueryProgress]) =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch", "query_planning" -> "queryPlanning",
        "wal_commit" -> "walCommit", "latest_offset" -> "latestOffset")
        .foreach { case (n, k) => r.per(s"streaming.${n}_p50_ms", p50(k, win), "ms") }
      val agg = progress.of(q2).filter { p =>
        val c = commitMs(p); c >= w0 && c < w1 && p.numInputRows >= perFile }
      r.per("streaming.agg_trigger_p50_ms", p50("triggerExecution", agg), "ms")
      r.per("streaming.triggers", win.size, "count")
      r.per("streaming.rows_per_trigger", Stats.median(win.map(_.numInputRows.toDouble)), "count")
      val epochs = Option(Paths.get(state).toFile.list()).getOrElse(Array.empty[String])
        .count(_.startsWith("epoch="))
      r.per("streaming.state_epochs", epochs, "count")
      r.per("streaming.state_bytes", Main.sizeOf(state)._1, "bytes")
      // at each commit in the window: events due by then minus events
      // committed, in files of the full rate
      var consumed = 0L
      val backlog = p1.map { p =>
        consumed += p.numInputRows
        (commitMs(p), gen.files.filter(_._1 <= commitMs(p)).map(_._3.toLong).sum - consumed)
      }.collect { case (c, b) if c >= w0 && c < w1 => b }
      r.per("streaming.backlog_files_max",
        if (backlog.isEmpty) 0 else math.ceil(backlog.max.toDouble / perFile), "count")
      r.per("generator.lag_ms", maxLag, "ms")
      val window = ctx.tracer.last("stream traced window")
      Main.reportEngine(r, ctx.tracer.engine(window)(j => j.start >= window.start && j.start < window.end))
      r.per("trace.overhead_ratio",
        if (tw.isEmpty) 0.0 else p50("triggerExecution", tw) / p50("triggerExecution", win), "ratio")
    }
  }

  private def sleepUntil(t: Long): Unit = {
    val d = t - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  /** (latency ms, batch id) of every event due in [w0, w1): the commit of
    * its batch minus its due time.
    */
  private def latencies(ctx: Ctx, values: String, dlq: String, commits: Map[Long, Long],
      w0: Long, w1: Long): Seq[(Double, Long)] = {
    val spark = ctx.spark
    val v = spark.read.parquet(values).select(col("created_ms"), col("batch_id"))
    val d = spark.read.parquet(dlq).select(
      get_json_object(col("input_value"), "$.created_ms").cast("long").as("created_ms"), col("batch_id"))
    v.unionByName(d).filter(col("created_ms") >= w0 && col("created_ms") < w1)
      .groupBy("batch_id", "created_ms").count().collect().toSeq.flatMap { row =>
        val b = row.getAs[Number]("batch_id").longValue
        val c = commits.getOrElse(b, Long.MaxValue)
        Seq.fill(row.getLong(2).toInt)(((c - row.getLong(1)).toDouble, b))
      }
  }

  /** [[Stats.tail]] where a sample is a micro-batch: events of one batch
    * share its commit, so the highest percentile kept is one whose
    * beyond-set spans at least ten micro-batches. (percentile, value).
    */
  def batchTail(lat: Seq[(Double, Long)]): (Double, Double) = {
    val sorted = lat.sortBy(_._1).toArray
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find { p =>
      val at = math.max(0, math.ceil(p / 100 * sorted.length).toInt - 1)
      sorted.drop(at + 1).map(_._2).distinct.length >= 10
    }.map(p => (p, Stats.percentile(sorted.map(_._1), p)))
      .getOrElse((100.0, sorted.last._1))
  }

  /** Exactly-once delivery, planted letters, value checksum, and the
    * final aggregate state against a batch recompute over the values.
    */
  def check(ctx: Ctx, truth: Truth, values: String, dlq: String, state: String): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val failures = mutable.ArrayBuffer.empty[String]
    def expect(what: String, bad: Long): Unit = if (bad != 0) failures += s"$what: $bad rows wrong"
    val v = spark.read.parquet(values)
    val letters = spark.read.parquet(dlq).select(
      get_json_object(col("input_value"), "$.event_id").cast("long").as("id"),
      col("cause.error_class").as("error_class"))
    val events = truth.events
    val noHash = lit(null).cast("long").as("h")
    val t = v.select(lit(0).as("pass"), col("event_id").as("id"), noHash)
      .unionByName(letters.select(lit(0).as("pass"), col("id"), noHash))
      .queryExecution.toRdd.mapPartitions(it => Iterator(IdTally.of(events, it))).reduce(IdTally.merge)
      .getOrElse(0, IdTally.empty(events))
    expect("values + letters vs generated ids, exactly once",
      events - t.seen.cardinality + t.foreign + t.repeated)
    // the letters are the few planted events: compare them here
    val got = letters.as[(Option[Long], Option[String])].collect().toSeq
    val planted = truth.planted.toMap
    val gotIds = got.flatMap(_._1)
    expect("letters vs planted ids", got.count(l => !l._1.exists(planted.contains)) +
      planted.keySet.diff(gotIds.toSet).size + gotIds.size - gotIds.distinct.size)
    expect("letter classes", got.count { case (id, c) =>
      id.flatMap(planted.get).exists(kind => !c.contains(Dlq.ExpectedClass(kind))) })
    val act = v.agg(count(lit(1)), sum("k_num"), sum("score")).head
    val exp = (truth.clean, truth.sumK, truth.sumScore)
    if ((act.getLong(0), act.getLong(1), act.getLong(2)) != exp)
      failures += s"values checksum: expected $exp, got $act"
    StreamAggState.readState(spark, state) match {
      case None => failures += "no aggregate state was written"
      case Some(st) =>
        val recompute = v.groupBy("user_id").agg(count(lit(1)).cast("long").as("n"),
          sum("k_num").as("sum_k_num"), sum("score").as("sum_score"))
        val s = st.select("user_id", "n", "sum_k_num", "sum_score")
        expect("final state vs batch recompute", s.exceptAll(recompute).count() + recompute.exceptAll(s).count())
    }
    failures.toSeq
  }

  /** Planted fault for the benchmark's own tests: one batch delivered twice. */
  private def duplicateBatch(values: String): Unit = {
    val batch = Paths.get(values).toFile.listFiles().filter(_.getName.startsWith("batch_id="))
      .find(_.listFiles().exists(_.getName.endsWith(".parquet"))).get
    val copy = Paths.get(values, "batch_id=999999")
    Files.createDirectories(copy)
    batch.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, copy.resolve(f.getName)))
  }
}
