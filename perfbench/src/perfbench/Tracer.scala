package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `pass` is shared by every span of one pass (or
  * of the whole streaming run); `parent` is the id of the span that
  * caused this one. Times are epoch milliseconds.
  */
final case class Span(id: String, parent: String, pass: String, kind: String,
    name: String, start: Long, var end: Long,
    attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (end - start) / 1000.0
}

/** Engine totals over the Spark jobs of one pass. */
final case class EngineTotals(jobs: Int, stages: Int, tasks: Double, runS: Double,
    cpuS: Double, gcS: Double, shuffleRead: Double, shuffleWrite: Double,
    spill: Double, driverGapS: Double)

/** Spans pass → bench step → Spark job → stage, and streaming triggers.
  *
  * Bench steps are opened by the benchmark around its calls into the
  * program; their ids reach the jobs they cause through local
  * properties (and the job group), which Spark copies onto every job
  * the thread submits. Until [[start]] no listener is registered and
  * only the benchmark's own spans are kept, so untraced passes pay
  * nothing on the engine's side.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[String, Span]
  private val stageToJob = mutable.HashMap.empty[Int, String]
  private var seq = 0L
  private val sc = spark.sparkContext

  private def add(s: Span): Span = synchronized { spans += s; byId(s.id) = s; s }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val parent = prop(SpanProp).orElse(for {
        q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId")
      } yield s"trigger:$q:$b").getOrElse("")
      val pass = prop(PassProp).getOrElse("stream")
      val id = s"job:${e.jobId}"
      Tracer.this.synchronized { e.stageIds.foreach(stageToJob(_) = id) }
      add(Span(id, parent, pass, "job", s"job ${e.jobId}", e.time, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      byId.get(s"job:${e.jobId}").foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val job = Tracer.this.synchronized(stageToJob.get(info.stageId)).getOrElse("")
      val pass = Tracer.this.synchronized(byId.get(job).map(_.pass)).getOrElse("")
      val t = info.submissionTime.getOrElse(System.currentTimeMillis())
      add(Span(stageKey(info.stageId, info.attemptNumber()), job, pass, "stage",
        info.name, t, t))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      byId.get(stageKey(info.stageId, info.attemptNumber()))
        .foreach(_.end = info.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      Tracer.this.synchronized {
        byId.get(stageKey(e.stageId, e.stageAttemptId)).foreach { s =>
          def inc(k: String, v: Double) = s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
          inc("tasks", 1)
          inc("run_ms", m.executorRunTime.toDouble)
          inc("cpu_ns", m.executorCpuTime.toDouble)
          inc("gc_ms", m.jvmGCTime.toDouble)
          inc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          inc("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      val span = Span(s"trigger:${p.id}:${p.batchId}", s"query:${p.name}", "stream",
        "trigger", s"${p.name} batch ${p.batchId}", start,
        start + Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      d.forEach((k, v) => span.attrs(s"$k.ms") = v.doubleValue)
      span.attrs("rows") = p.numInputRows.toDouble
      add(span)
    }
  }

  /** Whether the engine listeners are registered. */
  @volatile var enabled = false

  /** Registers the engine listeners: spans from here on are traced. */
  def start(): Unit = if (!enabled) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Runs `body` as a span under the thread's current span. A span of
    * kind "pass" starts a new pass id that its descendants share.
    */
  def span[T](kind: String, name: String)(body: => T): T = {
    val oldSpan = sc.getLocalProperty(SpanProp)
    val oldPass = sc.getLocalProperty(PassProp)
    val id = synchronized { seq += 1; s"$kind:$seq" }
    val pass = if (kind == "pass") id else Option(oldPass).getOrElse("")
    sc.setLocalProperty(SpanProp, id)
    sc.setLocalProperty(PassProp, pass)
    if (kind == "pass") sc.setJobGroup(pass, name)
    val span = Span(id, Option(oldSpan).getOrElse(""), pass, kind, name,
      System.currentTimeMillis(), 0L)
    try body
    finally {
      span.end = System.currentTimeMillis()
      add(span)
      sc.setLocalProperty(SpanProp, oldSpan)
      sc.setLocalProperty(PassProp, oldPass)
      if (kind == "pass") sc.clearJobGroup()
    }
  }

  /** The most recently closed span named `name`. */
  def last(name: String): Span =
    synchronized(spans.reverseIterator.find(_.name == name))
      .getOrElse(sys.error(s"no span named $name"))

  /** Blocks until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def spansOf(pass: String): Seq[Span] = synchronized(spans.filter(_.pass == pass).toList)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Engine work of the jobs `jobs` selects, and the part of the span
    * `within` during which none of them was running.
    */
  def engine(within: Span)(jobs: Span => Boolean): EngineTotals = {
    drain()
    val all = this.all
    val mine = all.filter(s => s.kind == "job" && jobs(s))
    val ids = mine.map(_.id).toSet
    val stages = all.filter(s => s.kind == "stage" && ids(s.parent))
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val busy = covered(mine.map(j => (j.start, j.end)), within.start, within.end)
    EngineTotals(mine.size, stages.size, sum("tasks"), sum("run_ms") / 1000, sum("cpu_ns") / 1e9,
      sum("gc_ms") / 1000, sum("shuffle_read_bytes"), sum("shuffle_write_bytes"),
      sum("spill_bytes"), (within.end - within.start - busy) / 1000.0)
  }

  /** [[engine]] over every job of the pass `within` opened. */
  def enginePass(within: Span): EngineTotals = engine(within)(_.pass == within.pass)

  /** Writes every span as one JSON object per line, with its self time:
    * its duration minus the part of it that its children cover.
    */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val all = this.all
    val kids = all.groupBy(_.parent)
    val lines = all.sortBy(_.start).map { s =>
      val self = (s.end - s.start) -
        covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      s"""{"id": ${Json.str(s.id)}, "parent": ${Json.str(s.parent)}, "pass": ${Json.str(s.pass)}, """ +
        s""""kind": ${Json.str(s.kind)}, "name": ${Json.str(s.name)}, "start_ms": ${s.start}, """ +
        s""""end_ms": ${s.end}, "self_ms": $self, "attrs": {$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    enabled = false
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val PassProp = "perfbench.pass"

  private def stageKey(stage: Int, attempt: Int) = s"stage:$stage.$attempt"

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
