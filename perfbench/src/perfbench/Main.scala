package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its arguments, and where to
  * put results. `prepS` is the time run.py spent on input copies before
  * the JVM started: harness work, reported as information only.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    runDir: Path, fault: String, prepS: Double, sessionS: Double,
    report: Report, tracer: Tracer) {
  def dir(name: String): String = runDir.resolve(name).toString
}

/** Entry point run by run.py:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir>
  *  <prep seconds> [fault]`; build.py runs the workload `classes` once.
  * Writes `report.json` (and `trace.jsonl` when tracing) into the run
  * dir; exits non-zero only when the run itself crashed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, runDir, prep) = args.take(6)
    val fault = args.lift(6).getOrElse("none")
    val dir = Paths.get(runDir)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val report = new Report
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, trace == "1", dir, fault,
      prep.toDouble, sessionS, report, tracer)
    try workload match {
      case "dlq_clean" => Dlq.run(ctx, Dlq.Clean)
      case "dlq_storm" => Dlq.run(ctx, Dlq.Storm)
      case "curation" => Curation.run(ctx)
      case "stream_dlq" => StreamDlq.run(ctx)
      case "classes" => Dlq.loadClasses(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally {
      if (ctx.trace) tracer.write(dir.resolve("trace.jsonl"))
      tracer.close()
      Files.write(dir.resolve("report.json"), report.toJson.getBytes("UTF-8"))
      spark.stop()
    }
  }

  /** MiB of heap still in use after full collections. Spark's cleaner
    * frees blocks of collected RDDs and broadcasts only after a GC found
    * them, so collect, give it time, and collect again.
    */
  def liveHeapMb(): Double = {
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(150) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds of JVM garbage collection and of JIT compilation so far. */
  def jvmTimes(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (gc / 1000.0, ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0)
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Total size and count of the data files under `path`. */
  def sizeOf(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    }
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  /** Engine totals of a traced pass as per-layer metrics. */
  def reportEngine(r: Report, e: EngineTotals): Unit = {
    r.per("engine.jobs", e.jobs, "count")
    r.per("engine.stages", e.stages, "count")
    r.per("engine.tasks", e.tasks, "count")
    r.per("engine.driver_gap_s", e.driverGapS, "s")
    r.per("engine.executor_run_s", e.runS, "s")
    r.per("engine.executor_cpu_s", e.cpuS, "s")
    r.per("engine.gc_s", e.gcS, "s")
    r.per("engine.shuffle_read_bytes", e.shuffleRead, "bytes")
    r.per("engine.shuffle_write_bytes", e.shuffleWrite, "bytes")
    r.per("engine.spill_bytes", e.spill, "bytes")
  }
}
