package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only: where one registry query's time goes. Runs the query
  * `runs` times through the noop sink (the earlier runs warm the JIT)
  * on the Bench session, and prints, for the last run, each Spark job's
  * wall time, task count and summed task run/cpu/gc time, so driver
  * gaps show apart from executor compute. `--stages` also lists each
  * stage as it completes. `--plan <file>` then runs the query once more
  * and writes its final adaptive plan (`explain("formatted")` of the
  * executed QueryExecution: AQE coalescing, reused exchanges and
  * runtime join choices only exist after execution) to `<file>`.
  *
  * Usage: runMain graft.Inspect <query> [--runs N] [--stages] [--plan <file>]
  * with the data at SPARK_GRAFT_SF_DIR (default sf0.1) and the cores
  * at SPARK_GRAFT_CPUS (default 32).
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val q = args.headOption.getOrElse(
      sys.error("usage: graft.Inspect <query> [--runs N] [--stages] [--plan <file>]"))
    def flag(name: String): Option[String] =
      Some(args.indexOf(name)).filter(_ >= 0)
        .map(i => args.lift(i + 1).getOrElse(sys.error(s"$name needs a value")))
    val runs = flag("--runs").fold(2)(_.toInt)
    val stages = args.contains("--stages")
    val planFile = flag("--plan")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Bench.defaultSfDir)
    val spark = Bench.sessionBuilder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var record = false
    val starts = new ConcurrentHashMap[Int, Long]()
    val agg = new ConcurrentHashMap[Int, Array[Long]]()
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val nTasks = new ConcurrentHashMap[Int, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, System.nanoTime())
        agg.put(js.jobId, Array(0L, 0L, 0L))
        js.stageIds.foreach(sid => jobOfStage.put(sid, js.jobId))
        nTasks.put(js.jobId, 0)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val jid = jobOfStage.getOrDefault(te.stageId, -1)
        if (jid >= 0 && te.taskMetrics != null) {
          val a = agg.get(jid)
          if (a != null) a.synchronized {
            a(0) += te.taskMetrics.executorRunTime
            a(1) += te.taskMetrics.executorCpuTime / 1000000L
            a(2) += te.taskMetrics.jvmGCTime
          }
          nTasks.compute(jid, (_, v) => if (v == null) 1 else v + 1)
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record && stages) {
          val si = sc.stageInfo
          println(f"  [stage ${si.stageId}%3d job ${jobOfStage.getOrDefault(si.stageId, -1)}%3d] " +
            f"tasks ${si.numTasks}%4d  ${si.name.take(60)} | " +
            si.rddInfos.map(r => s"${r.id}:${r.name}").mkString(" ").take(200))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        if (record) {
          val t0 = starts.getOrDefault(je.jobId, 0L)
          val a = agg.getOrDefault(je.jobId, Array(0L, 0L, 0L))
          println(f"[job ${je.jobId}%3d] wall ${(System.nanoTime() - t0) / 1e9}%7.3f s" +
            f"  tasks ${nTasks.getOrDefault(je.jobId, 0)}%4d" +
            f"  run ${a(0) / 1e3}%7.2f s  cpu ${a(1) / 1e3}%7.2f s  gc ${a(2) / 1e3}%6.2f s")
        }
        // a stage id can reappear in a later job's stage list (a reused
        // stage): drop this job's mappings so the later job's tasks are
        // not counted against this one
        val it = jobOfStage.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue == je.jobId) it.remove()
      }
    })

    val fn = SparkEntry.queries(q)
    for (i <- 1 to runs) {
      record = i == runs
      if (record) println(s"=== measured run $i of $q at $sfDir ===")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"RUN $i TOTAL ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    record = false
    planFile.foreach { file =>
      // run this QueryExecution itself: a noop write would plan a new one
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.count()
      val txt = df.queryExecution.explainString(FormattedMode)
      val p = java.nio.file.Paths.get(file).toAbsolutePath
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, txt)
      println(s"wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
