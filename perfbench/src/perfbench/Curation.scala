package perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Four training-data registry queries, each run cold in its own
  * `newSession()` over a seed-permuted copy of the registry's tables
  * (made by run.py). Each query's output is written to its own dir with
  * its DuckDB oracle, `<pass>/<query>/{<query>/, oracle_sql.json}`, so
  * that run.py can compare them with dev/check.py one query at a time.
  */
object Curation {
  /** Each query with the input table it reads: one per family the
    * registry's performance work is about — Quantiles, text scorers,
    * NN-Descent with TopKPerKey, and the pair cache behind CC.
    */
  val Queries: Seq[(String, String)] = Seq(
    "p28_ppl_buckets" -> "documents",
    "t21_rake" -> "documents",
    "s13_graph_ann" -> "embeddings",
    "d8_dedup_clusters" -> "documents")

  val WarmupRounds = 2

  final case class QueryRun(name: String, wall: Double, ok: Boolean, span: Span)

  /** TopKPerKeyExec metrics of every plan that ran: (sort fallbacks, heap bytes). */
  final class TopKMetrics extends QueryExecutionListener {
    var fallbacks, heapBytes = 0.0
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        nodes(qe.executedPlan).filter(_.nodeName.startsWith("TopKPerKey")).foreach { n =>
          n.metrics.get("sortFallbacks").foreach(m => fallbacks += m.value)
          n.metrics.get("heapBytes").foreach(m => heapBytes += m.value)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def pass(ctx: Ctx, in: String, out: String, topk: Option[TopKMetrics]): Seq[QueryRun] = {
    val tr = ctx.tracer
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    tr.span("pass", "curation pass") {
      Queries.foreach { case (q, _) =>
        val s = ctx.spark.newSession()
        topk.foreach(s.listenerManager.register)
        val t0 = System.nanoTime()
        val ok = try {
          tr.span("query", q) {
            SparkEntry.queries(q)(s, in).coalesce(1).write.mode("overwrite").parquet(s"$out/$q/$q")
          }
          if (ctx.fault == "alter_row" && q == Queries.head._1) alterOne(ctx, s"$out/$q/$q")
          true
        } catch {
          case e: Exception =>
            ctx.report.fail(s"$q threw ${e.getClass.getName}: ${e.getMessage}")
            false
        }
        runs += QueryRun(q, (System.nanoTime() - t0) / 1e9, ok, tr.last(q))
      }
    }
    Queries.foreach { case (q, _) =>
      val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, q))
      java.nio.file.Files.write(dir.resolve("oracle_sql.json"),
        s"{${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}}".getBytes("UTF-8"))
    }
    runs.toSeq
  }

  /** The measured pass is the first run of these queries in the JVM: a
    * curation job is a fresh batch application, so generating and
    * compiling its queries' code is part of what its user waits for. Only
    * Spark's own machinery is warmed first (scan, shuffle, parquet
    * write). Passes after the first would run warm, so the end-to-end
    * figures come from that one pass.
    */
  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val in = ctx.dir("input")
    val (_, warmS) = Main.time(warmEngine(ctx, in))
    r.e2e("setup_s", ctx.sessionS + warmS, "s")
    r.info += f"set-up: input copies ${ctx.prepS}%.2f s, session ${ctx.sessionS}%.1f s, engine warm-up $warmS%.1f s"

    val (gc0, jit0) = Main.jvmTimes()
    val (runs0, wall) = Main.time(pass(ctx, in, ctx.dir("pass-0"), None))
    val heap = Main.liveHeapMb()
    runs0.foreach(q => r.outcome(q.ok))
    val (gc1, jit1) = Main.jvmTimes()
    val queryWalls = runs0.map(_.wall * 1000)
    val records = Queries.map { case (_, t) => ctx.spark.read.parquet(s"$in/$t.parquet").count() }.sum
    r.e2e("pass_s", wall, "s")
    r.e2e("records_per_s", records / wall, "records/s")
    // each query is one request whose result a user waits for
    r.e2e("event_latency_p50_ms", Stats.median(queryWalls), "ms")
    val (tp, tv) = Stats.tail(queryWalls)
    r.e2e("event_latency_tail_ms", tv, "ms")
    r.e2e("live_heap_mb", heap, "MiB")
    r.info += f"the pass took $wall%.1f s (queries ${queryWalls.map(w => f"${w / 1000}%.2f").mkString(" / ")})"
    r.info += f"event_latency_tail_ms is p$tp%.1f over ${queryWalls.size} cold queries; " +
      s"records_per_s counts $records input rows per pass"

    if (ctx.trace) {
      // the overhead compares two passes that both run warm
      val (_, warm) = Main.time(pass(ctx, in, ctx.dir("warm"), None))
      Main.delete(ctx.dir("warm"))
      val topk = new TopKMetrics
      ctx.tracer.start()
      val runs = pass(ctx, in, ctx.dir("traced"), Some(topk))
      Main.delete(ctx.dir("traced"))
      val passSpan = ctx.tracer.last("curation pass")
      Main.reportEngine(r, ctx.tracer.enginePass(passSpan))
      runs.foreach { q =>
        val e = ctx.tracer.engine(q.span)(_.parent == q.span.id)
        r.per(s"operators.${q.name}.wall_s", q.wall, "s")
        r.per(s"operators.${q.name}.jobs", e.jobs, "count")
        r.per(s"operators.${q.name}.tasks", e.tasks, "count")
        r.per(s"operators.${q.name}.shuffle_bytes", e.shuffleRead + e.shuffleWrite, "bytes")
        r.per(s"operators.${q.name}.gc_s", e.gcS, "s")
      }
      ctx.tracer.drain()
      r.per("plans.topk.sort_fallbacks", topk.fallbacks, "count")
      r.per("plans.topk.heap_bytes", topk.heapBytes, "bytes")
      r.per("trace.overhead_ratio", passSpan.seconds / warm, "ratio")
      r.per("jvm.gc_s", gc1 - gc0, "s")
      r.per("jvm.jit_s", jit1 - jit0, "s")
      r.info += f"operators.* come from a warm traced pass; the untraced warm pass took $warm%.1f s"
    }
  }

  /** Generic jobs over the inputs: scans, an aggregate, a join and a
    * parquet write, none of them a registry query.
    */
  private def warmEngine(ctx: Ctx, in: String): Unit = {
    import org.apache.spark.sql.functions._
    val s = ctx.spark.newSession()
    val out = ctx.dir("engine-warmup")
    (0 until WarmupRounds).foreach { _ =>
      Queries.map(_._2).distinct.foreach { t =>
        val df = s.read.parquet(s"$in/$t.parquet")
        val k = df.columns.head
        df.groupBy(pmod(hash(col(k)), lit(16)).as("g")).count()
          .join(df.select(pmod(hash(col(k)), lit(16)).as("g")).distinct(), "g")
          .write.mode("overwrite").parquet(out)
      }
    }
    Main.delete(out)
  }

  /** Planted fault for the benchmark's own tests: change one output value. */
  private def alterOne(ctx: Ctx, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val df = ctx.spark.read.parquet(path)
    val f = df.schema.fields.find(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .getOrElse(sys.error(s"no numeric column in $path"))
    val c = col(f.name)
    val altered = df.withColumn("__i", monotonically_increasing_id())
      .withColumn(f.name, when(col("__i") === 0, (c + 1).cast(f.dataType)).otherwise(c))
      .drop("__i").coalesce(1).localCheckpoint()
    altered.write.mode("overwrite").parquet(path + ".tmp")
    Main.delete(path)
    java.nio.file.Files.move(java.nio.file.Paths.get(path + ".tmp"), java.nio.file.Paths.get(path))
  }
}
