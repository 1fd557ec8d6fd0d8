package graft.streaming

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException, TimeUnit, TimeoutException}

import scala.concurrent.Await
import scala.concurrent.duration.FiniteDuration
import scala.util.Try

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ExecutionBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.core.{ErrorClassifier, ErrorFrame, model}
import graft.sources.LocalFiles

/** Structured Streaming parity of the reference's Kafka Streams surface:
  * the same capture projection (TryCapture) applied to an unbounded
  * DataFrame, with the values/dead-letter split materialized per
  * micro-batch to two sinks — the analog of
  * `mapped.to(OUTPUT_TOPIC)` + `errors.to(ERROR_TOPIC)` (README.md usage
  * example; DeadLetterProcessor.java).
  *
  * Exactly-once: both branches are written inside one foreachBatch with
  * the streaming checkpoint tracking batch ids; parquet sinks are
  * idempotent per batch directory overwrite by batchId partition.
  *
  * The trigger contract: a trigger body whose sinks are row-wise
  * projections of its batch writes them in one job over routed rows
  * ([[writeSplit]]), with no pin; any other body that writes two or
  * more sinks pins its frame once (persist or localCheckpoint) and
  * writes the sinks as concurrent jobs over it ([[writeSinks]]). Either
  * way it commits its state epochs only then, one after another.
  */
object StreamErrorHandling {

  /** Apply the capture projection to a streaming DataFrame. The returned
    * frame still carries the capture struct; use `.values` / `.errors` /
    * `.deadLetters` per micro-batch or on the stream itself (they are
    * narrow, so watermarks/triggers pass through).
    */
  def capture(stream: DataFrame, results: Map[String, Column], input: Column): ErrorFrame =
    ErrorFrame.captureErrors(stream, results, input)

  /** The one trigger runner: start `df` as a checkpointed query that
    * hands each micro-batch and its id to `f` (foreachBatch, append).
    * Its checkpoint logs go through graft's local checkpoint manager
    * unless the session names one ([[LocalFiles.installCheckpointManager]]). */
  private[streaming] def eachTrigger(df: DataFrame, checkpointPath: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery = {
    LocalFiles.installCheckpointManager(df.sparkSession)
    df.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => f(batch.toDF(), batchId) }
      .start()
  }

  /** Where [[writeSinks]] runs a trigger's writes; its threads only
    * wait on Spark jobs, so it grows with the writes in flight. */
  private lazy val sinkPool = ExecutionBridge.daemonPool("graft-sink")

  /** Overwrite each `(frame, dir)` with the frame as parquet, all at once
    * as concurrent Spark jobs, and return when every write has ended;
    * the first failure in argument order is rethrown, the others ride
    * along as suppressed. Each frame is built on its write's own
    * thread, so building and planning one overlaps the other's job.
    * The frames read one pinned frame: a persisted partition's block
    * lock lets whichever job reaches it first compute it while the
    * other waits and reads the block, so the capture and its `observe`
    * telemetry run once. The waiting task holds a core, yet with as
    * many or twice as many partitions as cores the overlap still
    * measured faster than writing in series (BASELINE.md), so the
    * writes always run together. Each write's thread carries the
    * trigger thread's session (`spark`) and local properties, so the
    * query's job group reaches its jobs and `stop()` cancels them; a
    * trigger interrupted while it waits cancels its writes until all
    * have ended.
    */
  private[streaming] def writeSinks(spark: SparkSession)(
      sinks: (() => DataFrame, String)*): Unit =
    runWrites(spark)(sinks.map { case (frame, dir) => () => LocalFiles.writeParquet(frame(), dir) })

  /** Overwrite `whenTrue`'s dir with its columns over the rows where
    * `p` holds, and `otherwise`'s over the rest (`p` false or null), as
    * one job that computes each row of `frame` once, with no pin
    * ([[LocalFiles.writeRouted]]). It runs like a [[writeSinks]] write:
    * `stop()` cancels it, and the trigger waits for it to end.
    */
  private[streaming] def writeSplit(frame: DataFrame, p: Column)(
      whenTrue: (Seq[Column], String), otherwise: (Seq[Column], String)): Unit = {
    // folds away where `p` is never null (captureToDlq's)
    val hit = coalesce(p, lit(false))
    // a sink writes its struct's fields; the column names are not written
    val rows = frame.select(
      when(hit, struct(whenTrue._1: _*)).as("values"),
      when(!hit, struct(otherwise._1: _*)).as("dead_letters"))
    runWrites(frame.sparkSession)(
      Seq(() => LocalFiles.writeRouted(rows, whenTrue._2, otherwise._2)))
  }

  /** A gate's [[writeSplit]]: all of `scored` to kept or rejected. */
  private def writeGate(scored: DataFrame, keep: Column, batchId: Long,
      keptPath: String, rejectedPath: String): Unit = {
    val all = scored.columns.toSeq.map(col)
    writeSplit(scored, keep)(
      all -> s"$keptPath/batch_id=$batchId", all -> s"$rejectedPath/batch_id=$batchId")
  }

  /** Runs each write on its own [[sinkPool]] thread, which carries the
    * calling thread's session and local properties and tags its jobs,
    * and returns when all have ended ([[writeSinks]]).
    */
  private def runWrites(spark: SparkSession)(bodies: Seq[() => Unit]): Unit = {
    val tag = s"graft-sinks-${java.util.UUID.randomUUID()}"
    val writes = bodies.map { body =>
      ExecutionBridge.withThreadLocalCaptured(spark, sinkPool) {
        spark.sparkContext.addJobTag(tag)
        body()
      }
    }
    val all = CompletableFuture.allOf(writes: _*)
    try all.get()
    catch {
      case stop: InterruptedException =>
        while (!all.isDone) {
          spark.sparkContext.cancelJobsWithTag(tag, "the trigger was interrupted")
          try all.get(100, TimeUnit.MILLISECONDS)
          catch { case _: InterruptedException | _: TimeoutException | _: ExecutionException => }
        }
        throw stop
      case _: ExecutionException => // each failure is read below
    }
    val failures = writes.flatMap(w => Try(w.join()).failed.toOption).map {
      case c: CompletionException if c.getCause != null => c.getCause
      case t => t
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Name under which capture telemetry (n_rows / n_errors /
    * errors_by_class) appears in StreamingQueryProgress.observedMetrics.
    */
  val TelemetryName = "graft_capture"

  /** Per-micro-batch capture telemetry from a progress event, if the
    * trigger processed data: `(n_rows, n_errors, per-class counts)` —
    * the streaming read side of ErrorFrame.observedNamed.
    */
  def captureTelemetry(progress: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Option[(Long, Long, Map[String, Long])] =
    Option(progress.observedMetrics.get(TelemetryName)).map { row =>
      (row.getAs[Long]("n_rows"), row.getAs[Long]("n_errors"),
        row.getAs[Map[String, Long]]("errors_by_class"))
    }

  /** observedMetrics names of the interval joins' per-side input
    * telemetry (one `observe` node per input — a query composing two
    * graft interval joins must rename one, observe names are
    * query-unique). */
  val JoinLeftTelemetryName = "graft_join_left"
  val JoinRightTelemetryName = "graft_join_right"

  /** Per-trigger interval-join accounting — the DLQ philosophy
    * ("nothing vanishes silently") applied to join state: watermarked
    * stream-stream joins DROP too-late input rows and EVICT state rows
    * whose horizon closed, both invisibly. `leftRows`/`rightRows` (and
    * each side's min/max event time in ms, None on an empty side) come
    * from the join's own `observe` nodes; `droppedByWatermark` and
    * `evictedFromState` are the engine's state-operator counters
    * surfaced next to them — so a monitor can alert on
    * dropped > 0 (data loss) and reconcile input vs. state volume
    * per trigger.
    */
  final case class IntervalJoinTelemetry(
      leftRows: Long, rightRows: Long,
      leftMinTsMs: Option[Long], leftMaxTsMs: Option[Long],
      rightMinTsMs: Option[Long], rightMaxTsMs: Option[Long],
      droppedByWatermark: Long, evictedFromState: Long)

  def intervalJoinTelemetry(
      progress: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Option[IntervalJoinTelemetry] = {
    val l = Option(progress.observedMetrics.get(JoinLeftTelemetryName))
    val r = Option(progress.observedMetrics.get(JoinRightTelemetryName))
    if (l.isEmpty && r.isEmpty) None
    else {
      def opt(row: Option[org.apache.spark.sql.Row], field: String): Option[Long] =
        row.flatMap(x => if (x.isNullAt(x.fieldIndex(field))) None
          else Some(x.getAs[Long](field)))
      Some(IntervalJoinTelemetry(
        leftRows = l.map(_.getAs[Long]("n_rows")).getOrElse(0L),
        rightRows = r.map(_.getAs[Long]("n_rows")).getOrElse(0L),
        leftMinTsMs = opt(l, "min_ts_ms"), leftMaxTsMs = opt(l, "max_ts_ms"),
        rightMinTsMs = opt(r, "min_ts_ms"), rightMaxTsMs = opt(r, "max_ts_ms"),
        droppedByWatermark =
          progress.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        evictedFromState = progress.stateOperators.map(_.numRowsRemoved).sum))
    }
  }

  private def observeJoinSide(df: DataFrame, name: String, tsCol: String): DataFrame =
    df.observe(name, count(lit(1)).as("n_rows"),
      min(expr(s"unix_micros(`$tsCol`) div 1000")).as("min_ts_ms"),
      max(expr(s"unix_micros(`$tsCol`) div 1000")).as("max_ts_ms"))

  /** Run the stream, splitting each micro-batch into a values sink and a
    * dead-letter sink (both parquet paths here; any batch writer works).
    * Every micro-batch also reports one-pass capture telemetry under
    * [[TelemetryName]] in its progress event ([[captureTelemetry]]).
    */
  def captureToDlq(
      stream: DataFrame,
      results: Map[String, Column],
      input: Column,
      description: String,
      valuesPath: String,
      dlqPath: String,
      checkpointPath: String): StreamingQuery = {
    val captured = capture(stream, results, input).observedNamed(TelemetryName)
    eachTrigger(captured.df, checkpointPath) { (batch, batchId) =>
      processCaptureTrigger(batch, batchId, captured.resultNames, input,
        description, valuesPath, dlqPath)
    }
  }

  /** One trigger of [[captureToDlq]]: each row is captured and counted
    * once. Each micro-batch overwrites its own batch_id=N dirs, so a
    * replay after a crash is idempotent.
    */
  private[graft] def processCaptureTrigger(batch: DataFrame, batchId: Long,
      resultNames: Seq[String], input: Column, description: String,
      valuesPath: String, dlqPath: String): Unit = {
    val ef = ErrorFrame(batch, resultNames, input)
    writeSplit(batch, !ef.anyError)(
      ef.valueColumns -> s"$valuesPath/batch_id=$batchId",
      ef.deadLetterColumns(description) -> s"$dlqPath/batch_id=$batchId")
  }

  /** [[captureToDlq]] with per-trigger DLQ rate limiting (error-storm
    * suppression): each micro-batch keeps at most `maxPerClass` dead
    * letters per error class (first by input_value — deterministic for
    * a given batch) and writes an exact accounting row per class
    * (total / kept / suppressed) beside them. A poisoned upstream can
    * then never flood the DLQ store: per trigger the stored rows are
    * bounded by classes × maxPerClass, while the accounting keeps the
    * true error magnitude observable. Values are never limited.
    * Same exactly-once layout as [[captureToDlq]] (batch_id=N dirs,
    * idempotent overwrite on replay).
    */
  def captureToDlqRateLimited(
      stream: DataFrame,
      results: Map[String, Column],
      input: Column,
      description: String,
      valuesPath: String,
      dlqPath: String,
      accountingPath: String,
      checkpointPath: String,
      maxPerClass: Int): StreamingQuery = {
    // same per-trigger telemetry as captureToDlq — rate limiting caps
    // what is STORED, never what is observable (the storm's true
    // magnitude must stay visible in the progress events)
    val captured = capture(stream, results, input).observedNamed(TelemetryName)
    eachTrigger(captured.df, checkpointPath) { (batch, batchId) =>
      val cached = batch.persist()
      try {
        val ef = ErrorFrame(cached, captured.resultNames, input)
        val dl = ef.deadLetters(description)
          .withColumn("__class", col("cause.error_class")).persist()
        try {
          val kept = graft.sources.Sinks.rateLimitDeadLetters(dl,
            Seq("__class"), Seq(graft.operators.TopK.asc("input_value")), maxPerClass)
          writeSinks(cached.sparkSession)(
            (() => ef.values) -> s"$valuesPath/batch_id=$batchId",
            (() => kept.drop("__class")) -> s"$dlqPath/batch_id=$batchId",
            (() => graft.sources.Sinks.rateLimitAccounting(dl, kept, Seq("__class"))
              .withColumnRenamed("__class", "error_class")) ->
              s"$accountingPath/batch_id=$batchId")
        } finally { dl.unpersist(); () }
      } finally { cached.unpersist(); () }
      ()
    }
  }

  /** Column names of the retry carry-over state (not CAPTURE_PREFIX'd:
    * they must survive ErrorFrame.values/errors projections).
    */
  val RetryCountCol = "__graft_retry_count"
  val NextAttemptTsCol = "__graft_next_attempt_ts"

  /** [[captureToDlq]] with runtime-retry semantics for RECOVERABLE errors
    * — the Structured-Streaming analog of the reference's
    * FilteringProcessingExceptionHandler hook, where transient failures
    * retry without failing the job and only poison pills dead-letter.
    *
    * NON-BLOCKING carry-over design: a recoverable failure never sleeps
    * inside the trigger (a driver backoff would stall every unrelated
    * micro-batch for the whole backoff budget). Instead the failing rows
    * are persisted to a pending store with `retry_count` and
    * `next_attempt_ts = now + backoffMs·2^(retry_count−1)`, and each
    * subsequent trigger re-ingests the DUE pending rows alongside its own
    * new data — exponential backoff in wall-clock terms, zero blocked
    * triggers. Rows whose retry budget is exhausted dead-letter with a
    * "retries exhausted" description; a row is attempted at most
    * `1 + maxRetries` times (initial + retries), matching the reference's
    * bounded-retry contract. Non-recoverable errors dead-letter
    * immediately.
    *
    * The pending store (`<checkpointPath>/graft-pending` unless
    * `pendingPath` overrides it) is EPOCH-KEYED for crash consistency:
    * trigger `N` reads the newest `epoch=M` directory with `M < N` and
    * writes its own state to `epoch=N` (mode overwrite). A crash between
    * the store write and the checkpoint commit therefore replays batch
    * `N` against the UNTOUCHED `epoch=M` input and REWRITES `epoch=N` —
    * idempotent, no re-append, no double-incremented retry counts
    * (StreamingSpec's replayed-trigger case pins this) — the
    * [[EpochStore]] contract, GC included. Rows still pending when the
    * stream stops remain in the store for the next run.
    */
  def captureToDlqWithRetry(
      stream: DataFrame,
      results: Map[String, Column],
      input: Column,
      description: String,
      valuesPath: String,
      dlqPath: String,
      checkpointPath: String,
      classifier: ErrorClassifier = ErrorClassifier.default,
      maxRetries: Int = 3,
      backoffMs: Long = 1000L,
      pendingPath: String = null): StreamingQuery = {
    val pPath = Option(pendingPath).getOrElse(s"$checkpointPath/graft-pending")
    val captured = capture(stream, results, input)
    eachTrigger(captured.df, checkpointPath) { (batch, batchId) =>
      processRetryTrigger(batch, batchId, captured.resultNames,
        results, input, description, valuesPath, dlqPath, pPath,
        classifier, maxRetries, backoffMs, now = System.currentTimeMillis())
    }
  }

  /** Operational/test view: the current (latest-epoch) pending rows. */
  def readPending(spark: SparkSession, pendingPath: String): Option[DataFrame] =
    EpochStore(spark, pendingPath).before(Long.MaxValue)

  /** One trigger of the retry loop, factored out of foreachBatch so the
    * crash-replay contract is testable deterministically (`now` is
    * injected; calling this twice with the same `batchId` must be
    * idempotent).
    */
  private[graft] def processRetryTrigger(
      batch: DataFrame, batchId: Long,
      resultNames: Seq[String],
      results: Map[String, Column], input: Column, description: String,
      valuesPath: String, dlqPath: String, pendingPath: String,
      classifier: ErrorClassifier, maxRetries: Int, backoffMs: Long,
      now: Long): Unit = {
    val spark = batch.sparkSession
    def deadLetterize(errRows: DataFrame, desc: String): DataFrame =
      errRows.select(ErrorFrame.deadLetterShape(input, desc, Seq(col("error_class"),
        col("error_message").as("message"), col("stack_trace"))): _*)
    // no localCheckpoint pin needed: this trigger writes epoch=batchId
    // and never touches the epoch it reads
    val pending = EpochStore(spark, pendingPath)
    val readBack = pending.before(batchId)
    val due = readBack.map(_.filter(col(NextAttemptTsCol) <= now))
    val notDue = readBack.map(_.filter(col(NextAttemptTsCol) > now))
    // arriving rows enter at retry_count 0; due rows re-run the user
    // computation carrying their count. ONE persisted pass feeds the
    // three writes below — the user expression runs once per row per
    // attempt, never once per branch.
    val fresh = batch.withColumn(RetryCountCol, lit(0))
    val all = due match {
      case None => fresh
      case Some(d) => fresh.unionByName(
        ErrorFrame.captureErrors(d.drop(NextAttemptTsCol), results, input).df)
    }
    val cachedAll = all.persist()
    try {
      val split = ErrorFrame(cachedAll, resultNames, input)
        .filterRecoverable(classifier, failOnRecoverable = false)
      val rec = split.recoverable
      val exhausted = rec.filter(col(RetryCountCol) + 1 > maxRetries)
      writeSinks(spark)(
        (() => split.values.drop(RetryCountCol)) -> s"$valuesPath/batch_id=$batchId",
        (() => deadLetterize(split.deadLettered, description)
          .union(deadLetterize(exhausted, s"$description (retries exhausted)"))) ->
          s"$dlqPath/batch_id=$batchId")
      val retryable = rec.filter(col(RetryCountCol) + 1 <= maxRetries)
        .drop("error_class", "error_message", "stack_trace")
        .withColumn(RetryCountCol, col(RetryCountCol) + 1)
        .withColumn(NextAttemptTsCol,
          (lit(now) + lit(backoffMs.toDouble) *
            pow(lit(2.0), col(RetryCountCol) - 1)).cast("long"))
      val newPending = notDue match {
        case None => retryable
        case Some(nd) => nd.unionByName(retryable)
      }
      pending.commit(batchId, newPending)
    } finally { cachedAll.unpersist(); () }
    ()
  }

  /** Watermarked tumbling-window counts — the streaming twin of the
    * batch q20 query (same semantics on a bounded input).
    */
  def windowedCounts(stream: DataFrame, tsCol: String, windowDur: String,
      watermarkDelay: String, keyCol: String): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("window_start"), col(keyCol),
        col("n"))

  /** Streaming exact dedup: first-seen record per id wins, duplicates
    * dropped within the watermark horizon (state is bounded by the
    * watermark — the streaming twin of Dedup.exact).
    *
    * dropDuplicatesWithinWatermark keys state on `idCol` ALONE — two
    * records with the same id but different timestamps are still one
    * id (plain dropDuplicates(id, ts) would keep both), and expired
    * state is evicted once the watermark passes the first sighting.
    */
  def dedupStreaming(stream: DataFrame, idCol: String, tsCol: String,
      watermarkDelay: String): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Enrichment with PENDING RETRY for dim-lagging events (ST19):
    * facts routinely arrive BEFORE their dimension row (a new user's
    * first order lands hours before the user-dim rebuild). Plain
    * left-outer enrichment permanently nulls them; inner join silently
    * drops them. Here every trigger joins batch ∪ carried-over pending
    * rows against the freshly-read dim (the ST13 re-read contract):
    * matches land enriched in the values sink; misses carry over in
    * the epoch-keyed pending store with their attempt count and
    * automatically re-join on a later trigger once the dim
    * republishes. After `maxAttempts` a row gives up and lands
    * null-enriched WITH its attempt count visible — never silently
    * dropped, which is the failure mode this operator exists to
    * prevent. Values overwrite `batch_id=N` dirs (idempotent on
    * replay); the pending store is an [[EpochStore]].
    */
  def enrichWithPendingRetry(stream: DataFrame, dimPath: String,
      keys: Seq[String], maxAttempts: Int, valuesPath: String,
      pendingPath: String, checkpointPath: String): StreamingQuery = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processEnrichRetryTrigger(batch, batchId, dimPath, keys,
        maxAttempts, valuesPath, pendingPath)
    }
  }

  private[graft] def processEnrichRetryTrigger(batch: DataFrame,
      batchId: Long, dimPath: String, keys: Seq[String], maxAttempts: Int,
      valuesPath: String, pendingPath: String): Unit = {
    val spark = batch.sparkSession
    val dim = spark.read.parquet(dimPath).withColumn("__hit", lit(true))
    val incoming = batch.withColumn("__attempts", lit(0))
    val store = EpochStore(spark, pendingPath)
    val all = store.before(batchId).map(incoming.unionByName(_)).getOrElse(incoming)
    val joined = all.join(broadcast(dim), keys, "left_outer").localCheckpoint()
    val dimCols = dim.columns.filterNot(c => keys.contains(c) || c == "__hit")
    val missed = joined.filter(col("__hit").isNull)
      .withColumn("__attempts", col("__attempts") + 1)
    writeSinks(spark)(
      // matched: enriched rows out, bookkeeping stripped
      (() => joined.filter(col("__hit"))
        .drop("__hit").withColumnRenamed("__attempts", "attempts")) ->
        s"$valuesPath/batch_id=$batchId",
      // exhausted: give up loudly — null-enriched, attempts visible
      (() => missed.filter(col("__attempts") >= maxAttempts)
        .drop("__hit").withColumnRenamed("__attempts", "attempts")) ->
        s"$valuesPath/batch_id=${batchId}_exhausted")
    // still pending: original shape + attempt count, epoch-keyed
    store.commit(batchId, missed.filter(col("__attempts") < maxAttempts)
      .drop("__hit").drop(dimCols: _*))
  }

  /** Late-data quarantine (ST18): rows a watermarked stateful operator
    * would silently DROP are preserved in a DLQ-style store instead.
    * Spark's drop happens invisibly inside the stateful operator, so
    * this maintains the watermark's twin itself — the same formula the
    * engine uses (running max event time minus the delay), epoch-keyed
    * like every graft stream state. Per trigger: rows older than the
    * PRIOR trigger's watermark (exactly those the engine considers
    * late) go to `latePath` with their lateness in ms; on-time rows go
    * to `valuesPath`; the watermark state advances to
    * max(prior, max(ts) − delay). Crash replay rewrites both batch
    * dirs and recomputes against the prior epoch — idempotent. One
    * routed job splits the batch and observes its max event time.
    */
  def quarantineLate(stream: DataFrame, tsCol: String, delayMs: Long,
      valuesPath: String, latePath: String, statePath: String,
      checkpointPath: String): StreamingQuery = {
    require(delayMs >= 0, s"watermark delay must be >= 0 ms: $delayMs")
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processLateQuarantineTrigger(batch, batchId, tsCol,
        delayMs, valuesPath, latePath, statePath)
    }
  }

  private[graft] def processLateQuarantineTrigger(batch: DataFrame,
      batchId: Long, tsCol: String, delayMs: Long, valuesPath: String,
      latePath: String, statePath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val tsMs = expr(s"unix_micros(`$tsCol`) div 1000")
    val state = EpochStore(spark, statePath)
    // one row: a scan reads it in one job, an aggregate in two
    val priorWm: Long = state.before(batchId)
      .flatMap(_.select(col("wm_ms")).as[Long].collect().maxOption)
      .getOrElse(Long.MinValue)
    // completed by the session's ObservationManager as the write ends
    val seen = Observation()
    val stamped = batch.withColumn("__ms", tsMs).observe(seen, max(col("__ms")).as("max_ms"))
    val cols = batch.columns.toSeq.map(col)
    writeSplit(stamped, col("__ms") >= priorWm)(
      cols -> s"$valuesPath/batch_id=$batchId",
      // a NULL event time cannot be judged — it goes to quarantine with
      // null lateness rather than silently vanishing from both sinks
      (cols :+ (lit(priorWm) - col("__ms")).as("lateness_ms")) -> s"$latePath/batch_id=$batchId")
    val timeout = FiniteDuration(
      JavaUtils.timeStringAsMs(spark.conf.get("spark.network.timeout", "120s")), TimeUnit.MILLISECONDS)
    val newWm = Option(awaitObserved(seen, timeout).getAs[java.lang.Long]("max_ms"))
      .fold(priorWm)(ms => math.max(priorWm, ms - delayMs))
    state.commit(batchId, Seq(newWm).toDF("wm_ms").coalesce(1))
  }

  /** `seen`'s metrics, waiting at most `timeout` for the execution that
    * observes it to end. A listener bus that drops the execution-end
    * event never completes it; the trigger then fails before its state
    * commit, so the restart replays the batch, instead of hanging.
    */
  private[graft] def awaitObserved(seen: Observation, timeout: FiniteDuration): Row =
    try Await.result(seen.future, timeout)
    catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"observation ${seen.name} did not complete within $timeout", e)
    }

  /** Unbounded-horizon streaming dedup via an accumulating Bloom state
    * (ST17) — the complement of [[dedupStreaming]]'s exact
    * watermark-bounded dedup: a record re-sent AFTER the watermark
    * horizon slips past the exact operator, while the Bloom state (a
    * KB-to-MB blob, fixed size forever) remembers every key ever seen.
    * The trade is explicit: a true duplicate is ALWAYS dropped (Bloom
    * has no false negatives); a bounded false-positive rate `fpp` drops
    * some genuinely-new rows. Per trigger: exact in-batch dedup →
    * probe the prior filter (broadcast bytes, mapPartitions — the
    * bloomPrefilter pattern) → write survivors → OR the survivors'
    * filter into the state. The state blob is epoch-keyed (crash
    * replay rewrites; Bloom OR is idempotent anyway). `expectedItems`
    * must stay constant across the query's life — merge requires
    * equal-sized filters.
    */
  def dedupStreamingBloom(stream: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double, valuesPath: String,
      statePath: String, checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processBloomDedupTrigger(batch, batchId, keyCol,
        expectedItems, fpp, valuesPath, statePath)
    }

  private[graft] def processBloomDedupTrigger(batch: DataFrame, batchId: Long,
      keyCol: String, expectedItems: Long, fpp: Double,
      valuesPath: String, statePath: String): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val spark = batch.sparkSession
    val inBatch = batch.dropDuplicates(keyCol) // exact within the trigger
    val state = EpochStore(spark, statePath)
    val priorBytes = state.bytesBefore(batchId)
    val prior = priorBytes.map(b => BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
    val fresh = priorBytes match {
      case None => inBatch
      case Some(b) =>
        val bytes = spark.sparkContext.broadcast(b)
        val idx = inBatch.schema.fieldIndex(keyCol)
        val schema = inBatch.schema
        inBatch.mapPartitions { it =>
          val local = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes.value))
          // null keys never dedup (the sketch can't hold them): they
          // pass through rather than silently vanishing at the probe
          it.filter(r => r.isNullAt(idx) || !local.mightContain(r.get(idx)))
        }(org.apache.spark.sql.Encoders.row(schema))
    }
    // pin: survivors feed both the values sink and the filter build
    val kept = fresh.localCheckpoint()
    LocalFiles.writeParquet(kept, s"$valuesPath/batch_id=$batchId")
    // stat.bloomFilter NPEs on an EMPTY frame (null aggregate buffer) —
    // an all-duplicates trigger must still write its (unchanged) state
    val bfNew =
      if (kept.isEmpty) None
      else Some(kept.stat.bloomFilter(keyCol, expectedItems, fpp))
    val merged = (prior, bfNew) match {
      case (Some(p), Some(n)) => p.mergeInPlace(n); p
      case (Some(p), None) => p
      case (None, Some(n)) => n
      case (None, None) => BloomFilter.create(expectedItems, fpp)
    }
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    state.commitBytes(batchId, bos.toByteArray)
  }

  /** Gap-based sessionization — the streaming twin of the batch q26
    * query: a key's session closes after `gap` of silence. Uses the
    * native `session_window` aggregate (merging windows inside the
    * state store) rather than a hand-rolled flatMapGroupsWithState;
    * state is evicted once the watermark passes a closed session.
    */
  def sessionize(stream: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermarkDelay: String): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").cast("string").as("session_start"),
        col("session_window.end").cast("string").as("session_end"),
        col("n_events"))

  /** Stream-stream inner join within a time bound: right rows match left
    * rows at most `window` older — state on both sides is pruned by the
    * watermarks, the streaming analog of the as-of/interval join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      watermarkDelay: String, window: String): DataFrame = {
    val l = observeJoinSide(left, JoinLeftTelemetryName, leftTs)
      .withWatermark(leftTs, watermarkDelay)
    val r = observeJoinSide(right, JoinRightTelemetryName, rightTs)
      .withWatermark(rightTs, watermarkDelay)
    l.join(r, col(leftKey) === col(rightKey)
      && col(rightTs) <= col(leftTs)
      && col(rightTs) >= col(leftTs) - expr(s"INTERVAL $window"))
  }

  /** Stream-stream LEFT OUTER interval join — the streaming twin of the
    * batch q30 "errors WITHOUT a click within the window" shape: a left
    * row that finds no right within its time bound emits null-extended
    * exactly once, but only AFTER the watermark proves no matching
    * right can still arrive (the latest admissible right carries the
    * left's own timestamp, so the left finalizes once the watermark
    * passes it). Until then the row sits in the join state; matched
    * rows emit immediately like the inner join. Streaming-outer
    * contract, documented: null results trail the watermark by design,
    * and the engine emits them in a LATER micro-batch — a tail row
    * whose horizon never closes (no further data) stays pending, which
    * is why the equivalence spec drives the watermark past the data
    * with a sentinel batch.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      watermarkDelay: String, window: String): DataFrame = {
    val l = observeJoinSide(left, JoinLeftTelemetryName, leftTs)
      .withWatermark(leftTs, watermarkDelay)
    val r = observeJoinSide(right, JoinRightTelemetryName, rightTs)
      .withWatermark(rightTs, watermarkDelay)
    l.join(r, col(leftKey) === col(rightKey)
      && col(rightTs) <= col(leftTs)
      && col(rightTs) >= col(leftTs) - expr(s"INTERVAL $window"), "left_outer")
  }

  /** Stream-stream FULL OUTER interval join — the streaming twin of the
    * batch q47 both-sides-preserved alignment ("errors with their
    * clicks, errors with NO click, AND clicks belonging to NO error in
    * the window"). Unlike the batch path — where the bin replication
    * forces a two-pass composition (IntervalJoin.binnedFullOuter) — the
    * streaming engine's join state is per-ROW, so the engine's native
    * `full_outer` null-extends each matchless row of either side exactly
    * once. Eviction needs both horizons: the condition bounds rightTs
    * within [leftTs - window, leftTs], so a left row finalizes once the
    * watermark passes its own timestamp (the latest admissible right
    * carries it) and a right row finalizes once the watermark passes
    * rightTs + window (the latest admissible left). Same streaming-outer
    * contract as [[intervalJoinOuter]]: null-extended rows trail the
    * watermark and surface in a later micro-batch; the equivalence spec
    * drives the horizon closed with sentinel batches on both inputs.
    */
  def intervalJoinFullOuter(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      watermarkDelay: String, window: String): DataFrame = {
    val l = observeJoinSide(left, JoinLeftTelemetryName, leftTs)
      .withWatermark(leftTs, watermarkDelay)
    val r = observeJoinSide(right, JoinRightTelemetryName, rightTs)
      .withWatermark(rightTs, watermarkDelay)
    l.join(r, col(leftKey) === col(rightKey)
      && col(rightTs) <= col(leftTs)
      && col(rightTs) >= col(leftTs) - expr(s"INTERVAL $window"), "full_outer")
  }

  /** Streaming trending top-k ("top pages this hour", live): windowed
    * counts under a watermark in APPEND mode — each window emits
    * exactly once, complete, after the watermark passes it — then the
    * finalized windows flow through the custom TopKPerKey operator
    * per trigger, so the stored result is the exact per-window top-k
    * (bounded heaps, never a window sort; per-key state in the agg is
    * watermark-bounded). batch_id=N idempotent-overwrite layout.
    */
  def trendingToSink(stream: DataFrame, tsCol: String, windowDur: String,
      watermarkDelay: String, keyCol: String, k: Int,
      outPath: String, checkpointPath: String): StreamingQuery = {
    val counts = stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("window_start"),
        col(keyCol), col("n"))
    eachTrigger(counts, checkpointPath) { (batch, batchId) =>
      LocalFiles.writeParquet(graft.operators.TopK.perKey(batch, Seq("window_start"),
          Seq(graft.operators.TopK.desc("n"), graft.operators.TopK.asc(keyCol)), k),
        s"$outPath/batch_id=$batchId")
    }
  }

  /** Streaming data-contract gate: per trigger, rows passing every
    * expectation rule land in the values sink, violators land in the
    * DLQ in the exact DeadLetter shape with the failed rule list as
    * the cause message (Pipeline.quarantineToDeadLetters) — contract
    * breaks and thrown errors share one streaming DLQ store. Same
    * exactly-once layout as [[captureToDlq]]: each micro-batch owns
    * its batch_id=N partition dir, crash replay overwrites it. Each
    * rule runs once per row, in one routed job per trigger.
    */
  def contractToDlq(
      stream: DataFrame,
      rules: Seq[(String, Column)],
      input: Column,
      description: String,
      valuesPath: String,
      dlqPath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      val P = graft.operators.Pipeline
      writeSplit(P.expectations(batch, rules), !col("quarantined"))(
        batch.columns.toSeq.map(col) -> s"$valuesPath/batch_id=$batchId",
        P.contractDeadLetterColumns(rules, input, description) -> s"$dlqPath/batch_id=$batchId")
    }

  /** One trigger of the streaming contamination gate — the body shared
    * by [[contaminationGate]]'s foreachBatch and the replay proof
    * (StoreReplayPropertySpec): the batch's docs split on the
    * [[graft.operators.Pipeline.contaminationAgainstGrams]] verdict,
    * contaminated docs (with their shared-gram count) to the flagged
    * store, the rest to the clean store. Same epoch-keyed accounting
    * as the ST14 contract gate: each micro-batch OWNS its batch_id=N
    * partition dir and crash replay overwrites it — exactly-once
    * without a transactional sink. One persisted verdict frame feeds
    * both sinks (the ErrorFrame.annotated discipline: never plan the
    * gram pipeline once per branch).
    */
  def processContaminationTrigger(batch: DataFrame, batchId: Long,
      evalGrams: DataFrame, n: Int, cleanPath: String, flaggedPath: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val verdict = graft.operators.Pipeline
      .contaminationAgainstGrams(batch, evalGrams, n, textCol, idCol)
      .persist()
    try writeSinks(batch.sparkSession)(
      (() => batch.join(verdict.withColumnRenamed("doc_id", idCol), idCol)) ->
        s"$flaggedPath/batch_id=$batchId",
      (() => batch.join(verdict.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")) ->
        s"$cleanPath/batch_id=$batchId")
    finally { verdict.unpersist(); () }
    ()
  }

  /** One trigger of the ST35 DSIR gate — factored out so the spec can
    * drive it batch-for-batch. Per-row scoring only (the nano-long
    * fold, no aggregate/state); ONE routed job per trigger splits the
    * scored rows by the threshold into kept/rejected stores, a null
    * score to rejected. Overwrite-by-batch_id: a crash-replayed trigger
    * rewrites its own partition, never re-appends (the e12/epoch-store
    * discipline).
    */
  def processDsirTrigger(batch: DataFrame, batchId: Long,
      modelNanos: Map[String, Long], minLogWeight: Double,
      keptPath: String, rejectedPath: String,
      textCol: String = "text", hexChars: Int = 2): Unit = {
    val (nTok, lw) = graft.operators.Pipeline
      .dsirRowScore(col(textCol), modelNanos, hexChars)
    writeGate(batch.withColumn("n_tokens", nTok).withColumn("log_weight", lw),
      col("log_weight") >= lit(minLogWeight), batchId, keptPath, rejectedPath)
  }

  /** Streaming DSIR quality gate (ST35): the p25 importance scorer as
    * a live ingest filter — every arriving document scored against the
    * FITTED target/raw bucket model per trigger, kept or rejected by a
    * log-weight threshold. The model is the dsirModelNanos driver map
    * (≤ 16^hexChars entries — fixed feature space), embedded as a
    * literal map column: per-row fold, no shuffle, no state, nothing
    * grows with the stream. Because the nano-long fold is
    * order-independent EXACT integer addition, each row's score is
    * bit-identical to the batch dsirSelect hash-aggregate over the
    * same corpus (StreamingBatchEquivalenceSpec pins row-for-row
    * equality against the oracle-verified p25 values).
    */
  def dsirGate(stream: DataFrame, modelNanos: Map[String, Long],
      minLogWeight: Double, keptPath: String, rejectedPath: String,
      checkpointPath: String, textCol: String = "text",
      hexChars: Int = 2): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processDsirTrigger(batch, batchId, modelNanos, minLogWeight,
        keptPath, rejectedPath, textCol, hexChars)
    }

  /** One trigger of the ST36 classifier gate (the ST35 shape with the
    * trained logistic model instead of the DSIR bucket LMs).
    */
  def processClassifierTrigger(batch: DataFrame, batchId: Long,
      model: graft.operators.TextAnalysis.QualityModel, minScore: Double,
      keptPath: String, rejectedPath: String,
      textCol: String = "text"): Unit = {
    writeGate(batch.withColumn("quality_score",
        graft.operators.TextAnalysis.qualityScore(col(textCol), model)),
      col("quality_score") >= lit(minScore), batchId, keptPath, rejectedPath)
  }

  /** One trigger of the ST38 Gopher-rule gate: the per-row integer
    * verdict (bit-equal to batch t38's `keep` — all-integer rules have
    * no score threshold to drift), kept/rejected overwrite by batch_id.
    * A document with a null verdict (null text) is rejected.
    */
  def processGopherTrigger(batch: DataFrame, batchId: Long,
      minWords: Long, maxWords: Long, stopwords: Seq[String],
      keptPath: String, rejectedPath: String,
      textCol: String = "text"): Unit = {
    writeGate(batch.withColumn("gopher_keep",
        graft.operators.TextAnalysis.gopherKeepRow(col(textCol), minWords,
          maxWords, stopwords)), col("gopher_keep"), batchId, keptPath, rejectedPath)
  }

  /** Streaming Gopher-rule quality gate (ST38): t38's live face — the
    * published heuristic gate applied AT INGEST. Rules are exact
    * integer cross-multiplications derived per-row
    * ([[graft.operators.TextAnalysis.gopherKeepRow]]), so the stream
    * verdict is BIT-EQUAL to batch [[graft.operators.TextAnalysis
    * .gopherQualityFlags]] on the same documents — no model, no
    * state, no shuffle; kept/rejected overwrite by batch_id (the
    * family crash contract).
    */
  def gopherGate(stream: DataFrame, keptPath: String,
      rejectedPath: String, checkpointPath: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      stopwords: Seq[String] = graft.operators.TextAnalysis.GopherStopwords,
      textCol: String = "text"): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processGopherTrigger(batch, batchId, minWords, maxWords,
        stopwords, keptPath, rejectedPath, textCol)
    }

  /** Streaming trained-classifier quality gate (ST36): t34's live face
    * — the model trains batch-side (`trainQualityModel`, 10 doubles)
    * and every arriving document scores per-row through the HOF
    * feature folds, bit-equal to batch scoring of the same document
    * (the folds derive the identical feature integers — spec-pinned).
    * No shuffle, no state, nothing grows with the stream; kept/rejected
    * stores overwrite by batch_id, so a crash-replayed trigger rewrites
    * rather than re-appends.
    */
  def classifierGate(stream: DataFrame,
      model: graft.operators.TextAnalysis.QualityModel, minScore: Double,
      keptPath: String, rejectedPath: String, checkpointPath: String,
      textCol: String = "text"): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processClassifierTrigger(batch, batchId, model, minScore,
        keptPath, rejectedPath, textCol)
    }

  /** Streaming benchmark-contamination gate (ST30): a live ingest
    * pipeline checks every arriving document against the eval suite's
    * n-grams PER TRIGGER instead of waiting for the next batch sweep —
    * leaked benchmark items never reach the clean store. The eval gram
    * set is computed ONCE at query start and pinned (localCheckpoint);
    * each trigger broadcast-joins against it — the same
    * tiny-eval/100-TB-train asymmetry the batch p4 operator exploits.
    * Per-doc verdicts are independent, so the union of all triggers'
    * stores equals the batch verdict on the same corpus — pinned by
    * StreamingSpec's per-trigger equality test.
    */
  def contaminationGate(stream: DataFrame, evalSet: DataFrame, n: Int,
      cleanPath: String, flaggedPath: String, checkpointPath: String,
      textCol: String = "text", idCol: String = "doc_id"): StreamingQuery = {
    val grams = graft.operators.Pipeline
      .evalGramSet(evalSet, n, textCol, idCol).localCheckpoint()
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processContaminationTrigger(batch, batchId, grams, n,
        cleanPath, flaggedPath, textCol, idCol)
    }
  }

  /** Stream-static enrichment (slowly-changing dimension): every
    * micro-batch re-READS the dimension path — a fresh file listing per
    * trigger, so a dimension republished between triggers (the daily
    * dim rebuild) enriches subsequent batches with the new attributes;
    * plain parquet static DataFrames cache their file listing at plan
    * time and would keep serving the old snapshot (or break on an
    * overwrite), which is why the read lives inside the trigger. The
    * dim is broadcast: enrichment is map-side, the stream never
    * shuffles. Left-outer keeps unmatched events (dims lag facts).
    * Each trigger owns `valuesPath/batch_id=N` and overwrites it, so a
    * crash-replayed trigger rewrites its rows instead of appending them
    * twice.
    */
  def enrichToSink(stream: DataFrame, dimPath: String, keys: Seq[String],
      valuesPath: String, checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processEnrichTrigger(batch, batchId, dimPath, keys, valuesPath)
    }

  private[graft] def processEnrichTrigger(batch: DataFrame, batchId: Long,
      dimPath: String, keys: Seq[String], valuesPath: String): Unit = {
    val dim = batch.sparkSession.read.parquet(dimPath)
    LocalFiles.writeParquet(batch.join(broadcast(dim), keys, "left_outer"),
      s"$valuesPath/batch_id=$batchId")
  }

  /** State for [[funnelDetect]]: the running min signup time plus the
    * compressed purchase-time set — every purchase at or before the
    * current min signup (a later, EARLIER signup could make any of them
    * the conversion) and only the SMALLEST purchase after it (min signup
    * only decreases, so a larger later purchase can never win).
    */
  final case class FunnelState(minSignup: Option[Long], purchases: List[Long])
  final case class FunnelVerdict(user_id: Long, s0: Long, p0: Option[Long],
      converted: Boolean)

  private def compressFunnel(st: FunnelState): FunnelState = st.minSignup match {
    case None => st
    case Some(s0) =>
      val (before, after) = st.purchases.partition(_ <= s0)
      st.copy(purchases = (before ++ after.sorted.take(1)).distinct)
  }

  /** Streaming funnel detection — the streaming twin of batch q27:
    * per user, did a purchase follow the FIRST signup, and when. The
    * verdict is emitted exactly once, when the event-time timeout fires
    * after the watermark passes the user's last activity — so the
    * answer is ARRIVAL-ORDER INDEPENDENT (a signup arriving after the
    * purchase it predates still wins funnel credit; naive emit-on-
    * purchase streaming funnels get this wrong). State per user is the
    * compressed purchase set of [[FunnelState]], bounded by the
    * watermark horizon; users with no signup expire silently.
    *
    * `events` needs `userCol: long`, `tsCol: timestamp` (watermark
    * anchor), `tsUsCol: long` (exact event-time micros — kept separate
    * so verdict arithmetic is integer-exact, the q27 precedent), and
    * `typeCol: string`.
    */
  def funnelDetect(events: DataFrame, userCol: String, tsCol: String,
      tsUsCol: String, typeCol: String,
      signupType: String, purchaseType: String,
      watermarkDelay: String): Dataset[FunnelVerdict] = {
    implicit val outEnc: Encoder[FunnelVerdict] = Encoders.product[FunnelVerdict]
    implicit val stEnc: Encoder[Punctuate.PunctState[FunnelState]] =
      Encoders.product[Punctuate.PunctState[FunnelState]]
    implicit val kEnc: Encoder[Long] = Encoders.scalaLong
    implicit val rowEnc: Encoder[(Long, Long, Long, String, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.STRING, Encoders.TIMESTAMP)
    // the watermarked timestamp column must ride into the stateful
    // operator (the event-time-timeout checker requires it); the
    // extractors ignore it. All timer plumbing lives in Punctuate —
    // this operator is the fold/finish pair only.
    val rows = events.withWatermark(tsCol, watermarkDelay)
      .select(col(userCol).cast("long"),
        expr(s"unix_micros(`$tsCol`) div 1000"), // ms for timeouts
        col(tsUsCol).cast("long"), col(typeCol), col(tsCol))
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
    Punctuate.eventTimePunctuate[
        (Long, Long, Long, String, java.sql.Timestamp), Long,
        FunnelState, FunnelVerdict](
      rows, keyFn = _._1, tsMsFn = _._2,
      zero = FunnelState(None, Nil),
      fold = (st, r) =>
        if (r._4 == signupType)
          st.copy(minSignup = Some(st.minSignup.fold(r._3)(math.min(_, r._3))))
        else if (r._4 == purchaseType) st.copy(purchases = r._3 :: st.purchases)
        else st,
      finish = (user, st) => st.minSignup match {
        case Some(s0) =>
          val p0 = st.purchases.filter(_ > s0).sorted.headOption
          Iterator.single(FunnelVerdict(user, s0, p0, p0.isDefined))
        case None => Iterator.empty // activity but never signed up
      },
      compact = compressFunnel)
  }

  /** Per-key attribution state: every touch and conversion seen, as
    * (event-time µs, event id) — verdicts are computed only at
    * punctuation, so arrival order can never change them. State is
    * bounded by the key's events inside its activity window (the ST12
    * contract; a key quiet for `watermarkDelay` flushes and frees). */
  final case class AttributionState(
      touches: List[(Long, Long)], convs: List[(Long, Long)])

  final case class AttributionVerdict(conv_id: Long, user_id: Long,
      conv_ts_us: Long, touch_id: Option[Long], gap_us: Option[Long],
      attributed: Boolean)

  /** Streaming last-touch attribution (ST28) — the live twin of the
    * batch [[graft.operators.AsOf.lastTouchAttribution]] (q53): each
    * conversion is credited to its user's latest touch at-or-before it
    * within `lookbackUs`, and the verdict emits EXACTLY ONCE after the
    * watermark proves the user's history is closed — a click arriving
    * after the purchase it precedes (in event time) still wins credit,
    * because all ordering happens at punctuation, never at arrival.
    * Built by wiring [[Punctuate.eventTimePunctuate]] (fold/finish
    * only); ties match the batch twin bit-for-bit: a touch at the
    * conversion's exact timestamp counts, same-ts touches resolve to
    * the greatest event id.
    */
  def attributionDetect(events: DataFrame, userCol: String, tsCol: String,
      tsUsCol: String, idCol: String, typeCol: String,
      touchType: String, convType: String, lookbackUs: Long,
      watermarkDelay: String): Dataset[AttributionVerdict] = {
    implicit val outEnc: Encoder[AttributionVerdict] =
      Encoders.product[AttributionVerdict]
    implicit val stEnc: Encoder[Punctuate.PunctState[AttributionState]] =
      Encoders.product[Punctuate.PunctState[AttributionState]]
    implicit val kEnc: Encoder[Long] = Encoders.scalaLong
    implicit val rowEnc: Encoder[(Long, Long, Long, Long, String, java.sql.Timestamp)] =
      Encoders.product[(Long, Long, Long, Long, String, java.sql.Timestamp)]
    val rows = events.withWatermark(tsCol, watermarkDelay)
      .select(col(userCol).cast("long"),
        expr(s"unix_micros(`$tsCol`) div 1000"), // ms for timeouts
        col(tsUsCol).cast("long"), col(idCol).cast("long"),
        col(typeCol), col(tsCol))
      .as[(Long, Long, Long, Long, String, java.sql.Timestamp)]
    Punctuate.eventTimePunctuate[
        (Long, Long, Long, Long, String, java.sql.Timestamp), Long,
        AttributionState, AttributionVerdict](
      rows, keyFn = _._1, tsMsFn = _._2,
      zero = AttributionState(Nil, Nil),
      fold = (st, r) =>
        if (r._5 == touchType) st.copy(touches = (r._3, r._4) :: st.touches)
        else if (r._5 == convType) st.copy(convs = (r._3, r._4) :: st.convs)
        else st,
      finish = (user, st) => {
        // lexicographic sort = (ts, id): the LAST admissible element is
        // the latest touch, greatest id on ties — the batch tie rule
        val touches = st.touches.sorted.toIndexedSeq
        st.convs.sorted.iterator.map { case (t, cid) =>
          val idx = touches.lastIndexWhere(_._1 <= t)
          if (idx >= 0 && touches(idx)._1 >= t - lookbackUs)
            AttributionVerdict(cid, user, t,
              Some(touches(idx)._2), Some(t - touches(idx)._1), attributed = true)
          else AttributionVerdict(cid, user, t, None, None, attributed = false)
        }
      })
  }

  /** Streaming Kleinberg burst detection (ST34) — q55's live face over
    * [[Punctuate.eventTimePunctuate]] (the ST28 pattern): each user's
    * exact long-nanos event times accumulate in punctuated state; once
    * the watermark proves the history complete, the IDENTICAL compiled
    * batch DP ([[graft.operators.Bursts.episodes]] — same λ0 division,
    * same round(9)ed lns, same tie rule) runs once over the sorted
    * times and the episodes emit. Emission is therefore arrival-order
    * independent, and the verdicts EQUAL oracle-verified q55 row for
    * row (StreamingBatchEquivalenceSpec). State per user is its event
    * count — the q26/q55 bounded-history-per-key argument; the
    * watermark bounds how long a silent user's history is held.
    */
  final case class BurstEpisode(user_id: Long, burst_start: Long,
      burst_end: Long, n_gaps: Long, n_events: Long)
  final case class BurstAccState(tss: List[Long])

  def burstDetect(events: DataFrame, userCol: String, tsCol: String,
      tsNsCol: String, s: Double, gamma: Double,
      watermarkDelay: String): Dataset[BurstEpisode] = {
    implicit val outEnc: Encoder[BurstEpisode] = Encoders.product[BurstEpisode]
    implicit val stEnc: Encoder[Punctuate.PunctState[BurstAccState]] =
      Encoders.product[Punctuate.PunctState[BurstAccState]]
    implicit val kEnc: Encoder[Long] = Encoders.scalaLong
    implicit val rowEnc: Encoder[(Long, Long, Long, java.sql.Timestamp)] =
      Encoders.product[(Long, Long, Long, java.sql.Timestamp)]
    val rows = events.withWatermark(tsCol, watermarkDelay)
      .select(col(userCol).cast("long"),
        expr(s"unix_micros(`$tsCol`) div 1000"), // ms for the timer
        col(tsNsCol).cast("long"), col(tsCol))
      .as[(Long, Long, Long, java.sql.Timestamp)]
    val (sv, gv) = (s, gamma)
    Punctuate.eventTimePunctuate[(Long, Long, Long, java.sql.Timestamp), Long,
        BurstAccState, BurstEpisode](
      rows, keyFn = _._1, tsMsFn = _._2,
      zero = BurstAccState(Nil),
      fold = (st, r) => BurstAccState(r._3 :: st.tss),
      finish = (user, st) =>
        graft.operators.Bursts.episodes(st.tss.sorted, sv, gv).iterator
          .map { case (s0, e0) =>
            BurstEpisode(user, s0, e0, e0 - s0 + 1L, e0 - s0 + 2L) })
  }

  /** Idle-key (missing-heartbeat) detection (ST22) — the canonical
    * Kafka Streams punctuator use case: alert when a key goes SILENT.
    * Per key, fold first/last/count of its event times; when the
    * watermark proves no event arrived for `quietMs` beyond the last
    * one, emit ONE alert with the activity summary and drop the state
    * (a later event re-arms the key for a fresh alert). Built entirely
    * by wiring [[Punctuate.eventTimePunctuate]] — fold/finish only, no
    * timer plumbing: the helper's reuse contract demonstrated.
    */
  final case class IdleKeyAlert(key: Long, first_seen_ms: Long,
      last_seen_ms: Long, n_events: Long)
  final case class IdleKeyState(firstMs: Long, lastMs: Long, n: Long)

  def detectIdleKeys(events: DataFrame, keyCol: String, tsCol: String,
      quietMs: Long, watermarkDelay: String): Dataset[IdleKeyAlert] = {
    require(quietMs > 0, s"quietMs must be > 0: $quietMs")
    implicit val outEnc: Encoder[IdleKeyAlert] = Encoders.product[IdleKeyAlert]
    implicit val stEnc: Encoder[Punctuate.PunctState[IdleKeyState]] =
      Encoders.product[Punctuate.PunctState[IdleKeyState]]
    implicit val kEnc: Encoder[Long] = Encoders.scalaLong
    implicit val rowEnc: Encoder[(Long, Long, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.TIMESTAMP)
    val rows = events.withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).cast("long"),
        expr(s"unix_micros(`$tsCol`) div 1000"), col(tsCol))
      .as[(Long, Long, java.sql.Timestamp)]
    Punctuate.eventTimePunctuate[(Long, Long, java.sql.Timestamp), Long,
        IdleKeyState, IdleKeyAlert](
      rows, keyFn = _._1, tsMsFn = _._2,
      zero = IdleKeyState(Long.MaxValue, Long.MinValue, 0L),
      fold = (st, r) => IdleKeyState(math.min(st.firstMs, r._2),
        math.max(st.lastMs, r._2), st.n + 1),
      finish = (k, st) =>
        Iterator.single(IdleKeyAlert(k, st.firstMs, st.lastMs, st.n)),
      quietMs = quietMs)
  }

  /** Per-key stateful processing with error capture — the analog of
    * ErrorCapturingProcessor/ValueProcessor (stateful `Processor`s with a
    * state store): tracks a running per-key count of processed and failed
    * records in `GroupState`, emitting one record per input with the
    * state snapshot attached.
    */
  final case class KeyState(ok: Long, failed: Long)
  final case class StatefulOut(key: String, value: Option[Long], errorClass: Option[String],
      okSoFar: Long, failedSoFar: Long)

  def statefulCapture[K](
      stream: Dataset[(String, String)],
      f: String => Long): Dataset[StatefulOut] = {
    implicit val outEnc: Encoder[StatefulOut] = Encoders.product[StatefulOut]
    implicit val stEnc: Encoder[KeyState] = Encoders.product[KeyState]
    implicit val tupEnc: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    stream.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[KeyState, StatefulOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[KeyState]) =>
          var st = state.getOption.getOrElse(KeyState(0L, 0L))
          val out = rows.map { case (_, v) =>
            scala.util.Try(f(v)) match {
              case scala.util.Success(r) =>
                st = st.copy(ok = st.ok + 1)
                StatefulOut(key, Some(r), None, st.ok, st.failed)
              case scala.util.Failure(t) =>
                st = st.copy(failed = st.failed + 1)
                StatefulOut(key, None, Some(t.getClass.getName), st.ok, st.failed)
            }
          }.toList
          state.update(st)
          out.iterator
      }
  }
}
