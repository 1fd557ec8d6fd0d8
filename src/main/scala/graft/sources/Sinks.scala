package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.ErrorFrame

/** Sinks and source-side helpers.
  *
  * The reference's "sinks" are Kafka topics (`mapped.to(OUTPUT_TOPIC)`,
  * `deadLetters.to(ERROR_TOPIC)` — README.md). The Spark analogs here:
  *  - Kafka-sink-shaped frames (key/value/headers contract of the Spark
  *    Kafka writer) so the same frame can go to a real Kafka sink
  *    unchanged;
  *  - date/class-partitioned parquet DLQ storage, the batch-queryable
  *    dead-letter "topic": partition pruning makes "errors of class X on
  *    day D" a metadata-only scan at 100 TB.
  */
object Sinks {

  /** Shape a values/dead-letter frame into the Kafka writer contract:
    * `key: binary, value: binary, headers: array<struct<key,value>>`,
    * plus an optional per-row `topic` column (the Spark Kafka writer
    * routes on it when no fixed topic option is set — the analog of the
    * reference's `deadLetters.to(ERROR_TOPIC)` with a dynamic topic).
    */
  def toKafkaRecords(df: DataFrame, keyCol: Column, valueCol: Column,
      headersCol: Option[Column] = None, topicCol: Option[Column] = None): DataFrame = {
    val cols = Seq(
      keyCol.cast("string").cast("binary").as("key"),
      valueCol.cast("string").cast("binary").as("value")) ++
      headersCol.map(_.as("headers")) ++
      topicCol.map(_.cast("string").as("topic"))
    df.select(cols: _*)
  }

  /** Write dead letters partitioned by ingest date and error class —
    * the layout that keeps DLQ triage queries partition-pruned.
    */
  def writeDeadLetters(deadLetters: DataFrame, path: String): Unit =
    deadLetters
      .withColumn("dlq_date", coalesce(to_date(col("input_timestamp")), lit("1970-01-01").cast("date")))
      .withColumn("error_class", coalesce(col("cause.error_class"), lit("unknown")))
      .write
      .options(LocalFiles.writerOptions(deadLetters.sparkSession, path))
      .partitionBy("dlq_date", "error_class")
      .mode("append")
      .parquet(path)

  /** DLQ retention sweep: delete every `dlq_date=` partition strictly
    * older than `cutoffDate` (ISO yyyy-MM-dd). Pure METADATA operation —
    * directory names are compared as strings (the layout's dates are
    * zero-padded ISO, so lexicographic = chronological) and expired
    * dirs are removed recursively; no row is ever read, which is what
    * makes retention affordable on a DLQ that has accumulated years.
    * Returns the deleted partition names, oldest first.
    */
  def expireDeadLetters(spark: org.apache.spark.sql.SparkSession,
      path: String, cutoffDate: String): Seq[String] = {
    require(cutoffDate.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoffDate must be ISO yyyy-MM-dd: $cutoffDate")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else {
      val expired = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("dlq_date="))
        .map(_.getPath)
        .filter(_.getName.stripPrefix("dlq_date=") < cutoffDate)
        .sortBy(_.getName)
      expired.foreach(p => fs.delete(p, true))
      expired.map(_.getName)
    }
  }

  /** Read a partitioned DLQ back (partition filters prune on
    * dlq_date/error_class).
    */
  def readDeadLetters(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Reprocess dead letters: re-run a fixed transform over the DLQ's
    * `input_value` and split again — the retry half of the DLQ lifecycle
    * (in the reference this is "replay the error topic through the fixed
    * topology"). `.values` are the recovered rows; `.errors` /
    * `.deadLetters(desc)` are the still-poisoned ones with the new error.
    */
  def reprocess(deadLetters: DataFrame, retry: Column): ErrorFrame =
    ErrorFrame.captureErrors(
      deadLetters.select(col("input_value")),
      Map("retried" -> retry),
      input = col("input_value"))

  /** Bounded multi-round DLQ replay — the batch packaging of the
    * reference's handler-level retry (FilteringProcessingExceptionHandler
    * retries without failing the job): round r re-runs the rows still
    * failing through `retry(r)`; recovered rows accumulate tagged with
    * the round that healed them, and rows failing every round
    * re-dead-letter as `still_failed` with the final round count — a
    * complete fixed-point accounting of the DLQ's lifecycle in one frame:
    * `(input_value, outcome, round, retried, error_class)`.
    *
    * Each round's capture is pinned (localCheckpoint) before its two
    * consumers split it: the recovered/failed branches would otherwise
    * re-run the capture scan per action, and the per-round lineage would
    * stack across rounds (the iterative-Spark trap). Pending shrinks
    * monotonically, so total work is bounded by maxRounds × |DLQ|.
    */
  def reprocessLoop(deadLetters: DataFrame, retry: Int => Column,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    var pending = deadLetters.select(col("input_value"))
    var acc: DataFrame = null
    var round = 1
    while (round <= maxRounds) {
      val ann = ErrorFrame.captureErrors(pending,
          Map("retried" -> retry(round)), input = col("input_value"))
        .annotated
        .localCheckpoint()
      val retriedType = ann.schema("retried").dataType
      val recovered = ann.filter(!col("is_error"))
        .select(col("input_value"), lit("recovered").as("outcome"),
          lit(round).as("round"), col("retried"),
          lit(null).cast("string").as("error_class"))
      acc = if (acc == null) recovered else acc.unionByName(recovered)
      val failed = ann.filter(col("is_error"))
      if (round == maxRounds)
        acc = acc.unionByName(failed.select(col("input_value"),
          lit("still_failed").as("outcome"), lit(round).as("round"),
          lit(null).cast(retriedType).as("retried"), col("error_class")))
      pending = failed.select(col("input_value"))
      round += 1
    }
    acc
  }

  /** DLQ rate limiting (error-storm suppression): keep only the FIRST
    * `maxPerKey` error rows per key (typically (error_class, time
    * bucket)) in a deterministic order, so a poisoned upstream can
    * never flood the dead-letter store — the kept rows are the
    * diagnostic sample, the suppressed tail is accounted, not stored.
    *
    * The selection runs through the TopKPerKey operator: bounded
    * per-key heaps with map-side partial top-k BEFORE the key exchange
    * — during an error storm (the exact moment this operator matters)
    * the shuffle carries ≤ maxPerKey rows per key per partition, not
    * the storm. Returns the kept rows unchanged; pair with
    * [[rateLimitAccounting]] for the per-key totals.
    */
  def rateLimitDeadLetters(errors: DataFrame, keyCols: Seq[String],
      orderBy: Seq[graft.operators.TopK.Sort], maxPerKey: Int): DataFrame =
    graft.operators.TopK.perKey(errors, keyCols, orderBy, maxPerKey)

  /** Per-key totals for a rate-limited DLQ: total, kept and suppressed
    * counts per key — one count aggregate over the error frame joined
    * to the kept counts (the kept side is ≤ maxPerKey rows per key by
    * construction, so the join is against a tiny aggregate).
    */
  def rateLimitAccounting(errors: DataFrame, kept: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val key = keyCols.map(col)
    val totals = errors.groupBy(key: _*).agg(count(lit(1)).as("n_total"))
    val keptCounts = kept.groupBy(key: _*).agg(count(lit(1)).as("n_kept"))
    totals.join(keptCounts, keyCols)
      .withColumn("n_suppressed", col("n_total") - col("n_kept"))
  }

  /** Hourly DLQ trend with error-storm detection — the monitoring read
    * over the dead-letter store: counts per (error class, hour), each
    * hour flagged `spike` when its count exceeds the class mean by more
    * than `k` standard deviations. The z-test is ALL-INTEGER: flag iff
    * `c·n − S1 > 0` and `(c·n − S1)² > k²·(n·S2 − S1²)` — exactly
    * `(c−μ)² > k²σ²` cross-multiplied by `n²` — so the verdict is
    * engine-bit-exact with no doubles anywhere, even AT the boundary.
    * Plan shape: one hash aggregate to (class, hour) grain (map-side
    * partials absorb the storm — an hour's million errors arrive at the
    * shuffle as one partial count per partition), then a per-class
    * stats frame of #classes rows broadcast back. `tsNanosCol` follows
    * the repo-wide long-nanos timestamp contract.
    */
  def errorTrend(errors: DataFrame, classCol: String, tsNanosCol: String,
      k: Int = 2): DataFrame = {
    require(k >= 1, s"spike threshold k must be >= 1: $k")
    val hourly = errors
      .withColumn("hour", date_trunc("hour",
        timestamp_micros(expr(s"`$tsNanosCol` div 1000"))).cast("string"))
      .groupBy(col(classCol), col("hour"))
      .agg(count(lit(1)).as("c"))
    val stats = hourly.groupBy(col(classCol))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    val dev = col("c") * col("n_hours") - col("s1")
    hourly.join(broadcast(stats), classCol)
      .withColumn("spike", dev > 0 &&
        dev * dev > lit(k.toLong * k) * (col("n_hours") * col("s2") - col("s1") * col("s1")))
  }

  /** Multi-window error-budget burn-rate alerting (the SRE-workbook
    * rule applied to the DLQ): a class alerts only when BOTH a short
    * and a long window burn the budget at `factor`× — the short window
    * gives fast detection, the long window suppresses blips. All
    * comparisons are integer (counts vs factor × budget × hours); the
    * "now" anchor is the store's max event time, broadcast from a
    * 1-row aggregate into one conditional-count scan — two passes over
    * the error store total, no window functions, no doubles.
    * `tsNanosCol` follows the repo-wide long-nanos contract.
    */
  def burnRate(errors: DataFrame, classCol: String, tsNanosCol: String,
      budgetPerHour: Long, factor: Long = 2L,
      shortHours: Long = 1L, longHours: Long = 6L): DataFrame = {
    require(budgetPerHour >= 0 && factor >= 1 && shortHours >= 1
      && longHours > shortHours, "bad burn-rate parameters")
    val us = expr(s"`$tsNanosCol` div 1000")
    val anchored = errors
      .select(col(classCol), us.as("__us"))
      .crossJoin(broadcast(
        errors.agg(max(us).as("__now"))))
    val hUs = 3600L * 1000000L
    anchored.groupBy(col(classCol))
      .agg(
        sum(when(col("__us") > col("__now") - shortHours * hUs, 1L)
          .otherwise(0L)).as("n_short"),
        sum(when(col("__us") > col("__now") - longHours * hUs, 1L)
          .otherwise(0L)).as("n_long"))
      .withColumn("alert",
        col("n_short") > factor * budgetPerHour * shortHours &&
          col("n_long") > factor * budgetPerHour * longHours)
  }

  /** Crash-grouping fingerprints over a dead-letter store (the
    * Sentry-style triage view): value-dependent error messages collapse
    * to their TEMPLATE by masking digit runs and quoted fragments, so a
    * million "invalid value 'x123'" dead letters group into one row.
    * One hash aggregate keyed (error_class, template) — map-side
    * partials mean each distinct crash signature crosses the exchange
    * once per upstream partition, never once per dead letter.
    * Output: error_class, template, fp (md5 of class|template — the
    * stable cross-run issue id), n, example_input (min — deterministic).
    */
  def fingerprintErrors(errors: DataFrame, classCol: String = "error_class",
      msgCol: String = "error_message",
      inputCol: String = "input_value"): DataFrame = {
    // first line only: runtime messages append the failing SQL fragment
    // with caret markers — query context, not crash identity
    val template = regexp_replace(
      regexp_replace(
        substring_index(coalesce(col(msgCol), lit("")), "\n", 1),
        "'[^']*'", "'?'"),
      "[0-9]+", "#")
    errors
      .groupBy(col(classCol), template.as("template"))
      .agg(count(lit(1)).as("n"),
        min(col(inputCol).cast("string")).as("example_input"))
      .withColumn("fp", md5(concat(col(classCol), lit("|"), col("template"))))
  }

  /** Deterministic triage exemplars: the `k` dead-letter inputs per
    * error class with the smallest content hash — a stable,
    * arrival-order-independent, replay-identical sample (what "show me
    * a few examples of this failure" should return, vs. LIMIT's
    * whatever-arrived-first). Content addressing makes it unbiased
    * toward early partitions AND stable as the store grows: an exemplar
    * only changes when a new input hashes lower. Runs through the
    * bounded-heap TopK operator — map-side partial top-k, the shuffle
    * carries ≤ k rows per class per partition however large the store.
    */
  def sampleErrorExemplars(errors: DataFrame, k: Int,
      classCol: String = "error_class",
      inputCol: String = "input_value"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val keyed = errors.select(col(classCol),
        col(inputCol).cast("string").as("exemplar"))
      .withColumn("h", md5(col("exemplar")))
    graft.operators.TopK.perKey(keyed, Seq(classCol),
      Seq(graft.operators.TopK.asc("h"), graft.operators.TopK.asc("exemplar")), k)
  }
}
