package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, min, when}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.LocalFiles

import StreamErrorHandling.{eachTrigger, writeSinks}

/** Streaming materialized-view maintenance — the streaming twin of
  * `Pipeline.refreshAggState` (x8): every micro-batch folds into a
  * per-key aggregate state table instead of ever reaggregating
  * history. At 100 TB of backfill plus a live stream this IS the only
  * workable shape: the state table is key-cardinality-sized, each
  * trigger costs one batch aggregate plus one state merge.
  *
  * Every state table here is an [[EpochStore]]: trigger `N` reads the
  * newest `epoch=M` with `M < N` and OVERWRITES `epoch=N`, so a
  * crash-replayed trigger recomputes against the untouched input epoch
  * and rewrites its own output — no double counting
  * (StoreReplayPropertySpec pins it for every member).
  */
object StreamAggState {

  /** Start the maintenance query: per trigger, fold the micro-batch
    * into the aggregate state at `statePath` (columns: keyCols, `n`,
    * `sum_<c>` per sumCol). Read the live state with [[readState]].
    */
  def maintainAggState(stream: DataFrame, keyCols: Seq[String],
      sumCols: Seq[String], statePath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processTrigger(batch, batchId, keyCols, sumCols, statePath)
    }

  /** One trigger, factored out so the crash-replay contract is testable
    * deterministically: calling this twice with the same `batchId` must
    * leave the same state (the second call reads the same `epoch<N`
    * input and overwrites the same `epoch=N` output).
    */
  private[graft] def processTrigger(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], sumCols: Seq[String], statePath: String): Unit = {
    val spark = batch.sparkSession
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    // materialize = false: the epoch write below IS the round's
    // materialization, and the next trigger reads from parquet — the
    // lineage truncates by construction
    state.commit(batchId, graft.operators.Pipeline
      .refreshAggState(prior, batch, keyCols, sumCols, materialize = false))
  }

  /** The current (latest-epoch) aggregate state, if any trigger ran.
    * Note: state KEYS never regress (the merge unions key sets), so a
    * readable-but-empty newest epoch can only mean "no data yet" —
    * EpochStore's empty-dir rule is safe here too.
    */
  def readState(spark: SparkSession, statePath: String): Option[DataFrame] =
    EpochStore(spark, statePath).before(Long.MaxValue)

  /** Streaming burst detection against a MAINTAINED per-user
    * event-time store — ST34's store face (the punctuate face is
    * [[StreamErrorHandling.burstDetect]]): each trigger folds its
    * batch's (user_id, ts) pairs into the epoch-keyed store, DISTINCT
    * by the pair so duplicate deliveries and replays collapse, and the
    * current Kleinberg episodes are always derivable by running the
    * UNCHANGED compiled batch operator over the store
    * ([[burstEpisodesFromState]] — StreamingSpec pins equality with
    * oracle-verified q55 over the same corpus). Epoch overwrite
    * inherits the family crash contract (StoreReplayPropertySpec
    * membership).
    */
  def maintainBurstEvents(stream: DataFrame, statePath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processBurstTrigger(batch, batchId, statePath)
    }

  private[graft] def processBurstTrigger(batch: DataFrame, batchId: Long,
      statePath: String): Unit = {
    val spark = batch.sparkSession
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val events = batch.select(col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts"))
    state.commit(batchId,
      prior.map(_.unionByName(events)).getOrElse(events).distinct())
  }

  /** Current burst episodes over everything the store has seen — the
    * q55 batch operator applied to the maintained history. */
  def burstEpisodesFromState(spark: SparkSession, statePath: String,
      s: Double = 2.0, gamma: Double = 0.5): Option[DataFrame] =
    readState(spark, statePath)
      .map(st => graft.operators.Bursts.kleinberg(st, s, gamma))

  /** Streaming ExactSubstr dedup against a MAINTAINED fingerprint
    * store — the streaming face of D34 the way maintainLshDedup is
    * D6's: each trigger winnow-selects ONLY its batch, merges its
    * per-fingerprint argmin into the epoch-keyed (fp, keep_key) store,
    * trims the batch's non-canonical passages against the MERGED store
    * (so a passage first seen triggers ago still trims today's clone,
    * and within-batch repeats trim immediately), and writes the
    * trimmed docs to values/batch_id=N. The store is one row per
    * DISTINCT fingerprint — O(corpus grams / w·2) keys, independent of
    * duplication frequency, the same no-pair-join property as the
    * batch operator. When doc ids are monotone with arrival order
    * (ingest reality), the union of all trigger outputs EQUALS the
    * batch exactSubstrTrim of the full corpus — pinned by
    * StreamingSpec; crash-replay idempotence by
    * StoreReplayPropertySpec membership.
    */
  def maintainExactSubstr(stream: DataFrame, k: Int, w: Int,
      statePath: String, valuesPath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processExactSubstrTrigger(batch, batchId, k, w, statePath, valuesPath)
    }

  private[graft] def processExactSubstrTrigger(batch: DataFrame,
      batchId: Long, k: Int, w: Int, statePath: String,
      valuesPath: String): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val toks = Dedup.tokenFrame(batch, "text", "doc_id").localCheckpoint()
    val occ = Dedup.winnowOccurrences(toks, k, w)
      .localCheckpoint() // feeds the store merge AND the removals join
    val batchCanon = occ.groupBy(col("fp")).agg(min(col("okey")).as("keep_key"))
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val store = prior
      .map(_.unionByName(batchCanon).groupBy(col("fp"))
        .agg(min(col("keep_key")).as("keep_key")))
      .getOrElse(batchCanon)
      .localCheckpoint() // consumed by removals AND the epoch write
    val removals = occ.join(store, "fp")
      .filter(col("okey") =!= col("keep_key"))
      .select(col("doc_id"), col("p"))
    // values BEFORE the state epoch: a crash in between replays the
    // trigger, which rewrites both destinations idempotently (the
    // store was computed from epochs < N only)
    LocalFiles.writeParquet(Dedup.trimByRemovals(toks, removals, k),
      s"$valuesPath/batch_id=$batchId")
    state.commit(batchId, store)
  }

  /** Streaming per-domain document cap — P15's live face (ST37): the
    * anti-domination gate applied AT INGEST so a crawl burst from one
    * domain never floods the store. The maintained state is one
    * (domain, n_admitted) row per domain seen — metadata-scale, the
    * smallest store in the family. Per trigger: the batch's candidates
    * are thinned per-domain through the bounded-heap TopKPerKey
    * operator FIRST (at most k can ever be admitted, so ≤ k rows per
    * domain per partition cross the exchange however large the
    * trigger), then a row_number over that ≤ domains×k frame admits
    * only while prior_count + rank ≤ k; admitted docs land in
    * values/batch_id=N, over-cap docs in rejected/batch_id=N (the DLQ
    * discipline — suppression is observable, never silent), and the
    * incremented counts overwrite epoch=N.
    *
    * Batch-twin: when arrival order is doc-id order, the union of
    * admitted outputs EQUALS batch [[graft.operators.Pipeline
    * .capPerDomain]] of the full corpus (spec-pinned); crash-replay
    * idempotence by StoreReplayPropertySpec membership (values before
    * state, epochs < N untouched).
    */
  def maintainDomainCap(stream: DataFrame, domainCol: String, k: Int,
      statePath: String, valuesPath: String, rejectedPath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processDomainCapTrigger(batch, batchId, domainCol, k,
        statePath, valuesPath, rejectedPath)
    }

  private[graft] def processDomainCapTrigger(batch: DataFrame, batchId: Long,
      domainCol: String, k: Int, statePath: String, valuesPath: String,
      rejectedPath: String): Unit = {
    require(k >= 1, s"domain cap must be >= 1: $k")
    val spark = batch.sparkSession
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val pinned = batch.localCheckpoint() // feeds candidates AND the reject diff
    // bounded-heap thinning: nothing beyond k per domain can be
    // admitted, so the window below never sees more than domains×k rows
    val cand = graft.operators.TopK.perKey(pinned, Seq(domainCol),
      Seq(graft.operators.TopK.asc("doc_id")), k)
    val ranked = cand.withColumn("__rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(domainCol)).orderBy(col("doc_id").asc)))
    val withPrior = ranked.join(
      broadcast(prior.getOrElse(
        spark.emptyDataset[(String, Long)](
          org.apache.spark.sql.Encoders.product[(String, Long)])
          .toDF(domainCol, "n_admitted"))),
      Seq(domainCol), "left_outer")
      .withColumn("__room", lit(k.toLong) - coalesce(col("n_admitted"), lit(0L)))
      .localCheckpoint() // admitted values AND the count increment read it
    val admitted = withPrior.filter(col("__rn") <= col("__room"))
      .drop("__rn", "__room", "n_admitted")
    // values/rejected BEFORE the state epoch (family crash contract)
    writeSinks(spark)(
      (() => admitted) -> s"$valuesPath/batch_id=$batchId",
      (() => pinned.join(admitted.select(col("doc_id").as("__adm")),
          col("doc_id") === col("__adm"), "left_anti")) ->
        s"$rejectedPath/batch_id=$batchId")
    val increments = withPrior.filter(col("__rn") <= col("__room"))
      .groupBy(col(domainCol)).agg(count(lit(1)).as("n_new"))
    val store = prior.getOrElse(
        spark.emptyDataset[(String, Long)](
          org.apache.spark.sql.Encoders.product[(String, Long)])
          .toDF(domainCol, "n_admitted"))
      .join(increments, Seq(domainCol), "full_outer")
      .select(col(domainCol),
        (coalesce(col("n_admitted"), lit(0L))
          + coalesce(col("n_new"), lit(0L))).as("n_admitted"))
    state.commit(batchId, store)
  }

  /** Streaming chi-square drift monitor (ST39) — X28's live face: the
    * maintained state is the (a, b, o) CONTINGENCY TABLE itself
    * (report-dimension-sized — |A|·|B| rows however large the stream),
    * folded per trigger by one cell-grain merge; the current
    * independence statistic is re-derived from the store by the
    * UNCHANGED batch operator (`Pipeline.chiSquareFromCells`) and
    * written to stats/batch_id=N — so trigger N's statistic is
    * BIT-EQUAL to batch `chiSquare` over everything ingested through
    * trigger N (same cells, same sorted fold; StreamingSpec pins it).
    * Stats before state (family crash contract).
    */
  def maintainChiSquare(stream: DataFrame, aCol: String, bCol: String,
      statePath: String, statsPath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processChiSquareTrigger(batch, batchId, aCol, bCol, statePath, statsPath)
    }

  private[graft] def processChiSquareTrigger(batch: DataFrame, batchId: Long,
      aCol: String, bCol: String, statePath: String,
      statsPath: String): Unit = {
    val spark = batch.sparkSession
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val batchCells = batch
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
    val store = prior
      .map(_.unionByName(batchCells).groupBy(col("a"), col("b"))
        .agg(org.apache.spark.sql.functions.sum(col("o")).as("o")))
      .getOrElse(batchCells)
      .localCheckpoint() // stats derivation AND the epoch write
    LocalFiles.writeParquet(graft.operators.Pipeline.chiSquareFromCells(store),
      s"$statsPath/batch_id=$batchId")
    state.commit(batchId, store)
  }

  /** Streaming incremental near-dup detection against a MAINTAINED LSH
    * band index — the streaming face of d6/d25: each trigger signs
    * ONLY its batch, probes the epoch-keyed index of everything seen
    * before, emits the verified corpus×batch (da, db, jaccard) pairs
    * for the trigger (d6's `minHashLshIncremental` semantics — the
    * spec pins per-trigger equality with that batch twin), then
    * rewrites BOTH state epochs (band index, shingle sets) with the
    * batch folded in. The PROBE is what's incremental (∝ batch size);
    * the epoch rewrite is O(corpus) I/O per trigger — the
    * compacted-log family's documented shape. Inherits the family
    * crash contract: a replayed trigger reads the untouched
    * epochs < N and overwrites epoch=N plus its per-batch pair dir —
    * proven by its StoreReplayPropertySpec membership, not a bespoke
    * test.
    */
  def maintainLshDedup(stream: DataFrame, numHashes: Int, rowsPerBand: Int,
      shingleSize: Int, threshold: Double, statePath: String,
      pairsPath: String, checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processLshDedupTrigger(batch, batchId, numHashes, rowsPerBand,
        shingleSize, threshold, statePath, pairsPath)
    }

  private[graft] def processLshDedupTrigger(batch: DataFrame, batchId: Long,
      numHashes: Int, rowsPerBand: Int, shingleSize: Int, threshold: Double,
      statePath: String, pairsPath: String): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val newSets = Dedup.shingleSets(batch, shingleSize, "text", "doc_id")
      .localCheckpoint() // feeds bands, verification, and the docs epoch
    val newBands = Dedup.lshBands(
      newSets.select(col("doc_id"), graft.functions.Fence(
        graft.functions.MinHashSig(col("ts"), numHashes)).as("sig")),
      rowsPerBand).localCheckpoint()
    val (bands, docs) =
      (EpochStore(spark, s"$statePath/bands"), EpochStore(spark, s"$statePath/docs"))
    val priorBands = bands.before(batchId)
    val priorDocs = docs.before(batchId)
    val pairs = (priorBands, priorDocs) match {
      case (Some(pb), Some(pd)) =>
        val cand = pb.as("a").join(newBands.as("b"),
            col("a.band") === col("b.band")
              && col("a.bandsig") === col("b.bandsig"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        Dedup.verifyJaccard(cand, pd.unionByName(newSets), threshold)
      case _ =>
        // first trigger: no corpus yet, no pairs by d6 semantics — the
        // empty frame comes from the SAME operator so the batch-0
        // parquet schema can never diverge from later batches'
        Dedup.verifyJaccard(
          newSets.select(col("doc_id").as("da"), col("doc_id").as("db"))
            .limit(0),
          newSets, threshold)
    }
    // per-batch-dir pair output BEFORE the state epochs: a crash
    // anywhere in between replays the whole trigger, which rewrites
    // every one of the three destinations idempotently
    LocalFiles.writeParquet(pairs, s"$pairsPath/batch_id=$batchId")
    bands.commit(batchId, priorBands.map(_.unionByName(newBands)).getOrElse(newBands))
    docs.commit(batchId, priorDocs.map(_.unionByName(newSets)).getOrElse(newSets))
  }

  /** Streaming log compaction (ST11) — the compacted-topic VIEW
    * maintained from a live changelog: each micro-batch compacts
    * locally (`Pipeline.compactLog` — one batch-sized argmax
    * aggregate), then merges into the prior compacted state with
    * `Pipeline.mergeCompacted`, whose monoid property guarantees the
    * state equals one global compaction of all history. Per trigger
    * only key-cardinality frames shuffle; the log is read once, ever.
    * Epoch-keyed state store — the crash-replay contract of
    * [[maintainAggState]]. Read with [[readState]]; apply tombstone
    * semantics at read time (see mergeCompacted's doc for why they
    * must not be dropped mid-stream).
    */
  def maintainCompactedLog(stream: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCols: Seq[String], statePath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processCompactTrigger(batch, batchId, keyCols, orderCols,
        payloadCols, statePath)
    }

  private[graft] def processCompactTrigger(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], orderCols: Seq[String], payloadCols: Seq[String],
      statePath: String): Unit = {
    val spark = batch.sparkSession
    val bc = graft.operators.Pipeline.compactLog(batch, keyCols, orderCols,
      payloadCols)
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val merged = prior match {
      case Some(st) =>
        graft.operators.Pipeline.mergeCompacted(st, bc, keyCols, orderCols,
          payloadCols)
      case None => bc
    }
    state.commit(batchId, merged)
  }

  /** Streaming CDC emission (ST16) — [[maintainCompactedLog]] plus a
    * per-trigger CHANGELOG: alongside the new state, each trigger
    * writes the after-image rows of exactly the keys it touched —
    * `op = insert` for first-seen keys, `op = update` for keys whose
    * version count advanced — the streaming complement of D11's
    * snapshot diff and the feed D13's changelog apply consumes.
    * Detection is one left-outer join of two key-cardinality frames
    * (merged vs prior) on the key, comparing the monotone `n_versions`
    * counter — no payload comparison, no history rescans. Both stores
    * are epoch-keyed (crash replay rewrites, never re-appends), and
    * because changelog rows are full after-images, "latest epoch
    * mentioning the key" IS the state — the spec pins that fixed
    * point.
    */
  def maintainCompactedLogCdc(stream: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCols: Seq[String], statePath: String,
      cdcPath: String, checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processCdcTrigger(batch, batchId, keyCols, orderCols,
        payloadCols, statePath, cdcPath)
    }

  private[graft] def processCdcTrigger(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], orderCols: Seq[String], payloadCols: Seq[String],
      statePath: String, cdcPath: String): Unit = {
    val spark = batch.sparkSession
    val bc = graft.operators.Pipeline.compactLog(batch, keyCols, orderCols,
      payloadCols)
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    // pin: the merged frame feeds the state write AND the diff join —
    // unpinned it would re-run the merge aggregate once per consumer
    val merged = (prior match {
      case Some(st) =>
        graft.operators.Pipeline.mergeCompacted(st, bc, keyCols, orderCols,
          payloadCols)
      case None => bc
    }).localCheckpoint()
    val cdc = prior match {
      case None => merged.withColumn("op", lit("insert"))
      case Some(st) =>
        val pv = st.select((keyCols.map(col) :+
          col("n_versions").as("__prior_nv")): _*)
        merged.join(pv, keyCols, "left_outer")
          .withColumn("op",
            when(col("__prior_nv").isNull, lit("insert"))
              .when(col("n_versions") > col("__prior_nv"), lit("update")))
          .filter(col("op").isNotNull) // untouched keys emit nothing
          .drop("__prior_nv")
    }
    LocalFiles.writeParquet(cdc, s"$cdcPath/epoch=$batchId")
    state.commit(batchId, merged)
  }

  /** Streaming SCD Type-2 maintenance (ST20) — the historized
    * dimension kept live from a change stream: [[maintainCompactedLog]]
    * holds only latest-wins, this holds every version with validity
    * bounds (`Pipeline.scd2`'s shape), maintained incrementally. Per
    * trigger the CLOSED history is untouched; each key's OPEN version
    * is replayed as a synthetic log row at its original
    * `effective_from` (tie = Long.MinValue so it sorts first) and
    * folded with the batch through the same scd2 operator — a run that
    * continues the open value keeps its original start, a changed
    * value closes it; version ordinals continue via the open row's
    * offset. Cost per trigger: batch + one-row-per-key frames, never
    * history. Requires per-key ts-monotone arrival relative to the
    * open version (a batch row OLDER than a key's open
    * `effective_from` would belong inside closed history — that's a
    * batch d22 recompute, documented in SURVEY §6). `tieCol` must be a
    * LONG. Epoch-keyed store: crash replay rewrites its own epoch.
    */
  def maintainScd2(stream: DataFrame, keyCols: Seq[String],
      valueCols: Seq[String], tsCol: String, tieCol: String,
      statePath: String, checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processScd2Trigger(batch, batchId, keyCols, valueCols, tsCol,
        tieCol, statePath)
    }

  private[graft] def processScd2Trigger(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], valueCols: Seq[String], tsCol: String,
      tieCol: String, statePath: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val slim = batch.select((keyCols ++ valueCols :+ tsCol :+ tieCol).map(col): _*)
    val merged = prior match {
      case None => graft.operators.Pipeline.scd2(slim, keyCols, valueCols,
        tsCol, tieCol)
      case Some(st) =>
        val closed = st.filter(!col("is_current"))
        val open = st.filter(col("is_current"))
        val synth = open.select((keyCols ++ valueCols).map(col)
          :+ col("effective_from").as(tsCol)
          :+ lit(Long.MinValue).as(tieCol): _*)
        val recomputed = graft.operators.Pipeline.scd2(
          synth.unionByName(slim), keyCols, valueCols, tsCol, tieCol)
        val voff = open.select(keyCols.map(col)
          :+ (col("version") - 1).as("__voff"): _*)
        val adjusted = recomputed.join(voff, keyCols, "left_outer")
          .withColumn("version", col("version") + coalesce(col("__voff"), lit(0)))
          .drop("__voff")
        closed.unionByName(adjusted)
    }
    state.commit(batchId, merged)
  }

  /** Streaming anomaly detection (ST10) — the streaming twin of q34's
    * grouped z-score: each micro-batch row is judged against the
    * per-key power sums ACCUMULATED OVER ALL PRIOR TRIGGERS (count,
    * Σv, Σv² as decimals — order-independent, merge-exact), flagged
    * when `(v−μ)² > k²σ²` with at least `minPrior` prior observations
    * (earlier rows emit `flag = false` with their `n_prior` so the
    * warmup is visible, never silent). After judging, the batch folds
    * into the state via [[maintainAggState]]'s merge — only
    * key-cardinality frames ever shuffle, history is never rescanned.
    *
    * BOTH stores are epoch-keyed: trigger `N` reads state `epoch<N`,
    * overwrites state `epoch=N` AND verdicts `epoch=N` — a
    * crash-replayed trigger rewrites its own epochs instead of
    * appending, so no duplicate verdicts and no double-counted state
    * (the same contract the retry pending store pins). Read the verdict
    * stream as one frame with `spark.read.parquet(outPath)` (epochs are
    * plain subdirs).
    */
  def detectAnomalies(stream: DataFrame, keyCols: Seq[String],
      valueCol: String, k: Int, minPrior: Long, statePath: String,
      outPath: String, checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processAnomalyTrigger(batch, batchId, keyCols, valueCol, k,
        minPrior, statePath, outPath)
    }

  private[graft] def processAnomalyTrigger(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], valueCol: String, k: Int, minPrior: Long,
      statePath: String, outPath: String): Unit = {
    import org.apache.spark.sql.functions._
    // minPrior >= 1 keeps the missing-key branch three-valued-logic
    // safe: n_prior = 0 short-circuits the flag to false before the
    // null mu/vr of an unseen key can be compared
    require(k >= 1 && minPrior >= 1, s"need k/minPrior >= 1: $k/$minPrior")
    val spark = batch.sparkSession
    val dec = "decimal(18,4)"
    val enriched = batch
      .withColumn("__v", col(valueCol).cast(dec))
      .withColumn("__vv", col(valueCol).cast(dec) * col(valueCol).cast(dec))
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val judged = prior match {
      case Some(st) =>
        val stats = st.select(keyCols.map(col) :+ col("n").as("n_prior") :+
          (col("sum___v").cast("double") / col("n")).as("mu") :+
          (col("sum___vv").cast("double") / col("n")
            - (col("sum___v").cast("double") / col("n"))
              * (col("sum___v").cast("double") / col("n"))).as("vr"): _*)
        batch.join(broadcast(stats), keyCols, "left")
          .withColumn("n_prior", coalesce(col("n_prior"), lit(0L)))
          .withColumn("flag", col("n_prior") >= minPrior &&
            (col(valueCol) - col("mu")) * (col(valueCol) - col("mu"))
              > lit(k.toLong * k).cast("double") * col("vr"))
          .drop("mu", "vr")
      case None =>
        batch.withColumn("n_prior", lit(0L)).withColumn("flag", lit(false))
    }
    LocalFiles.writeParquet(judged, s"$outPath/epoch=$batchId")
    state.commit(batchId, graft.operators.Pipeline
      .refreshAggState(prior, enriched, keyCols, Seq("__v", "__vv"),
        materialize = false))
  }

  /** Streaming trailing-window distinct maintenance (ST24) — live
    * DAU/WAU: the x14 sketch path kept current from a stream. Each
    * trigger folds its (day → HLL sketch) aggregates into the persisted
    * day-sketch table with `hll_union_agg`, whose monoid property makes
    * the maintained table EQUAL `Pipeline.daySketchTable` batch-computed
    * over all history (the spec pins exact estimate equality, not
    * approximate) — so [[readWindowEstimates]] is exactly x14's sketch
    * read tail over the state. Per trigger only day-cardinality sketch
    * frames shuffle; rows are read once, on arrival, ever. Epoch-keyed
    * store: crash replay rewrites its own epoch, pinned like the rest.
    */
  def maintainSlidingDistinct(stream: DataFrame, dayCol: String,
      keyCol: String, statePath: String, checkpointPath: String,
      lgK: Int = 12): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processSlidingDistinctTrigger(batch, batchId, dayCol, keyCol,
        statePath, lgK)
    }

  private[graft] def processSlidingDistinctTrigger(batch: DataFrame,
      batchId: Long, dayCol: String, keyCol: String, statePath: String,
      lgK: Int): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val bs = graft.operators.Pipeline.daySketchTable(batch, dayCol, keyCol, lgK)
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val merged = prior match {
      case None => bs
      case Some(st) => st.unionByName(bs)
        .groupBy(col(dayCol))
        .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"))
    }
    state.commit(batchId, merged)
  }

  /** The live trailing-window estimates off the maintained day-sketch
    * state — w KB-sized sketch merges per window end, rows untouched.
    */
  def readWindowEstimates(spark: SparkSession, statePath: String,
      dayCol: String, windowDays: Int): Option[DataFrame] =
    readState(spark, statePath).map(st =>
      graft.operators.Pipeline.windowizeDaySketches(st, dayCol, windowDays))

  /** Streaming quantile monitoring (ST25) — live per-group latency/size
    * percentiles: each trigger's Greenwald–Khanna summaries (X20) fold
    * into a persisted per-group sketch table by blob merge — the
    * ORDER-STATISTICS member of the streaming sketch trio beside ST24's
    * HLL distincts and the CMS frequency path. Per trigger only
    * group-cardinality KB blobs shuffle; rows are seen once, on
    * arrival. GK merge approximately preserves the rank bound (the X20
    * 2ε note — the spec pins a per-merge-widened tolerance against the
    * exact ranks over all history). Epoch-keyed store, pinned replay.
    */
  def maintainQuantileSketch(stream: DataFrame, groupCol: String,
      valueCol: String, relativeError: Double, statePath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processQuantileTrigger(batch, batchId, groupCol, valueCol,
        relativeError, statePath)
    }

  private[graft] def processQuantileTrigger(batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, relativeError: Double,
      statePath: String): Unit = {
    val spark = batch.sparkSession
    val bs = graft.operators.Pipeline.quantileSketch(batch, groupCol,
      valueCol, relativeError)
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val merged = prior match {
      case None => bs
      case Some(st) => graft.operators.Pipeline
        .mergeQuantileSketchesBy(st.unionByName(bs), groupCol)
    }
    state.commit(batchId, merged)
  }

  /** Streaming frequency-sketch maintenance (ST27) — completes the
    * streaming face of the mergeable-sketch trio (ST24 HLL distincts,
    * ST25 GK quantiles): each trigger's per-group Count-Min grids (X15)
    * fold into a persisted sketch table by counter ADDITION, which is
    * byte-exact — so unlike the GK path, the maintained table EQUALS
    * the batch-computed one bit for bit (the spec pins blob equality,
    * not a tolerance). Heavy-hitter probes and storm detection off the
    * live state touch KB blobs, never rows. Epoch-keyed store, pinned
    * replay.
    */
  def maintainFreqSketch(stream: DataFrame, groupCol: String,
      valueCol: String, statePath: String, checkpointPath: String,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processFreqTrigger(batch, batchId, groupCol, valueCol,
        statePath, eps, confidence, seed)
    }

  private[graft] def processFreqTrigger(batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, statePath: String,
      eps: Double, confidence: Double, seed: Int): Unit = {
    val spark = batch.sparkSession
    val bs = graft.operators.Pipeline.freqSketch(batch, groupCol, valueCol,
      eps, confidence, seed)
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val merged = prior match {
      case None => bs
      case Some(st) => graft.operators.Pipeline
        .mergeFreqSketchesBy(st.unionByName(bs), groupCol)
    }
    state.commit(batchId, merged)
  }

  /** Streaming cluster-on-write ingest (ST26): each micro-batch lands
    * as its own `delta/batch_N` dir (idempotent overwrite — the
    * exactly-once layout of every sink here), then clustering
    * maintenance runs opportunistically: once enough tail batches
    * accumulate, they become one immutable Hilbert generation
    * (Layout.maintainClusteredBatches). Crash replay is covered from
    * both sides: a replayed trigger whose batch was ALREADY absorbed
    * into a generation consults the consumed-batch ledger and skips the
    * re-write (else the data would exist twice); a maintenance re-run
    * after a crash between generation write and tail delete sees its
    * batches in the ledger and only finishes the cleanup. The result:
    * a continuously-ingesting table whose files stay clustered on the
    * query dimensions with maintenance cost ∝ new data, never a full
    * rewrite — the streaming face of X26.
    */
  def clusterOnWrite(stream: DataFrame, root: String, cols: Seq[String],
      numFiles: Int, minDeltaBatches: Int,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processClusterOnWriteTrigger(batch, batchId, root, cols,
        numFiles, minDeltaBatches)
    }

  private[graft] def processClusterOnWriteTrigger(batch: DataFrame,
      batchId: Long, root: String, cols: Seq[String], numFiles: Int,
      minDeltaBatches: Int): Unit = {
    val spark = batch.sparkSession
    val name = s"batch_$batchId"
    if (!graft.sources.Layout.consumedBatches(spark, root).contains(name)) {
      LocalFiles.writeParquet(batch, s"$root/delta/$name")
    }
    graft.sources.Layout.maintainClusteredBatches(spark, root, cols,
      numFiles, minDeltaBatches)
    ()
  }

  /** Streaming kNN-GRAPH maintenance (ST32, VERDICT r11 task 7) — the
    * ST29/ST31 maintained-store pattern applied to graph ANN: per
    * trigger, the new vectors are folded into the graph and the
    * refreshed graph lands at `graphPath/batch_id=N`.
    *
    * Equality by construction with `Similarity.knnGraph` on the
    * corpus-so-far (the batch twin StreamingSpec pins exactly):
    * [[graft.operators.Similarity.knnGraph]] = refine(v, topG(allPairs))
    * and the maintained within-cell store satisfies
    * topG(W ∪ newPairs) = topG(allPairs) — top-g per src under a TOTAL
    * order (cosine desc, dst asc) is a sufficient statistic, so pruning
    * early loses nothing. What this buys at 100 TB: the QUADRATIC part
    * (Σ|cell|² within-cell candidate scoring) is incremental — a
    * trigger scores only Σ|cell_new|·|cell| new-touching pairs — while
    * the LINEAR parts (bridges n·b, NN-Descent n·(2g)² proposal bound)
    * re-derive per trigger from the maintained init. Input schema:
    * (vec_id, embedding, label) — the s13 corpus contract.
    *
    * State: `statePath/vectors` (pinned corpus) and `statePath/within`
    * (within-cell top-g edges), both epoch-keyed with the crash-replay
    * contract of [[maintainAggState]]: graph output writes BEFORE the
    * state epochs, a replayed trigger recomputes from epochs < N and
    * rewrites all three destinations idempotently
    * (StoreReplayPropertySpec row).
    */
  def maintainKnnGraph(stream: DataFrame, g: Int, rounds: Int, bridges: Int,
      statePath: String, graphPath: String,
      checkpointPath: String): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processKnnGraphTrigger(batch, batchId, g, rounds, bridges,
        statePath, graphPath)
    }

  private[graft] def processKnnGraphTrigger(batch: DataFrame, batchId: Long,
      g: Int, rounds: Int, bridges: Int, statePath: String,
      graphPath: String): Unit = {
    import graft.operators.{Similarity, TopK}
    val spark = batch.sparkSession
    val newV = Similarity.pinVectors(batch, "label")
    val (vectors, within) =
      (EpochStore(spark, s"$statePath/vectors"), EpochStore(spark, s"$statePath/within"))
    val priorV = vectors.before(batchId)
    val priorW = within.before(batchId)
    val allV = priorV.map(_.unionByName(newV)).getOrElse(newV)
      .localCheckpoint() // feeds scoring, refine, and the vectors epoch
    // only NEW-touching ordered pairs are scored: dst-new against the
    // whole corpus, plus src-new against the PRIOR corpus (new×new
    // already covered by the first term — no double emission)
    val newPairs = priorV match {
      case Some(pv) => Similarity.scoreSameCell(allV, newV)
        .unionByName(Similarity.scoreSameCell(newV, pv))
      case None => Similarity.scoreSameCell(newV, newV)
    }
    val w = TopK.perKey(
      priorW.map(_.unionByName(newPairs)).getOrElse(newPairs),
      Seq("src"), Seq(TopK.desc("cosine"), TopK.asc("dst")), g)
      .localCheckpoint() // consumed by refine AND the within epoch
    val graph = Similarity.refineKnnGraph(allV, w, g, rounds, bridges)
    // graph BEFORE the state epochs (the established replay ordering)
    LocalFiles.writeParquet(graph, s"$graphPath/batch_id=$batchId")
    vectors.commit(batchId, allV)
    within.commit(batchId, w)
  }

  /** Streaming BM25 retrieval against a MAINTAINED postings store —
    * the streaming face of t33 the way maintainLshDedup is d6's: each
    * trigger tokenizes ONLY its batch into a (doc_id, tok, tf) frame,
    * folds it into the epoch-keyed postings store, re-scores the fixed
    * `queryTerms` against the merged store, and writes the per-query
    * top-k to `scoresPath/batch_id=N`. Because batches carry disjoint
    * doc ids, tf-of-union IS union-of-tf, so every trigger's scores
    * EQUAL the batch `TextAnalysis.bm25TopDocs` on the corpus-so-far
    * by construction — StreamingSpec pins that equality exactly
    * (scores included: df/dl/avgdl all derive from the same store
    * both ways). The tokenize-and-aggregate cost — the corpus-sized
    * part — is ∝ batch; the scoring join prunes to query-term postings
    * before anything scores (the t33 shape); the store rewrite is the
    * compacted-log family's documented O(corpus) I/O per trigger.
    * Crash contract: scores write BEFORE the state epoch; a replayed
    * trigger recomputes from epochs < N and rewrites both idempotently
    * (StoreReplayPropertySpec row).
    */
  def maintainBm25(stream: DataFrame, queryTerms: DataFrame, k: Int,
      statePath: String, scoresPath: String, checkpointPath: String,
      k1: Double = 1.2, b: Double = 0.75): StreamingQuery =
    eachTrigger(stream, checkpointPath) { (batch, batchId) =>
      processBm25Trigger(batch, batchId, queryTerms, k, k1, b,
        statePath, scoresPath)
    }

  private[graft] def processBm25Trigger(batch: DataFrame, batchId: Long,
      queryTerms: DataFrame, k: Int, k1: Double, b: Double,
      statePath: String, scoresPath: String): Unit = {
    import graft.operators.TextAnalysis
    val spark = batch.sparkSession
    val batchTf = TextAnalysis.termFrequencies(batch)
    val state = EpochStore(spark, statePath)
    val prior = state.before(batchId)
    val store = prior.map(_.unionByName(batchTf)).getOrElse(batchTf)
      .localCheckpoint() // consumed by scoring AND the epoch write
    LocalFiles.writeParquet(TextAnalysis.bm25TopDocsFromTf(store, queryTerms, k, k1, b),
      s"$scoresPath/batch_id=$batchId")
    state.commit(batchId, store)
  }
}
