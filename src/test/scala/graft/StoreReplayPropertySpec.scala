package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.streaming.EpochStore

/** ONE crash-recovery property for the whole epoch-keyed store
  * family. Structured Streaming's foreachBatch can crash
  * anywhere inside a trigger, before the checkpoint's offset commit, so
  * the SAME batchId re-runs with the same input against whatever the
  * crash left on disk. The family-wide contract (EpochStore's): a
  * replayed trigger reads the untouched newest epoch below N and
  * REWRITES its own epoch, never appends or re-merges — so the store
  * converges to the one built clean, whatever the crash point.
  *
  * Crash points, each applied to trigger r before the checkpoint
  * commit (and so followed by a replay of r):
  *  - doubled: trigger r simply runs twice;
  *  - torn: every `epoch=r` / `batch_id=r` dir r wrote loses its
  *    `_SUCCESS` and one part file (a blob store's blob is truncated);
  *  - lost: outputs written, but every state `epoch=r` is missing;
  *  - torn routed (members that write their sinks as one routed job):
  *    the job committed its first sink, and every later sink's
  *    `batch_id=r` dir is torn as above;
  * and one after the commit:
  *  - stale: an interrupted GC — every state epoch the GC already
  *    deleted is restored before trigger r+1, which must ignore it and
  *    collect it.
  * Each crash build rotates the member's crash points over the
  * triggers (build k of n crashes trigger i with point (i + k) mod n),
  * so across the builds every trigger meets every crash point. After
  * every trigger run, clean or crashed, each state dir must hold at
  * most two epochs — the GC bound. Members without state dirs meet torn outputs and
  * plain replays only.
  *
  * Each member contributes only (state dirs, deterministic batch for
  * trigger i, run, canonical snapshot); the property loop is
  * inherited. A new store member joins the proof by adding one Member
  * row. The per-member replay tests in StreamingSpec remain as worked
  * examples with member-specific value assertions (batch-twin
  * equality, exact counts); THIS spec owns the recovery contract
  * itself.
  *
  * The comparison runs across independent store builds, so it also
  * pins full-run determinism of every trigger fold — the sorted-fold /
  * order-independent-merge discipline the operators document.
  */
class StoreReplayPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Triggers = 4

  /** `stateDirs` are the member's epoch stores, relative to the run
    * root; its other dirs are outputs. `routed` names the sinks of its
    * routed job in the job's order, if it writes one. */
  private case class Member(
      name: String,
      stateDirs: Seq[String],
      batch: Int => DataFrame,
      run: (DataFrame, Long, String) => Unit,
      snap: String => Seq[String],
      routed: Seq[String] = Nil)

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == BinaryType) hex(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
  }
  private def canonPath(path: String): Seq[String] =
    if (!new java.io.File(path).exists()) Nil
    else canon(spark.read.parquet(path))
  private def latestState(path: String): Seq[String] =
    graft.streaming.StreamAggState.readState(spark, path)
      .map(canon).getOrElse(Nil)
  private def latestBlob(path: String): Seq[String] =
    EpochStore(spark, path).bytesBefore(Long.MaxValue).map { b =>
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map("%02x".format(_)).mkString
    }.toSeq
  private def tagged(parts: (String, Seq[String])*): Seq[String] =
    parts.flatMap { case (tag, rows) => rows.map(r => s"$tag:$r") }

  private lazy val sharedDim: String = {
    val p = Files.createTempDirectory("graft-replay-dim").toString
    Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("k", "label").write.mode("overwrite").parquet(p)
    p
  }

  private def members: Seq[Member] = {
    val A = graft.streaming.StreamAggState
    val E = graft.streaming.StreamErrorHandling
    Seq(
      Member("maintainAggState (ST9)", Seq("state"),
        i => (0 until 20).map(j => (s"k${(i * 7 + j) % 5}", (i * 13 + j).toLong))
          .toDF("k", "x"),
        (b, id, rt) => A.processTrigger(b, id, Seq("k"), Seq("x"), s"$rt/state"),
        rt => latestState(s"$rt/state")),
      Member("maintainCompactedLog (ST11)", Seq("state"),
        i => (0 until 12).map(j => (s"k${j % 4}", (i * 10 + j).toLong,
          (i * 100 + j).toLong, s"p$i-$j")).toDF("k", "ver", "id", "payload"),
        (b, id, rt) => A.processCompactTrigger(b, id, Seq("k"),
          Seq("ver", "id"), Seq("payload"), s"$rt/state"),
        rt => latestState(s"$rt/state")),
      Member("maintainCompactedLogCdc (ST16)", Seq("state"),
        i => (0 until 12).map(j => (s"k${j % 4}", (i * 10 + j).toLong,
          (i * 100 + j).toLong, s"p$i-$j")).toDF("k", "ver", "id", "payload"),
        (b, id, rt) => A.processCdcTrigger(b, id, Seq("k"),
          Seq("ver", "id"), Seq("payload"), s"$rt/state", s"$rt/cdc"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "cdc" -> canonPath(s"$rt/cdc"))),
      Member("maintainScd2 (ST20)", Seq("state"),
        i => (0 until 10).map(j => ((j % 3).toLong, s"v${(i + j) % 4}",
          (i * 100 + j * 7).toLong, (i * 100 + j).toLong))
          .toDF("k", "v", "ts", "tie"),
        (b, id, rt) => A.processScd2Trigger(b, id, Seq("k"), Seq("v"),
          "ts", "tie", s"$rt/state"),
        rt => latestState(s"$rt/state")),
      Member("detectAnomalies (ST10)", Seq("state"),
        i => (0 until 30).map(j => (s"k${j % 3}",
          ((i * 31 + j * 17) % 100).toDouble + (if (j == 7) 500.0 else 0.0)))
          .toDF("k", "v"),
        (b, id, rt) => A.processAnomalyTrigger(b, id, Seq("k"), "v",
          k = 3, minPrior = 1, s"$rt/state", s"$rt/out"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "out" -> canonPath(s"$rt/out"))),
      Member("maintainSlidingDistinct (ST24)", Seq("state"),
        i => (for { d <- 0L to 4L; u <- 0 until 25 }
          yield (d + i, s"u${(u * 3 + d + i * 11) % 40}")).toDF("day", "uid"),
        (b, id, rt) => A.processSlidingDistinctTrigger(b, id, "day", "uid",
          s"$rt/state", lgK = 12),
        rt => latestState(s"$rt/state")),
      Member("maintainQuantileSketch (ST25)", Seq("state"),
        i => (0 until 200).map(j => (s"g${j % 2}",
          ((j * 2654435761L + i * 97) % 10000).toDouble / 100.0)).toDF("g", "v"),
        (b, id, rt) => A.processQuantileTrigger(b, id, "g", "v",
          relativeError = 0.01, s"$rt/state"),
        rt => latestState(s"$rt/state")),
      Member("maintainFreqSketch (ST27)", Seq("state"),
        i => (0 until 150).map(j => (s"g${j % 2}", s"t${(j * 7 + i) % 30}"))
          .toDF("g", "v"),
        (b, id, rt) => A.processFreqTrigger(b, id, "g", "v", s"$rt/state",
          eps = 0.01, confidence = 0.99, seed = 42),
        rt => latestState(s"$rt/state")),
      Member("clusterOnWrite (ST26)", Nil,
        i => (i * 40 until (i + 1) * 40).map { j =>
          val z = (j * 2654435761L) % 4096
          (j.toLong, (z / 256) % 16, (z / 16) % 16, z % 16)
        }.toDF("id", "x", "y", "z").repartition(2),
        (b, id, rt) => A.processClusterOnWriteTrigger(b, id, rt,
          Seq("x", "y", "z"), numFiles = 4, minDeltaBatches = 2),
        rt => tagged(
          "rows" -> canon(graft.sources.Layout.readClustered(spark, rt)),
          "consumed" -> graft.sources.Layout.consumedBatches(spark, rt)
            .toSeq.sorted)),
      Member("captureToDlqWithRetry pending store (ST6)", Seq("pending"),
        i => (Seq(s"${i + 1}", s"${i * 10 + 2}") ++
          (if (i < 2) Seq(s"bad-$i") else Nil)).toDF("s"),
        (b, id, rt) => {
          val results = Map("v" -> expr("cast(s as bigint)"))
          val captured = graft.core.ErrorFrame.captureErrors(
            b, results, input = col("s"))
          E.processRetryTrigger(captured.df, id, captured.resultNames,
            results, col("s"), "replay property",
            s"$rt/values", s"$rt/dlq", s"$rt/pending",
            graft.core.ErrorClassifier(
              Seq("org.apache.spark.SparkNumberFormatException"), Set.empty),
            // backoff 0: every pending row is due at every clock, so
            // the batchId→clock map below can never straddle a window
            maxRetries = 2, backoffMs = 0L, now = 1000L * (id + 1))
          },
        rt => tagged(
          "pending" -> E.readPending(spark, s"$rt/pending")
            .map(df => canon(df.select(col("s"),
              col(E.RetryCountCol).cast("long")))).getOrElse(Nil),
          "values" -> canonPath(s"$rt/values"),
          "dlq" -> canonPath(s"$rt/dlq").map(_.replaceAll(
            // stack frames re-render per capture scan (CLAUDE.md):
            // normalize the cause struct to its stable class+message
            "\\[\\[.*\\]\\]", "[cause]"))),
        ),
      Member("enrichWithPendingRetry pending store (ST19)", Seq("pending"),
        i => Seq((1L, (i * 10 + 1).toLong), ((i + 4).toLong, (i * 10 + 2).toLong))
          .toDF("k", "fact"),
        (b, id, rt) => E.processEnrichRetryTrigger(b, id, sharedDim,
          Seq("k"), maxAttempts = 2, s"$rt/values", s"$rt/pending"),
        rt => tagged(
          "pending" -> E.readPending(spark, s"$rt/pending")
            .map(canon).getOrElse(Nil),
          "values" -> canonPath(s"$rt/values"))),
      Member("quarantineLate watermark store (ST18)", Seq("state"),
        i => (0 until 10).map { j =>
          val ms = (i * 50 + j * 13 - (if (j == 4) 200 else 0)).toLong.max(0L)
          (j.toLong, new java.sql.Timestamp(ms))
        }.toDF("id", "ts"),
        (b, id, rt) => E.processLateQuarantineTrigger(b, id, "ts",
          delayMs = 20L, s"$rt/values", s"$rt/late", s"$rt/state"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "values" -> canonPath(s"$rt/values"),
          "late" -> canonPath(s"$rt/late")),
        routed = Seq("values", "late")),
      Member("captureToDlq", Nil,
        i => (Seq(s"${i + 1}", s"bad-$i", s"${i * 10 + 2}") ++
          (if (i % 2 == 0) Seq(s"worse-$i") else Nil)).toDF("s"),
        (b, id, rt) => {
          val captured = graft.core.ErrorFrame.captureErrors(
            b, Map("v" -> expr("cast(s as bigint)")), input = col("s"))
          E.processCaptureTrigger(captured.df, id, captured.resultNames,
            col("s"), "replay property", s"$rt/values", s"$rt/dlq")
        },
        rt => tagged("values" -> canonPath(s"$rt/values"),
          // stack frames re-render per capture scan: keep the stable fields
          "dlq" -> (if (!new File(s"$rt/dlq").exists) Nil else canon(spark.read
            .parquet(s"$rt/dlq").select(col("batch_id"), col("input_value"),
              col("description"), col("cause.error_class"))))),
        routed = Seq("values", "dlq")),
      Member("gopherGate (ST38)", Nil,
        i => Seq((i * 10L, s"the quick brown fox jumps over lazy dogs with ease doc$i"),
          (i * 10L + 1, s"of $i"), (i * 10L + 2, null: String)).toDF("doc_id", "text"),
        (b, id, rt) => E.processGopherTrigger(b, id, minWords = 3L,
          maxWords = 1000L, graft.operators.TextAnalysis.GopherStopwords,
          s"$rt/kept", s"$rt/rejected"),
        rt => tagged("kept" -> canonPath(s"$rt/kept"),
          "rejected" -> canonPath(s"$rt/rejected")),
        routed = Seq("kept", "rejected")),
      Member("maintainLshDedup (ST29)", Seq("state/bands", "state/docs"),
        i => (0 until 6).map { j =>
          ((i * 10 + j).toLong, (0 until 12)
            .map(k => s"w${((i * 6 + j) * 7 + k * 3) % 40}").mkString(" "))
        }.toDF("doc_id", "text"),
        (b, id, rt) => A.processLshDedupTrigger(b, id, numHashes = 16,
          rowsPerBand = 4, shingleSize = 3, threshold = 0.5,
          s"$rt/state", s"$rt/pairs"),
        rt => tagged(
          "bands" -> latestState(s"$rt/state/bands"),
          "docs" -> latestState(s"$rt/state/docs"),
          "pairs" -> canonPath(s"$rt/pairs"))),
      Member("maintainKnnGraph (ST32)", Seq("state/vectors", "state/within"),
        i => (0 until 6).map { j =>
          val id = (i * 10 + j).toLong
          (id, (0 until 8).map(d =>
            (((id * 31 + d * 7) % 13).toFloat - 6f) / 3f), (j % 3))
        }.toDF("vec_id", "embedding", "label"),
        (b, id, rt) => A.processKnnGraphTrigger(b, id, g = 2, rounds = 1,
          bridges = 1, s"$rt/state", s"$rt/graph"),
        rt => tagged(
          "vectors" -> latestState(s"$rt/state/vectors"),
          "within" -> latestState(s"$rt/state/within"),
          "graph" -> canonPath(s"$rt/graph"))),
      Member("maintainBm25 (ST33)", Seq("state"),
        i => (0 until 6).map { j =>
          val text = (0 until 10)
            .map(k => s"w${((i * 6 + j) * 5 + k * 3) % 12}").mkString(" ")
          ((i * 10 + j).toLong, text)
        }.toDF("doc_id", "text"),
        (b, id, rt) => A.processBm25Trigger(b, id,
          Seq((0L, "w0"), (0L, "w3"), (1L, "w7")).toDF("qid", "term"),
          3, 1.2, 0.75, s"$rt/state", s"$rt/scores"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "scores" -> canonPath(s"$rt/scores"))),
      Member("dedupStreamingBloom (ST17)", Seq("state"),
        i => (0 until 40).map(j => (s"k${(i * 20 + j * 3) % 70}", j.toLong))
          .toDF("k", "x"),
        (b, id, rt) => E.processBloomDedupTrigger(b, id, "k",
          expectedItems = 10000L, fpp = 0.01, s"$rt/values", s"$rt/state"),
        rt => tagged("values" -> canonPath(s"$rt/values"),
          "state" -> latestBlob(s"$rt/state"))),
      Member("maintainExactSubstr (ST31)", Seq("state"),
        i => (0 until 5).map { j =>
          val run = (1 to 8).map(x => s"r$x").mkString(" ")
          val text =
            if (j % 2 == 0) s"u${i}${j}a u${i}${j}b $run u${i}${j}c"
            else s"v${i}${j}a v${i}${j}b v${i}${j}c v${i}${j}d v${i}${j}e"
          ((i * 10 + j).toLong, text)
        }.toDF("doc_id", "text"),
        (b, id, rt) => A.processExactSubstrTrigger(b, id, 3, 4,
          s"$rt/state", s"$rt/values"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "values" -> canonPath(s"$rt/values"))),
      Member("maintainChiSquare (ST39)", Seq("state"),
        i => (0 until 10).map { j =>
          (s"a${(i + j) % 2}", s"b${j % 3}")
        }.toDF("a", "b"),
        (b, id, rt) => A.processChiSquareTrigger(b, id, "a", "b",
          s"$rt/state", s"$rt/stats"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "stats" -> canonPath(s"$rt/stats"))),
      Member("maintainDomainCap (ST37)", Seq("state"),
        i => (0 until 6).map { j =>
          ((i * 10 + j).toLong, s"s${j % 2}", s"txt$i$j")
        }.toDF("doc_id", "source", "text"),
        (b, id, rt) => A.processDomainCapTrigger(b, id, "source", 5,
          s"$rt/state", s"$rt/values", s"$rt/rejected"),
        rt => tagged("state" -> latestState(s"$rt/state"),
          "values" -> canonPath(s"$rt/values"),
          "rejected" -> canonPath(s"$rt/rejected"))),
      Member("maintainBurstEvents (ST34)", Seq("state"),
        i => (0 until 12).map { j =>
          // repeats across triggers: the (user, ts) distinct must
          // collapse duplicate deliveries as well as replays
          ((j % 3).toLong, (i * 5 + j).toLong * 1000000000L)
        }.toDF("user_id", "ts"),
        (b, id, rt) => A.processBurstTrigger(b, id, s"$rt/state"),
        rt => latestState(s"$rt/state")),
      Member("contaminationGate (ST30)", Nil,
        i => (0 until 8).map { j =>
          val text =
            if (j % 3 == 0) s"alpha beta leak$i$j"   // shares "alpha beta"
            else s"clean$i$j words only here $j"
          ((i * 100 + j).toLong, text)
        }.toDF("doc_id", "text"),
        (b, id, rt) => E.processContaminationTrigger(b, id,
          graft.operators.Pipeline.evalGramSet(
            Seq((0L, "alpha beta gamma")).toDF("doc_id", "text"), 2),
          n = 2, s"$rt/clean", s"$rt/flagged"),
        rt => tagged("clean" -> canonPath(s"$rt/clean"),
          "flagged" -> canonPath(s"$rt/flagged"))),
      Member("enrichToSink (ST13)", Nil,
        i => Seq((1L, (i * 10 + 1).toLong), ((i % 2 + 3).toLong, (i * 10 + 2).toLong),
          (9L, (i * 10 + 3).toLong)).toDF("k", "fact"),
        (b, id, rt) => E.processEnrichTrigger(b, id, sharedDim, Seq("k"),
          s"$rt/values"),
        rt => canonPath(s"$rt/values")))
  }

  private sealed trait Crash
  private case object Doubled extends Crash
  private case object Torn extends Crash
  private case object Lost extends Crash
  private case object Stale extends Crash
  private case object TornRouted extends Crash
  private def crashes(m: Member): Seq[Crash] =
    Seq(Doubled, Torn, Lost, Stale) ++ Option.when(m.routed.nonEmpty)(TornRouted)

  private def epochDirs(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))

  private def allDirs(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => d +: allDirs(d))

  /** A torn write: the commit marker and one data file gone, or a
    * blob cut in half. */
  private def tear(dir: File): Unit = {
    val files = Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName)
    files.filter(_.getName.endsWith(".bin")).foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      Files.write(f.toPath, bytes.take(bytes.length / 2))
    }
    files.find(_.getName == "_SUCCESS").foreach(_.delete())
    files.find(_.getName.startsWith("part-")).foreach(_.delete())
  }

  test("epoch-keyed store family: replaying ANY trigger leaves every store unchanged") {
    members.foreach { m =>
      var staleRestored = 0
      /** Build the store with trigger i crashed at plan(i); returns the
        * snapshot. Every trigger run must leave the GC bound. */
      def build(plan: Int => Option[Crash]): Seq[String] = {
        val rt = Files.createTempDirectory("graft-replay-prop").toFile
        val stash = Files.createTempDirectory("graft-replay-stash").toFile
        def states = m.stateDirs.map(new File(rt, _))
        def run(i: Int): Unit = {
          m.run(m.batch(i), i.toLong, rt.toString)
          states.foreach { d =>
            val held = epochDirs(d).map(_.getName).sorted
            assert(held.size <= 2,
              s"${m.name}: after trigger $i, $d holds ${held.mkString(", ")}")
          }
        }
        for (i <- 0 until Triggers) {
          run(i)
          plan(i).foreach {
            case Torn => allDirs(rt)
                .filter(d => d.getName == s"epoch=$i" || d.getName == s"batch_id=$i")
                .foreach(tear)
            case Lost => states.foreach(d => FileUtils.deleteDirectory(new File(d, s"epoch=$i")))
            case TornRouted =>
              m.routed.tail.foreach(d => tear(new File(rt, s"$d/batch_id=$i")))
            case Doubled | Stale =>
          }
          if (plan(i).exists(_ != Stale)) run(i)
          // every epoch ever committed, for the stale crash point
          m.stateDirs.foreach { d =>
            epochDirs(new File(rt, d)).foreach { e =>
              val kept = new File(new File(stash, d), e.getName)
              if (!kept.exists) FileUtils.copyDirectory(e, kept)
            }
          }
          if (plan(i).contains(Stale) && i + 1 < Triggers) m.stateDirs.foreach { d =>
            epochDirs(new File(stash, d))
              .filterNot(e => new File(new File(rt, d), e.getName).exists)
              .foreach { e =>
                FileUtils.copyDirectory(e, new File(new File(rt, d), e.getName))
                staleRestored += 1
              }
          }
        }
        try m.snap(rt.toString)
        finally Seq(rt, stash).foreach(FileUtils.deleteDirectory)
      }
      val clean = build(_ => None)
      assert(clean.nonEmpty, s"${m.name}: empty snapshot — property is vacuous")
      val points = crashes(m)
      for (k <- points.indices) {
        val plan = (i: Int) => Some(points((i + k) % points.size))
        val crashed = build(plan)
        assert(crashed == clean,
          s"${m.name}: crashes ${(0 until Triggers).map(i => s"$i:${plan(i).get}")
            .mkString(" ")} changed the store\n" +
            s"clean:   ${clean.mkString(" | ")}\ncrashed: ${crashed.mkString(" | ")}")
      }
      if (m.stateDirs.nonEmpty)
        assert(staleRestored > 0, s"${m.name}: no stale epoch was ever restored")
    }
  }

  test("EpochStore: newest-below read, empty epoch reads as none, GC keeps two") {
    val root = Files.createTempDirectory("graft-epoch-store").toString
    val store = EpochStore(spark, root)
    def ids(df: Option[DataFrame]): Seq[Long] =
      df.map(_.as[Long].collect().toSeq.sorted).getOrElse(Nil)
    assert(store.before(5L).isEmpty && store.epochs.isEmpty)
    Seq(0L, 1L, 2L).foreach(n => store.commit(n, Seq(n * 10).toDF("v")))
    // commit(2) deleted epoch 0: only the newest below 2 is reachable
    assert(store.epochs == Seq(1L, 2L))
    assert(ids(store.before(2L)) == Seq(10L) && ids(store.before(9L)) == Seq(20L))
    // a name that does not parse is not an epoch
    new File(s"$root/epoch=junk").mkdirs()
    assert(store.epochs == Seq(1L, 2L))
    // an epoch dir without a parquet footer reads as "none", never as
    // an older epoch
    new File(s"$root/epoch=3").mkdirs()
    assert(store.before(4L).isEmpty && ids(store.before(3L)) == Seq(20L))
    val blobs = EpochStore(spark, s"$root/blob")
    Seq(0L, 1L, 2L).foreach(n => blobs.commitBytes(n, Array(n.toByte)))
    assert(blobs.epochs == Seq(1L, 2L))
    assert(blobs.bytesBefore(2L).map(_.toSeq).contains(Seq(1.toByte)))
  }

  test("EpochStore: a read launches no job, an epoch without its schema record reads by inference, and one without _SUCCESS reads as none") {
    val root = Files.createTempDirectory("graft-epoch-schema").toString
    val store = EpochStore(spark, root)
    store.commit(0L, Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val state = try {
      val s = store.before(1L)
      org.apache.spark.sql.graftshim.ListenerDrain(spark.sparkContext)
      s
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, "reading the epoch launched a schema-inference job")
    assert(state.map(_.as[(Long, String)].collect().toSeq.sorted)
      .contains(Seq((1L, "a"), (2L, "b"))))
    // an epoch committed before commits recorded their schema
    assert(new File(s"$root/epoch=0/_graft_schema.json").delete())
    val inferred = store.before(1L)
    assert(inferred.map(_.schema) == state.map(_.schema))
    assert(inferred.map(_.as[(Long, String)].collect().toSeq.sorted)
      .contains(Seq((1L, "a"), (2L, "b"))))
    // a torn write keeps part of its files but loses the marker
    new File(s"$root/epoch=0/_SUCCESS").delete()
    assert(store.before(1L).isEmpty)
  }
}
