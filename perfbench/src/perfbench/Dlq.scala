package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{DeadLetterSerde, ErrorFrame}
import graft.sources.Sinks

/** The reference's per-record hot path, scan → capture → dead letter →
  * serialize → sink, over seeded `events` with planted poison.
  *
  * dlq_clean: the production shape — 1 % poison, values to parquet,
  * dead letters to Avro and a parquet DLQ sink. dlq_storm: an upstream
  * error storm — 30 % poison, dead letters pinned once, then through
  * all three serde formats and `Sinks.writeDeadLetters`.
  */
object Dlq {
  final case class Shape(name: String, rows: Long, poisonBp: Int, storm: Boolean)
  val Clean = Shape("dlq_clean", 200000L, 100, storm = false)
  val Storm = Shape("dlq_storm", 100000L, 3000, storm = true)
  /** dlq_clean's passes take about 2 s, so a run's medians are over half
    * a dozen of them; with one warm-up pass instead of three, the JIT was
    * still speeding the measured passes up by 10 % a pass.
    */
  val WarmupPasses = 3
  val MinPasses = 3

  val Description = "perfbench dead letter"
  val ExpectedClass = Map(
    "cast" -> "org.apache.spark.SparkNumberFormatException",
    "div" -> "org.apache.spark.SparkArithmeticException")
  val Formats = Seq("json", "avro", "proto")
  /** Row hashes of the values checksum are summed modulo this. */
  val RowHashMod = 1000000007L

  private def h(seed: Long, salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))

  /** The generator's truth per id: the planted fault ("cast": a
    * non-numeric k, "div": k % 7 = 0, null: clean), k, and value.
    */
  def truth(spark: org.apache.spark.sql.SparkSession, seed: Long, poisonBp: Int,
      rows: Long): DataFrame = {
    val kind = when(pmod(h(seed, 4), lit(10000L)) < poisonBp,
      when(pmod(h(seed, 5), lit(2L)) === 0, lit("cast")).otherwise(lit("div")))
    val base = pmod(h(seed, 6), lit(1000L)) * 7
    spark.range(0, rows, 1, 8).select(col("id"), kind.as("kind"),
      when(kind === "div", base).otherwise(base + 1 + pmod(h(seed, 7), lit(6L))).as("k"),
      (pmod(h(seed, 3), lit(100000L)) / 100.0).as("value"),
      pmod(h(seed, 1), lit(20000L)).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "error").map(lit): _*),
        (pmod(h(seed, 2), lit(4L)) + 1).cast("int")).as("event_type"))
  }

  /** Writes the `events` table (same schema as the registry's) under `dir`. */
  def generate(spark: org.apache.spark.sql.SparkSession, seed: Long, poisonBp: Int,
      rows: Long, dir: String): Unit =
    truth(spark, seed, poisonBp, rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000).as("ts"),
      col("user_id"), col("event_type"), col("value"),
      when(col("kind") === "cast", concat(lit("{\"k\": \"x"), col("id").cast("string"), lit("\"}")))
        .otherwise(concat(lit("{\"k\": "), col("k").cast("string"), lit("}"))).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private val kText = "get_json_object(props, '$.k')"

  /** The two captured result columns: a cast that fails on a non-numeric
    * k and an integer division that fails when k % 7 = 0.
    */
  def results: Map[String, Column] = Map(
    "k_num" -> expr(s"CAST($kText AS BIGINT)"),
    "score" -> expr(s"CAST(value * 100 AS BIGINT) DIV (CAST($kText AS BIGINT) % 7)"))

  /** The same values as a plain projection that cannot throw: the base
    * of `core.capture_overhead_ratio`.
    */
  def plain(events: DataFrame): DataFrame = events.select(col("*"),
    expr(s"TRY_CAST($kText AS BIGINT)").as("k_num"),
    expr(s"CAST(value * 100 AS BIGINT) DIV NULLIF(TRY_CAST($kText AS BIGINT) % 7, 0)").as("score"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def serde(fmt: String): DataFrame => DataFrame = fmt match {
    case "json" => DeadLetterSerde.toJsonValue
    case "avro" => DeadLetterSerde.toAvroValue
    case "proto" => DeadLetterSerde.toProtoValue
  }

  /** Wall time of one pass and when (seconds after its start) the
    * values and the dead letters were committed.
    */
  final case class PassTimes(wall: Double, valuesAt: Double, lettersAt: Double, span: Span)

  /** One pass from `in` to sinks under `out`. `staged` inserts a timed
    * no-op action over each intermediate frame, so that each layer's
    * cost is the difference from the stage before.
    */
  def pass(ctx: Ctx, shape: Shape, in: String, out: String, staged: Boolean): PassTimes = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def step[T](name: String)(body: => T): T = tr.span("step", name)(body)
    val t0 = System.nanoTime()
    def at = (System.nanoTime() - t0) / 1e9
    var valuesAt, lettersAt = 0.0
    tr.span("pass", s"${shape.name} pass") {
      val events = Tables.load(spark, in, "events")
      if (staged) {
        step("scan")(noop(events))
        step("plain")(noop(plain(events)))
      }
      val ef = ErrorFrame.captureErrors(events, results,
        to_json(struct(events.columns.map(col).toSeq: _*)), stackTraces = true)
      if (staged) step("capture")(noop(ef.df))
      step("values_write")(ef.values.write.mode("overwrite").parquet(s"$out/values"))
      valuesAt = at
      val dl = ef.deadLetters(Description, Some(expr("timestamp_micros(ts DIV 1000)")))
      if (!shape.storm) {
        if (staged) step("deadletter")(noop(dl))
        val avro = DeadLetterSerde.toAvroValue(dl)
        if (staged) step("serde_avro")(noop(avro))
        step("dlq_write")(avro.write.mode("overwrite").parquet(s"$out/dlq_avro"))
      } else {
        // stack traces re-render on every action over the capture: pin
        // the letters once so all four sinks hold the same bytes
        val pinned = step("deadletter")(dl.localCheckpoint())
        if (staged) step("deadletter_read")(noop(pinned))
        Formats.foreach { fmt =>
          val v = serde(fmt)(pinned)
          if (staged) step(s"serde_$fmt")(noop(v))
          step(s"dlq_write_$fmt")(v.write.mode("overwrite").parquet(s"$out/dlq_$fmt"))
        }
        step("dlq_write")(Sinks.writeDeadLetters(pinned, s"$out/dlq"))
      }
      lettersAt = at
    }
    PassTimes(at, valuesAt, lettersAt, tr.last(s"${shape.name} pass"))
  }

  /** A pass of each shape over a tiny input: run once at build time, so
    * that the class-data archive holds the classes a run loads.
    */
  def loadClasses(ctx: Ctx): Unit = Seq(Clean, Storm).foreach { shape =>
    val in = ctx.dir(s"${shape.name}-input")
    generate(ctx.spark, ctx.seed, shape.poisonBp, 1000L, in)
    pass(ctx, shape, in, ctx.dir(s"${shape.name}-output"), staged = false)
  }

  def run(ctx: Ctx, shape: Shape): Unit = {
    val r = ctx.report
    val rows = shape.rows

    // set-up: generate the input, then warm the JIT with passes over it
    val in = ctx.dir("input")
    val (_, gen) = Main.time(generate(ctx.spark, ctx.seed, shape.poisonBp, rows, in))
    val (_, warm) = Main.time {
      (0 until WarmupPasses).foreach { _ =>
        pass(ctx, shape, in, ctx.dir("warmup"), staged = false)
        Main.delete(ctx.dir("warmup"))
      }
    }
    r.e2e("setup_s", ctx.sessionS + gen + warm, "s")
    r.info += f"set-up: session ${ctx.sessionS}%.1f s, input $gen%.1f s, warm-up $warm%.1f s"

    val (gc0, jit0) = Main.jvmTimes()
    val (passes, nLetters) = measure(ctx, shape, rows, in)
    val (gc1, jit1) = Main.jvmTimes()
    if (passes.isEmpty) { r.fail("no pass completed"); return }
    val med = Stats.median(passes.map(_._1.wall))
    r.e2e("pass_s", med, "s")
    r.e2e("records_per_s", rows / med, "records/s")
    // a record's latency is the time from the pass start until the sink
    // holding it committed: values first, then the dead letters
    val samples = passes.flatMap { case (p, _) =>
      Seq((p.valuesAt * 1000, (rows - nLetters).toDouble), (p.lettersAt * 1000, nLetters.toDouble))
    }
    val (p50, (tp, tv)) = (weighted(samples, 50), weightedTail(samples))
    r.e2e("event_latency_p50_ms", p50, "ms")
    r.e2e("event_latency_tail_ms", tv, "ms")
    r.e2e("live_heap_mb", passes.map(_._2).max, "MiB")
    r.info += f"event_latency_tail_ms is p$tp%.1f over ${rows * passes.size} records of ${passes.size} passes"

    if (ctx.trace) traced(ctx, shape, rows, in, med, gc1 - gc0, jit1 - jit0, nLetters)
  }

  /** Untraced passes until `seconds` of pass time, then one check over
    * all their outputs: ((times, live heap MiB) per pass, letters per
    * pass). A pass whose check failed still counts as measured; one that
    * threw does not.
    */
  private def measure(ctx: Ctx, shape: Shape, rows: Long,
      in: String): (Seq[(PassTimes, Double)], Long) = {
    val r = ctx.report
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, PassTimes, Double)]
    var spent = 0.0
    var i = 0
    while (i < MinPasses || spent < ctx.seconds) {
      try {
        val p = pass(ctx, shape, in, ctx.dir(s"pass-$i"), staged = false)
        spent += p.wall
        done += ((i, p, Main.liveHeapMb()))
      } catch {
        case e: Exception =>
          r.fail(s"pass $i threw ${e.getClass.getName}: ${e.getMessage}")
          r.outcome(ok = false)
          Main.delete(ctx.dir(s"pass-$i"))
          spent += 1
      }
      i += 1
    }
    val outs = done.map { case (j, _, _) => j -> ctx.dir(s"pass-$j") }.toMap
    // the fault goes into the sink the exactly-once check reads
    if (ctx.fault == "drop_letter")
      outs.values.foreach(o => dropOne(ctx, if (shape.storm) s"$o/dlq" else s"$o/dlq_avro"))
    val ((bad, letters), checkS) = Main.time {
      try check(ctx, shape, rows, in, outs)
      catch {
        case e: Exception => (outs.map { case (j, _) => j -> Seq(s"the check threw $e") }, 0L)
      }
    }
    outs.foreach { case (j, out) =>
      bad.getOrElse(j, Nil).foreach(f => r.fail(s"pass $j: $f"))
      r.outcome(!bad.contains(j))
      Main.delete(out)
    }
    r.info += f"$i passes took $spent%.1f s (${done.map(_._2.wall).map(w => f"$w%.2f").mkString(" / ")}); " +
      f"checking their outputs took $checkS%.1f s"
    (done.map { case (_, p, heap) => (p, heap) }.toSeq, letters)
  }

  /** The per-layer run: traced passes for the engine's totals and the
    * tracing overhead, then staged passes for the layer deltas.
    */
  private def traced(ctx: Ctx, shape: Shape, rows: Long, in: String, untraced: Double,
      gcS: Double, jitS: Double, letters: Long): Unit = {
    val r = ctx.report
    val tr = ctx.tracer
    tr.start()
    val tracedPasses = (0 until 2).map { i =>
      val out = ctx.dir(s"traced-$i")
      try pass(ctx, shape, in, out, staged = false) finally Main.delete(out)
    }
    val last = tracedPasses.last
    Main.reportEngine(r, tr.enginePass(last.span))
    r.per("trace.overhead_ratio", Stats.median(tracedPasses.map(_.wall)) / untraced, "ratio")

    // three staged passes; each stage's time is its median over them
    val staged = (0 until 3).map { i =>
      val out = ctx.dir(s"staged-$i")
      val p = pass(ctx, shape, in, out, staged = true)
      val steps = tr.spansOf(p.span.pass).filter(_.kind == "step")
        .groupMapReduce(_.name)(s => s.end - s.start)(_ + _)
      if (i < 2) Main.delete(out)
      steps
    }
    val out = ctx.dir("staged-2")
    def ms(name: String): Long = staged.map(_.getOrElse(name, 0L)).sorted.apply(1)
    def d(a: String, b: String): Double = (ms(a) - (if (b.isEmpty) 0L else ms(b))) / 1000.0
    def t(name: String): Double = ms(name) / 1000.0
    val (inBytes, _) = Main.sizeOf(s"$in/events.parquet")
    r.per("sources.scan_s", d("scan", ""), "s")
    r.per("sources.input_bytes", inBytes, "bytes")
    r.per("sources.input_rows", rows, "count")
    r.per("core.capture_s", d("capture", "scan"), "s")
    r.per("core.capture_overhead_ratio", t("capture") / t("plain"), "ratio")
    r.per("core.errors", letters, "count")
    r.per("core.deadletter_s", d("deadletter", "capture"), "s")
    r.per("sinks.values_write_s", d("values_write", "capture"), "s")
    val (bytes, files) = Main.sizeOf(out)
    r.per("sinks.bytes_written", bytes, "bytes")
    r.per("sinks.files_written", files, "count")
    val spark = ctx.spark
    def perLetter(fmt: String) = {
      val p = s"$out/dlq_$fmt"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p))) 0.0
      else spark.read.parquet(p).agg(avg(length(col("value")))).head.getDouble(0)
    }
    if (!shape.storm) {
      r.per("core.serde_avro_s", d("serde_avro", "deadletter"), "s")
      r.per("sinks.dlq_write_s", d("dlq_write", "serde_avro"), "s")
    } else {
      Formats.foreach(f => r.per(s"core.serde_${f}_s", d(s"serde_$f", "deadletter_read"), "s"))
      r.per("sinks.dlq_write_s", (Formats.map(f => ms(s"dlq_write_$f") - ms(s"serde_$f")).sum +
        ms("dlq_write") - ms("deadletter_read")) / 1000.0, "s")
    }
    Formats.foreach { f =>
      if (!r.layer.contains(s"core.serde_${f}_s")) r.per(s"core.serde_${f}_s", 0, "s")
      r.per(s"core.dlq_bytes_per_letter.$f", perLetter(f), "bytes")
    }
    // by construction each sink step's wall is the sum of the deltas
    // along its chain; what the steps leave out is driver time between
    val sinks = Seq("values_write", "dlq_write") ++
      (if (shape.storm) "deadletter" +: Formats.map(f => s"dlq_write_$f") else Nil)
    r.per("trace.accounted_ratio", sinks.map(t).sum / untraced, "ratio")
    r.per("jvm.gc_s", gcS, "s")
    r.per("jvm.jit_s", jitS, "s")
    r.info += f"core.capture_overhead_ratio base: the same two columns as a TRY_CAST/NULLIF projection (${t("plain")}%.3f s)"
    Main.delete(out)
  }

  // ---------------------------------------------------------------- checks

  /** Normalized letter: every field, and the pass whose output held it. */
  final case class Letter(pass: Int, input_value: Option[String], topic: Option[String],
      partition: Option[Int], offset: Option[Long], description: String,
      error_class: Option[String], message: Option[String], stack_trace: Option[String],
      ts_ms: Option[Long])

  private def withId(df: DataFrame): DataFrame =
    df.withColumn("id", get_json_object(col("input_value"), "$.event_id").cast("long"))

  private val letterFields = Seq("input_value", "topic", "partition", "offset",
    "description", "error_class", "message", "stack_trace", "ts_ms")
  private val letterCols = "pass" +: "id" +: letterFields

  /** The structured DLQ as written by `Sinks.writeDeadLetters`. */
  def structured(df: DataFrame): DataFrame = withId(df.select(col("pass"), col("input_value"),
    col("topic"), col("partition"), col("offset"), col("description"),
    col("cause.error_class").as("error_class"), col("cause.message").as("message"),
    col("cause.stack_trace").as("stack_trace"),
    unix_millis(col("input_timestamp")).as("ts_ms"))).select(letterCols.map(col): _*)

  /** Serialized letters (`value`, `pass`) decoded back into [[Letter]] rows. */
  def decode(fmt: String, df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lazy val bytes = df.select(col("pass"), col("value")).as[(Int, Array[Byte])]
    def typed(ds: org.apache.spark.sql.Dataset[Letter]) =
      withId(ds.toDF()).select(letterCols.map(col): _*)
    fmt match {
      case "avro" => typed(bytes.mapPartitions { it =>
        val schema = new org.apache.avro.Schema.Parser().parse(DeadLetterSerde.avroSchemaJson)
        val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](schema)
        var dec: org.apache.avro.io.BinaryDecoder = null
        it.map { case (pass, b) =>
          dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(b, dec)
          val rec = reader.read(null, dec)
          val cause = rec.get("cause").asInstanceOf[org.apache.avro.generic.GenericRecord]
          def s(r: org.apache.avro.generic.GenericRecord, k: String) = Option(r.get(k)).map(_.toString)
          Letter(pass, s(rec, "input_value"), s(rec, "topic"),
            Option(rec.get("partition")).map(_.asInstanceOf[Int]),
            Option(rec.get("offset")).map(_.asInstanceOf[Long]), rec.get("description").toString,
            s(cause, "error_class"), s(cause, "message"), s(cause, "stack_trace"),
            Option(rec.get("input_timestamp")).map(_.asInstanceOf[Long]))
        }
      }(Encoders.product[Letter]))
      case "proto" => typed(bytes.map { case (pass, b) => ProtoRead.deadLetter(pass, b) }(
        Encoders.product[Letter]))
      case "json" =>
        val schema = "input_value STRING, topic STRING, partition INT, offset BIGINT, " +
          "description STRING, cause STRUCT<error_class: STRING, message: STRING, " +
          "stack_trace: STRING>, input_timestamp TIMESTAMP"
        structured(df.select(col("pass"), from_json(col("value").cast("string"), schema,
          Map.empty[String, String]).as("l")).select(col("pass"), col("l.*")))
    }
  }

  /** Output checks of the passes in `outs` (pass → output dir), all in one
    * go: failures per pass, and letters per pass. Each input id must land
    * exactly once; the values must be the clean records, with both
    * computed columns matching the generator's row checksum; the letters
    * must be the planted records, with the planted kind's class and the
    * input row; in the storm every letter of the last pass must decode
    * from all three formats back to its DLQ row.
    */
  def check(ctx: Ctx, shape: Shape, rows: Long, in: String,
      outs: Map[Int, String]): (Map[Int, Seq[String]], Long) = {
    val spark = ctx.spark
    import spark.implicits._
    def read(sink: String) = outs.toSeq.map { case (j, o) =>
      spark.read.parquet(s"$o/$sink").withColumn("pass", lit(j))
    }.reduce(_ unionByName _)
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    val passes = outs.keys.toSeq.toDF("pass")
    val events = Tables.load(spark, in, "events")
    val truth = this.truth(spark, ctx.seed, shape.poisonBp, rows)
    // the letters are few: decode them once
    val letters = (if (shape.storm) structured(read("dlq")) else decode("avro", read("dlq_avro")))
      .localCheckpoint()
    val values = read("values")

    // one scan per pass against a bitmap of the ids seen: exactly the
    // input ids [0, rows), each once; and the values' count and sum of
    // per-row hashes of (id, k_num, score), against the generator's
    def rowHash(id: Column, k: Column, score: Column) = pmod(xxhash64(id, k, score), lit(RowHashMod))
    val tallies = values.select(col("pass"), col("event_id").as("id"),
        rowHash(col("event_id"), col("k_num"), col("score")).as("h"))
      .unionByName(letters.select(col("pass"), col("id"), lit(null).cast("long").as("h")))
      .queryExecution.toRdd.mapPartitions(it => Iterator(IdTally.of(rows, it)))
      .reduce(IdTally.merge)
    val exp = truth.filter(col("kind").isNull)
      .agg(count(lit(1)), sum(rowHash(col("id"), col("k"), expr("CAST(value * 100 AS BIGINT) DIV (k % 7)"))))
      .as[(Long, Long)].head
    // letters: the planted records, one letter each, fields as planted
    val planted = truth.filter(col("kind").isNotNull).select("id", "kind")
      .join(events.select(col("event_id").as("id"),
        to_json(struct(events.columns.map(col).toSeq: _*)).as("expected_input")), "id")
      .select(col("id"), lit(true).as("known"), col("expected_input"),
        element_at(typedLit(ExpectedClass), col("kind")).as("expected_class"))
      .crossJoin(passes)
    val wrongLetter = !(col("error_class") <=> col("expected_class")) ||
      !(col("input_value") <=> col("expected_input")) ||
      !(col("description") <=> lit(Description)) ||
      col("message").isNull || coalesce(length(col("stack_trace")), lit(0)) === 0
    val letterStats = planted.join(letters.withColumn("got", lit(true)), Seq("pass", "id"), "full_outer")
      .groupBy("pass").agg(n(col("got").isNull), n(col("known").isNull),
        n(col("known") && col("got") && wrongLetter), n(col("got").isNotNull))
      .collect().map(a => a.getInt(0) -> (1 until 5).map(a.getLong)).toMap

    val failures = outs.keys.map { j =>
      val t = tallies.getOrElse(j, IdTally.empty(rows))
      val got = (t.values, t.valueHashes)
      val Seq(unlettered, unplanted, badLetters, _) = letterStats.getOrElse(j, Seq(0L, 0L, 0L, 0L))
      j -> (Seq(
        "input ids in neither values nor letters" -> (rows - t.seen.cardinality),
        "ids that are not input ids" -> t.foreign,
        "ids written more than once" -> t.repeated,
        "planted ids without a letter" -> unlettered,
        "letters that are clean or do not match their planted input" -> (unplanted + badLetters))
        .collect { case (what, bad) if bad != 0 => s"$what: $bad" } ++
        (if (got == exp) Nil else Seq(s"values (count, row checksum): expected $exp, got $got")))
    }.toMap
    // the decode round trip, on the last pass's letters
    val decoded: Map[Int, Seq[String]] = if (!shape.storm) Map.empty else {
      val last = outs.keys.max
      def lastOf(df: DataFrame) = df.filter(col("pass") === last)
      val fields = xxhash64(to_json(struct(letterFields.map(col): _*)))
      Formats.map(f => decode(f, lastOf(read(s"dlq_$f"))).withColumn("src", lit(f)))
        .foldLeft(lastOf(letters).withColumn("src", lit("dlq")))(_ unionByName _)
        .groupBy("pass", "id").agg(count(lit(1)).as("n"), countDistinct(col("src")).as("srcs"),
          countDistinct(fields).as("variants"))
        .filter(col("n") =!= 4 || col("srcs") =!= 4 || col("variants") =!= 1)
        .groupBy("pass").count().collect()
        .map(a => a.getInt(0) -> Seq(s"letters whose json/avro/proto bytes do not decode to their DLQ row: ${a.getLong(1)}"))
        .toMap
    }
    val bad = (failures.keySet ++ decoded.keySet)
      .map(p => p -> (failures.getOrElse(p, Nil) ++ decoded.getOrElse(p, Nil)))
      .filter(_._2.nonEmpty).toMap
    (bad, if (letterStats.isEmpty) 0L else letterStats.values.map(_(3)).max)
  }

  /** Planted fault for the benchmark's own tests: lose one dead letter.
    * Rewrites one non-empty data file under `path` (partition dirs
    * included) without its first row.
    */
  private def dropOne(ctx: Ctx, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def dataFiles(dir: String) = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList.sorted
    val file = dataFiles(path).find(f => ctx.spark.read.parquet(f.toString).count() > 0)
      .getOrElse(sys.error(s"no dead letter under $path"))
    val df = ctx.spark.read.parquet(file.toString)
    val tmp = path + ".tmp"
    df.limit((df.count() - 1).toInt).coalesce(1).write.parquet(tmp)
    Files.move(dataFiles(tmp).head, file, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    Main.delete(tmp)
  }

  /** Weighted nearest-rank percentile of (value, weight) samples. */
  def weighted(samples: Seq[(Double, Double)], p: Double): Double = {
    val s = samples.sortBy(_._1)
    val target = p / 100 * s.map(_._2).sum
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= target }.getOrElse(s.last)._1
  }

  /** [[Stats.tail]] over weighted samples. */
  def weightedTail(samples: Seq[(Double, Double)]): (Double, Double) = {
    val n = samples.map(_._2).sum
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n - math.ceil(p / 100 * n) >= 10)
      .map(p => (p, weighted(samples, p)))
      .getOrElse((100.0, samples.map(_._1).max))
  }
}

/** Ids of one pass's outputs against the input ids [0, rows): which were
  * seen, how many came again, and how many are not input ids (or null);
  * and the number of values and the sum of their row hashes.
  */
final case class IdTally(seen: java.util.BitSet, repeated: Long, foreign: Long,
    values: Long, valueHashes: Long)

object IdTally {
  def empty(rows: Long): IdTally = IdTally(new java.util.BitSet(rows.toInt), 0L, 0L, 0L, 0L)

  /** Tallies per pass of `(pass, id, row hash)` rows; letters have no hash. */
  def of(rows: Long, it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Map[Int, IdTally] = {
    val out = scala.collection.mutable.HashMap.empty[Int, IdTally]
    it.foreach { r =>
      val p = r.getInt(0)
      var t = out.getOrElseUpdate(p, empty(rows))
      if (!r.isNullAt(2)) t = t.copy(values = t.values + 1, valueHashes = t.valueHashes + r.getLong(2))
      if (r.isNullAt(1) || r.getLong(1) < 0 || r.getLong(1) >= rows) t = t.copy(foreign = t.foreign + 1)
      else if (t.seen.get(r.getLong(1).toInt)) t = t.copy(repeated = t.repeated + 1)
      else t.seen.set(r.getLong(1).toInt)
      out(p) = t
    }
    out.toMap
  }

  def merge(a: Map[Int, IdTally], b: Map[Int, IdTally]): Map[Int, IdTally] =
    (a.keySet ++ b.keySet).map { p =>
      p -> ((a.get(p), b.get(p)) match {
        case (Some(x), Some(y)) =>
          val both = x.seen.clone().asInstanceOf[java.util.BitSet]
          both.and(y.seen)
          val seen = x.seen.clone().asInstanceOf[java.util.BitSet]
          seen.or(y.seen)
          IdTally(seen, x.repeated + y.repeated + both.cardinality, x.foreign + y.foreign,
            x.values + y.values, x.valueHashes + y.valueHashes)
        case (x, y) => x.orElse(y).get
      })
    }.toMap
}

/** Reader for the proto3 wire format `DeadLetterSerde.toProtoValue` writes. */
object ProtoRead {
  private def fields(b: Array[Byte]): Map[Int, Any] = {
    val out = scala.collection.mutable.HashMap.empty[Int, Any]
    var i = 0
    def varint(): Long = {
      var v = 0L; var shift = 0; var more = true
      while (more) { val x = b(i); i += 1; v |= (x & 0x7fL) << shift; shift += 7; more = (x & 0x80) != 0 }
      v
    }
    while (i < b.length) {
      val tag = varint()
      (tag & 7).toInt match {
        case 0 => out((tag >>> 3).toInt) = varint()
        case 2 =>
          val n = varint().toInt
          out((tag >>> 3).toInt) = java.util.Arrays.copyOfRange(b, i, i + n); i += n
        case w => sys.error(s"unexpected wire type $w")
      }
    }
    out.toMap
  }

  private def bytes(m: Map[Int, Any], f: Int): Option[Array[Byte]] = m.get(f).map(_.asInstanceOf[Array[Byte]])
  private def utf8(b: Array[Byte]) = new String(b, java.nio.charset.StandardCharsets.UTF_8)
  private def stringValue(b: Array[Byte]): String = bytes(fields(b), 1).map(utf8).getOrElse("")
  private def int64Value(b: Array[Byte]): Long = fields(b).get(1).map(_.asInstanceOf[Long]).getOrElse(0L)

  def deadLetter(pass: Int, b: Array[Byte]): Dlq.Letter = {
    val top = fields(b)
    val cause = bytes(top, 2).map(fields).getOrElse(Map.empty)
    val ts = bytes(top, 7).map { t =>
      val f = fields(t)
      f.get(1).map(_.asInstanceOf[Long]).getOrElse(0L) * 1000 +
        f.get(2).map(_.asInstanceOf[Long]).getOrElse(0L) / 1000000
    }
    Dlq.Letter(pass, bytes(top, 3).map(stringValue), bytes(top, 4).map(stringValue),
      bytes(top, 5).map(x => int64Value(x).toInt), bytes(top, 6).map(int64Value),
      bytes(top, 1).map(utf8).getOrElse(""), bytes(cause, 3).map(stringValue),
      bytes(cause, 1).map(stringValue), bytes(cause, 2).map(stringValue), ts)
  }
}
