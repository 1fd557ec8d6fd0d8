package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ErrorFrame

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions for oracle (DuckDB) hash-equality:
  *  - aggregates over floating columns go through exact decimal sums and
  *    are cast to double at the end (order-independent, engine-agnostic);
  *  - per-row double arithmetic is allowed (deterministic IEEE);
  *  - every query ends with a deterministic total ORDER BY.
  */
object SparkEntry {

  private val DEC = "decimal(18,4)"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- q: relational

  private def q1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // factor precisions sized so the triple product stays exact (< 38
    // digits) — at the precision cap Spark and DuckDB round differently
    val ep = $"l_extendedprice".cast("decimal(12,2)")
    val disc = lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)")
    val tax = lit(1).cast("decimal(3,2)") + $"l_tax".cast("decimal(3,2)")
    t(s, dir, "lineitem")
      .filter($"l_shipdate".cast("date") <= lit("1998-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity".cast(DEC)).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast(DEC)).cast("double").as("sum_base_price"),
        sum(ep * disc).cast("double").as("sum_disc_price"),
        sum(ep * disc * tax).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private def q2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_name", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
  }

  private def q3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
    val ord = t(s, dir, "orders").filter($"o_orderdate".cast("date") < lit("1998-03-15"))
    val li = t(s, dir, "lineitem").filter($"l_shipdate".cast("date") > lit("1998-03-15"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate".cast("date").cast("string").as("o_orderdate"), $"o_orderpriority")
      .agg(sum(($"l_extendedprice".cast(DEC) * (lit(1).cast(DEC) - $"l_discount".cast(DEC))))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(20)
  }

  private def q6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate".cast("date") >= lit("1996-01-01")
        && $"l_shipdate".cast("date") < lit("1997-01-01")
        && $"l_discount" >= 0.03 && $"l_discount" <= 0.07
        && $"l_quantity" < 24)
      .agg(sum(($"l_extendedprice".cast(DEC) * $"l_discount".cast(DEC)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n"))
  }

  private def q4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = t(s, dir, "orders")
      .filter($"o_orderdate".cast("date") >= lit("1996-07-01")
        && $"o_orderdate".cast("date") < lit("1996-10-01"))
    val li = t(s, dir, "lineitem")
    ord.join(li, $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > $"o_orderdate", "leftsemi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  private def q5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey")
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(broadcast(t(s, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA"
        && $"o_orderdate".cast("date") >= lit("1996-01-01")
        && $"o_orderdate".cast("date") < lit("1997-01-01"))
      .groupBy($"n_name")
      .agg(sum(($"l_extendedprice".cast(DEC) * (lit(1).cast(DEC) - $"l_discount".cast(DEC))))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  private def q7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        sum($"o_totalprice".cast(DEC)).over(w).cast("double").as("running_spend"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private def q8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", year($"o_orderdate".cast("date")).as("yr"))
      .agg(sum($"o_totalprice".cast(DEC)).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"r_name", $"yr")
  }

  private def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem").filter($"l_returnflag" === "R")
      .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(sum(($"l_extendedprice".cast(DEC) * (lit(1).cast(DEC) - $"l_discount".cast(DEC))))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(20)
  }

  private def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(countDistinct($"o_custkey").as("n_cust"), count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")
  }

  private def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .filter($"l_shipdate".cast("date") >= lit("1997-01-01")
        && $"l_shipdate".cast("date") < lit("1998-01-01"))
      .groupBy($"l_linestatus")
      .agg(
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"l_linestatus")
  }

  private def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  private def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
      .filter($"l_shipdate".cast("date") >= lit("1997-09-01")
        && $"l_shipdate".cast("date") < lit("1997-10-01"))
      .agg(
        sum(when($"p_type" === "PROMO",
          $"l_extendedprice".cast(DEC) * (lit(1).cast(DEC) - $"l_discount".cast(DEC)))
          .otherwise(lit(0).cast(DEC))).cast("double").as("promo_revenue"),
        sum(($"l_extendedprice".cast(DEC) * (lit(1).cast(DEC) - $"l_discount".cast(DEC))))
          .cast("double").as("total_revenue"))
  }

  private def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // "rank()=1 over everything" as a max-aggregate + join: a global
    // unpartitioned window would drag every supplier aggregate onto ONE
    // task; the 1-row max is broadcast instead. Ties (rank semantics) are
    // preserved by the equality filter, exact because total_rev is DECIMAL.
    val rev = t(s, dir, "lineitem")
      .filter($"l_shipdate".cast("date") >= lit("1996-01-01")
        && $"l_shipdate".cast("date") < lit("1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice".cast(DEC) * (lit(1).cast(DEC) - $"l_discount".cast(DEC))))
        .as("total_rev"))
    rev.join(broadcast(rev.agg(max($"total_rev").as("max_rev"))),
        $"total_rev" === $"max_rev")
      .join(broadcast(t(s, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_rev".cast("double").as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  private def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recentOrders = t(s, dir, "orders")
      .filter($"o_orderdate".cast("date") >= lit("2000-01-01"))
    t(s, dir, "customer")
      .join(recentOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy($"c_mktsegment")
  }

  private def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    // per-part avg: sum of integral quantities in double is exact
    val partAvg = li.groupBy($"l_partkey".as("ap_partkey"))
      .agg((sum($"l_quantity") / count(lit(1))).as("avg_qty"))
    li.join(partAvg, $"l_partkey" === $"ap_partkey")
      .filter($"l_quantity" < $"avg_qty" * 0.2)
      .agg(sum($"l_extendedprice".cast(DEC)).cast("double").as("total_price"),
        count(lit(1)).as("n"))
  }

  private def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity".cast(DEC)).cast("double").as("qty"), count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
        coalesce($"l_linestatus", lit("ALL")).as("ls"), $"qty", $"n")
      .orderBy($"rf", $"ls")
  }

  private def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice".cast(DEC)).cast("double").as("spend"))
      .filter($"n" >= 15)
      .orderBy($"o_custkey")
  }

  private def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("hour", date_trunc("hour", timestamp_micros(expr("ts div 1000"))).cast("string"))
      .groupBy($"hour", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value".cast(DEC)).cast("double").as("sum_value"))
      .orderBy($"hour", $"event_type")
  }

  private def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def cnt(tpe: String) = sum(when($"event_type" === tpe, 1L).otherwise(0L))
    t(s, dir, "events")
      .groupBy($"user_id")
      .agg(cnt("click").as("clicks"), cnt("view").as("views"),
        cnt("purchase").as("purchases"), cnt("signup").as("signups"),
        cnt("error").as("errors"))
      .orderBy($"user_id")
  }

  private def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = t(s, dir, "customer")
    val threshold = cust.filter($"c_acctbal" > 0)
      .agg((sum($"c_acctbal".cast(DEC)).cast("double") / count(lit(1))).as("thr"))
    val recent = t(s, dir, "orders").filter($"o_orderdate".cast("date") >= lit("2000-06-01"))
    cust.join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .crossJoin(broadcast(threshold))
      .filter($"c_acctbal" > $"thr")
      .groupBy(substring($"c_name", 10, 1).as("grp"))
      .agg(count(lit(1)).as("n"), sum($"c_acctbal".cast(DEC)).cast("double").as("bal"))
      .orderBy($"grp")
  }

  private def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").select($"c_nationkey".as("nk"))
      .union(t(s, dir, "supplier").select($"s_nationkey"))
      .distinct()
      .orderBy($"nk")
  }

  // ---------------------------------------------------------------- e: error handling

  /** Shared failing transform: parse k out of events.props, compute an
    * ANSI integral division that fails when k % 7 == 0.
    */
  private def eventsCaptured(s: SparkSession, dir: String,
      stackTraces: Boolean = true): ErrorFrame = {
    import s.implicits._
    // widen: capture on the ~14% error rows throws + renders a stack
    // trace per row — the scan's CPU; the 1-split bench events file
    // would pin it to one core (measured ~0.8 s single-task; a no-op
    // at real scale)
    val ev = operators.Dedup.widen(t(s, dir, "events"))
      .withColumn("k", regexp_extract($"props", "[0-9]+", 0).cast("int"))
    ErrorFrame.captureErrors(
      ev,
      Map("res" -> expr("100 div (k % 7)")),
      input = $"props",
      stackTraces = stackTraces)
  }

  private def e2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsCaptured(s, dir).values
      .select($"event_id", $"k", $"res".cast("long").as("res"))
      .orderBy($"event_id")
  }

  private def e4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsCaptured(s, dir)
      .deadLetters("events k-division pipeline")
      .select($"input_value", $"description", $"cause.error_class".as("error_class"))
      .orderBy($"input_value")
  }

  private def e1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ErrorFrame.captureErrors(
      t(s, dir, "documents"),
      Map("newkey" -> ($"doc_id" % 10), "ratio" -> expr("n_chars div (doc_id % 13)")),
      input = $"doc_id".cast("string"))
      .values
      .select($"doc_id", $"newkey", $"ratio")
      .orderBy($"doc_id")
  }

  private def e21f(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // capture with fallback: e1's failing division recovers to a −1
    // sentinel instead of splitting the row off — per-column
    // substitution with the observable `recovered` flag (silent
    // defaulting is how sentinels leak into training data)
    ErrorFrame.captureErrors(
      t(s, dir, "documents"),
      Map("ratio" -> expr("n_chars div (doc_id % 13)")),
      input = $"doc_id".cast("string"))
      .recovered(Map("ratio" -> lit(-1L)))
      .select($"doc_id", $"ratio", $"recovered")
      .orderBy($"doc_id")
  }

  private def e3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // flat-map with capture: rows with n_chars % 17 == 0 fail (ANSI
    // out-of-bounds element_at), others emit their first 3 words.
    val cap = ErrorFrame.captureErrors(
      t(s, dir, "documents"),
      Map("words" -> expr(
        "case when n_chars % 17 = 0 then array(element_at(split(text, ' '), 999999)) " +
          "else slice(split(text, ' '), 1, 3) end")),
      input = $"doc_id".cast("string"))
    cap.values
      .select($"doc_id", posexplode($"words"))
      .select($"doc_id", ($"pos" + 1).cast("int").as("pos"), $"col".as("word"))
      .orderBy($"doc_id", $"pos")
  }

  private def e5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventsCaptured(s, dir).valuesLoggingErrors()
      .agg(count(lit(1)).as("n_ok"), sum($"res").as("sum_res"))
  }

  private def e6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .withColumn("k", regexp_extract($"props", "[0-9]+", 0).cast("int"))
    ErrorFrame.describeErrors(ev, Map("res2" -> ($"k" * 2)), input = $"props")
      .select($"event_id", $"res2".cast("int").as("res2"))
      .orderBy($"event_id")
  }

  private def e7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the emitted header set below excludes the stack trace, so the
    // capture skips rendering it (the dominant per-error cost) — the
    // stack_trace header key still exists, with a null value, and a
    // stackTraces=true capture fills it (ErrorFrameSpec parity case)
    eventsCaptured(s, dir, stackTraces = false)
      .withErrorHeaders("events k-division pipeline")
      .select($"event_id", explode($"headers").as("h"))
      .select($"event_id", $"h.key".as("hkey"), $"h.value".cast("string").as("hval"))
      .filter($"hkey".isin(core.ErrorHeaders.EXCEPTION_CLASS_NAME, core.ErrorHeaders.DESCRIPTION))
      .orderBy($"event_id", $"hkey")
  }

  private def e8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .withColumn("k", regexp_extract($"props", "[0-9]+", 0).cast("int"))
    val cap = ErrorFrame.captureErrors(
      ev,
      Map("res" -> expr(
        "case when k % 11 = 0 then cast(concat('x', k) as int) else 100 div (k % 7) end")),
      input = $"props",
      stackTraces = false) // classification reads only error_class
    val split = cap.filterRecoverable(
      core.ErrorClassifier(Seq("org.apache.spark.SparkArithmetic"), Set.empty),
      failOnRecoverable = false)
    split.deadLettered.groupBy($"error_class").agg(count(lit(1)).as("n"))
      .withColumn("branch", lit("dead_lettered"))
      .union(split.recoverable.groupBy($"error_class").agg(count(lit(1)).as("n"))
        .withColumn("branch", lit("recoverable")))
      .select($"branch", $"error_class", $"n")
      .orderBy($"branch", $"error_class")
  }

  private def e9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dl = eventsCaptured(s, dir).deadLetters("events k-division pipeline")
    dl.select(to_json(struct(
      $"input_value", $"description", $"cause.error_class".as("error_class"))).as("value"))
      .orderBy($"value")
  }

  private def e12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the replay half of the DLQ lifecycle: dead letters re-run through a
    // FIXED transform (k % 14 instead of k % 7 — half the poison heals);
    // recovered rows and still-poisoned rows are both accounted for.
    val dl = eventsCaptured(s, dir).deadLetters("events k-division pipeline")
    val retried = sources.Sinks.reprocess(dl,
      retry = expr("100 div (cast(regexp_extract(input_value, '[0-9]+', 0) as int) % 14)"))
    // one-pass accounting over both retry outcomes (ErrorFrame.annotated):
    // a values/errors union would re-plan the replay capture per branch
    retried.annotated
      .select(
        when($"is_error", lit("still_failed")).otherwise(lit("recovered")).as("outcome"),
        when($"is_error", $"error_class").otherwise(lit("ok")).as("detail"),
        when(!$"is_error", $"retried".cast("long")).as("val"))
      .groupBy($"outcome", $"detail")
      .agg(count(lit(1)).as("n"), sum($"val").as("sum_val"))
      .orderBy($"outcome", $"detail")
  }

  private def e13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bounded multi-round DLQ replay: round r divides by k % (7·(r+1)) —
    // round 1 (k % 14) heals half the poison, round 2 (k % 21) heals the
    // 14-but-not-21 multiples, k ≡ 0 (mod 42) stays dead. Fixed-point
    // accounting per (outcome, round) equals the SQL twin.
    val dl = eventsCaptured(s, dir).deadLetters("events k-division pipeline")
    val out = sources.Sinks.reprocessLoop(dl,
      retry = r => expr(
        s"100 div (cast(regexp_extract(input_value, '[0-9]+', 0) as int) % ${7 * (r + 1)})"),
      maxRounds = 2)
    out.groupBy($"outcome", $"round")
      .agg(count(lit(1)).as("n"), sum($"retried".cast("long")).as("sum_val"))
      .orderBy($"outcome", $"round")
  }

  private def x2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // layout round trip: writeOptimized (partition dirs + in-file sort +
    // file caps) must be content-lossless — the read-back aggregate,
    // including a text content fingerprint, equals the same aggregate
    // over the source table (the oracle computes it from the original).
    // Per-run unique dir: concurrent runs over the same data dir (e.g.
    // Verify and Bench at once) must not race on one path; the tiny
    // aggregate is pinned (localCheckpoint) so the dir can be deleted
    // before the frame is consumed.
    val tmp = java.nio.file.Files.createTempDirectory("graft_x2_layout_").toString
    try {
      sources.Layout.writeOptimized(t(s, dir, "documents"), tmp,
        partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
      s.read.parquet(tmp).groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"),
          sum(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long")).as("text_sig"))
        .orderBy($"lang")
        .localCheckpoint()
    } finally rmTree(tmp)
  }

  // ---------------------------------------------------------------- d/t: pipeline ops

  private def d1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy(md5($"text").as("text_hash"))
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy($"canonical_id")
  }

  private def t3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(
        $"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .cast("long").as("re_tokens"))
      .orderBy($"doc_id")
  }

  private def d2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Dedup.minHashLsh(t(s, dir, "documents"), numHashes = 16, rowsPerBand = 4,
      threshold = 0.5, shingleSize = 3).orderBy($"da", $"db")
  }

  private def d6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val half = 250L // corpus = ids < 250 at every SF (docs table starts at 0)
    operators.Dedup.minHashLshIncremental(
        corpus = docs.filter($"doc_id" < half),
        newDocs = docs.filter($"doc_id" >= half))
      .orderBy($"da", $"db")
  }

  private def d3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Dedup.simHash(t(s, dir, "documents"), nBits = 32).orderBy($"doc_id")
  }

  private def d4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Dedup.ngramJaccard(t(s, dir, "documents"), n = 2, blockCol = "source",
      threshold = 0.1).orderBy($"da", $"db")
  }

  private def d5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Similarity.nearDupPairs(t(s, dir, "embeddings"), "label", 0.3)
      .orderBy($"va", $"vb")
  }

  private def s1q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.bruteForceTopK(emb, queries, k = 5)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def s2q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"label".as("qlabel"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.partitionedTopK(emb, queries, k = 5)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def d7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // deq_sum as the exact single expression sum(q)*scale/127: the integer
    // sum is exact (BIGINT), so only ONE double multiply + divide happens —
    // no round(), no -0.0-vs-0.0 zero-sign hazard between engines.
    val q = operators.Similarity.quantizeInt8(t(s, dir, "embeddings"))
    q.select($"vec_id", $"scale",
        aggregate($"q", lit(0L), (acc, x) => acc + abs(x).cast("long")).as("q_l1"),
        (aggregate($"q", lit(0L), (acc, x) => acc + x.cast("long")).cast("double")
          * $"scale" / 127.0).as("deq_sum"))
      .orderBy($"vec_id")
  }

  private def s3q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.bruteForceTopKOperator(emb, queries, k = 5)
      .orderBy($"qid", $"cosine".desc, $"vec_id")
  }

  private def t1q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", operators.TextAnalysis.languageId($"text").as("predicted"), $"lang")
      .withColumn("is_match", ($"predicted" === $"lang").cast("int"))
      .orderBy($"doc_id")
  }

  private def t2q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.TextAnalysis.qualityMetrics(t(s, dir, "documents")).orderBy($"doc_id")
  }

  private def t4q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.TextAnalysis.fingerprints(t(s, dir, "documents")).orderBy($"doc_id")
  }

  private def t5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), k = 3)
      .orderBy($"doc_id", $"rank")
  }

  private def t6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.TextAnalysis.hashSample(t(s, dir, "documents"), $"doc_id", cutoffHex = "1a")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"), min($"doc_id").as("first_id"))
      .orderBy($"lang")
  }

  private def m1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // REAL header decode over synthesized VALID binary-PPM payloads:
    // dimensions are analytic functions of doc_id, so the oracle
    // rebuilds the exact payload with string ops and PREDICTS what the
    // parse must return — decode(encode(x)) == x, stated in SQL
    val w = (pmod($"doc_id", lit(16L)) + 1L).cast("int")
    val h = (pmod($"doc_id", lit(13L)) + 2L).cast("int")
    val withBin = t(s, dir, "documents").withColumn("payload",
      operators.Multimodal.ppmPayload(w, h,
        concat(lit("img:"), $"doc_id".cast("string")), reps = 21))
    operators.Multimodal.binaryMetadata(withBin, "payload", "doc_id").orderBy($"doc_id")
  }

  private def m2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withBin = t(s, dir, "documents").withColumn("payload", $"text".cast("binary"))
    operators.Multimodal.batchFeatures(withBin, "payload", "doc_id")
      .select($"doc_id", $"feat_dim", $"feat_l1")
      .orderBy($"doc_id")
  }

  private def m3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // REAL RIFF/WAVE decode: every 4th PCM sample's byte offset comes
    // from the parsed header (data at byte 44, mono 16-bit → block
    // align 2); the sample count is an analytic function of doc_id so
    // the oracle predicts the decoded offsets without binary math
    val ns = (pmod($"doc_id", lit(50L)) + 8L).cast("long")
    val withBin = t(s, dir, "documents").withColumn("payload",
      graft.functions.EncodeWavPcm16(ns, concat(lit("wav:"), $"doc_id".cast("string"))))
    operators.Multimodal.frameSample(withBin, "payload", "doc_id", stride = 4)
      .orderBy($"doc_id", $"frame_idx")
  }

  private def p1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the synthetic corpus carries no PII, so embed a deterministic
    // email + phone per doc; the operator under test is the scrub.
    val raw = t(s, dir, "documents").withColumn("raw",
      concat($"text", lit(" contact user"), $"doc_id".cast("string"),
        lit("@example.com or +1-555-"),
        lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")))
    operators.Pipeline.redactPii(raw, "raw", Seq(
        "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "phone" -> "\\+1-555-[0-9]{4}"))
      .select($"doc_id", $"n_email", $"n_phone", md5($"redacted").as("redacted_md5"))
      .orderBy($"doc_id")
  }

  private def p2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Pipeline.repetitionStats(t(s, dir, "documents"),
        dupFracMax = 0.5, topFracMax = 0.1)
      .orderBy($"doc_id")
  }

  private def p3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Pipeline.packSequences(t(s, dir, "documents"), budget = 512)
      .groupBy($"shard", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("seq_tokens"))
      .withColumn("fill", $"seq_tokens".cast("double") / 512)
      .orderBy($"shard", $"seq_id")
  }

  private def p4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val ev = docs.filter(pmod($"doc_id", lit(97)) === 0)
    val tr = docs.filter(pmod($"doc_id", lit(97)) =!= 0)
    operators.Pipeline.contamination(tr, ev, n = 4).orderBy($"doc_id")
  }

  private def p5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Pipeline.stratifiedSample(t(s, dir, "documents"), "lang", $"doc_id",
        cutoffs = Map("en" -> "0d"), defaultCutoff = "33")
      .orderBy($"lang")
  }

  /** The d4 verified-pair list, which ~10 sweep queries consume (CC,
    * dedup apply, PageRank, purity / triangle audits, leakage splits,
    * best-of-cluster), pinned once per call: the pair list is tiny
    * (near-dup PAIRS, not documents) and the iterative consumers read
    * it every round. Each query builds its own, so its time is cold and
    * no state outlives it; sharing one pair list across consumers at
    * 100 TB is [[operators.Dedup.writePairStore]] (mine once at ingest,
    * every consumer reads the store), and d27_pair_store pins
    * store-roundtrip == recompute.
    */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    // repartition(da) before the pin: ngramJaccard's wide pair tail
    // leaves the result in 32 near-empty partitions, and a checkpoint
    // FREEZES that width into every iterative consumer (d8/d9/d20's CC
    // and PageRank loops paid 32 tasks per round for a few-hundred-row
    // frame — measured 0.34→0.91 / 1.36→2.05 s). A keyed exchange is
    // AQE-resizable, so the pinned frame is size-appropriate at ANY
    // scale: ~1 partition here, many at 100 TB.
    operators.Dedup.ngramJaccard(t(s, dir, "documents"), n = 2,
        blockCol = "source", threshold = 0.1)
      .repartition(org.apache.spark.sql.functions.col("da"))
      .localCheckpoint()

  private def clusters(s: SparkSession, dir: String, driverSolveMaxEdges: Long): DataFrame = {
    import s.implicits._
    // pairs → clusters: connected components over the blocked-Jaccard
    // near-dup graph (operators.Components: min-label propagation with
    // pointer jumping, O(log diameter) rounds, localCheckpoint'ed).
    val pairs = verifiedPairs(s, dir)
    val cc = operators.Components.connected(pairs, "da", "db",
      driverSolveMaxEdges = driverSolveMaxEdges)
    // cluster sizes via a window count: one exchange on component over
    // the (checkpointed, tiny) label frame vs the groupBy+join back's
    // two, and identical values — count(*) over the partition IS the
    // group count
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"component")
    cc.select($"v".as("doc_id"), $"component".as("cluster_id"),
        count(lit(1)).over(w).as("cluster_size"))
      .orderBy($"doc_id")
  }

  private def d8(s: SparkSession, dir: String): DataFrame =
    clusters(s, dir, driverSolveMaxEdges = 1L << 22)

  // same pipeline forced onto the distributed pointer-jumping path — the
  // regime that matters at 100 TB gets its own oracle row, not just
  // property tests (Components.propagate).
  private def d9(s: SparkSession, dir: String): DataFrame =
    clusters(s, dir, driverSolveMaxEdges = 0L)

  private def d10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the apply step of dedup: corpus minus every doc with a smaller-id
    // near-dup neighbor (deterministic keep-earliest policy)
    val docs = t(s, dir, "documents")
    val pairs = verifiedPairs(s, dir)
    operators.Dedup.dropLaterDuplicates(docs, pairs)
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  private def x1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // salted join output must equal the plain join: oracle is the
    // unsalted SQL. The dim side is replicated `salts` ways; the skewed
    // fact side gets a deterministic per-row salt.
    val ev = t(s, dir, "events").select($"user_id", $"event_type")
    val dim = ev.groupBy($"user_id").agg(count(lit(1)).as("n_user_events"))
    operators.Skew.saltedJoin(ev, dim, "user_id", salts = 8)
      .groupBy($"event_type")
      .agg(sum($"n_user_events").as("sum_n"), count(lit(1)).as("n_rows"))
      .orderBy($"event_type")
  }

  private def x3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Bloom prefilter (no false negatives) then exact semi-join: false
    // positives are culled by the join, so output equals the plain
    // semi-join — the daily-ingest "which new rows hit the corpus" gate.
    val ev = t(s, dir, "events").select($"event_id", $"user_id")
    val corpus = ev.filter(pmod($"event_id", lit(2)) === 0)
    val newBatch = ev.filter(pmod($"event_id", lit(2)) =!= 0)
    val survivors = operators.Dedup.bloomPrefilter(newBatch, corpus, "user_id",
      expectedItems = 200000L)
    survivors.join(corpus.select($"user_id").distinct(), Seq("user_id"), "left_semi")
      .select($"event_id", $"user_id")
      .orderBy($"event_id")
  }

  private def j1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ingest-boundary dead letters: events.props is JSON; deterministically
    // mangle every 13th record (strip the closing brace) and parse the rest
    // through from_json(FAILFAST) under capture.
    val ev = t(s, dir, "events").withColumn("raw",
      when(pmod($"event_id", lit(13)) === 0, regexp_replace($"props", "\\}", ""))
        .otherwise($"props"))
    val ef = sources.JsonIngest.parseCaptured(ev, "raw", "k INT")
    // ONE pass over both branches (ErrorFrame.annotated): the former
    // ok-join-bad formulation planned the parse/capture pipeline twice.
    // The n_ok/n_bad > 0 filter preserves the inner-join semantics.
    ef.annotated.groupBy($"event_type")
      .agg(count(when(!$"is_error", lit(1))).as("n_ok"),
        count(when($"is_error", lit(1))).as("n_bad"),
        sum(when(!$"is_error", $"parsed.k".cast("long"))).as("sum_k"))
      .filter($"n_ok" > 0 && $"n_bad" > 0)
      .select($"event_type", $"n_ok", $"n_bad", $"sum_k")
      .orderBy($"event_type")
  }

  private def t7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corpus card: per-language doc/token totals + exact token-count
    // quantiles via the bucketed-selection operator (no per-key sort).
    val docs = t(s, dir, "documents")
      .select($"lang", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_toks"))
    val totals = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"),
        sum($"n_chars").as("sum_chars"))
    val qb = operators.Quantiles.boundaries(docs, "lang", "n_toks", Seq(0.5, 0.9))
    def interp(q: Double, lo: Column, hi: Column) = {
      val pos = lit(q) * ($"n" - 1)
      lo.cast("double") + (pos - floor(pos)) * (hi.cast("double") - lo.cast("double"))
    }
    val quants = qb.groupBy($"lang")
      .agg(
        max(when($"q" === 0.5, $"lo")).as("lo50"),
        max(when($"q" === 0.5, $"hi")).as("hi50"),
        max(when($"q" === 0.9, $"lo")).as("lo90"),
        max(when($"q" === 0.9, $"hi")).as("hi90"),
        max($"n").as("n"))
      .select($"lang",
        interp(0.5, $"lo50", $"hi50").as("p50_toks"),
        interp(0.9, $"lo90", $"hi90").as("p90_toks"))
    totals.join(quants, "lang")
      .select($"lang", $"n_docs", $"n_tokens",
        ($"sum_chars".cast("double") / $"n_docs").as("avg_chars"),
        $"p50_toks", $"p90_toks")
      .orderBy($"lang")
  }

  private def q28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_linestatus"), Seq()),
        $"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity".cast(DEC)).cast("double").as("qty"),
        count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
        coalesce($"l_linestatus", lit("ALL")).as("sm"), $"gid", $"qty", $"n")
      .orderBy($"rf", $"sm", $"gid")
  }

  private def p6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Pipeline.weightedSample(t(s, dir, "documents"),
        $"doc_id", $"n_chars", n = 50)
      .select($"key".as("doc_id"), $"w", $"priority")
      .orderBy($"priority", $"doc_id")
  }

  private def s4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // IVF coarse-quantizer training step: nearest-centroid assignment
    // against k deterministic seeds, centroids broadcast, corpus streamed
    operators.Similarity.kmeansAssign(t(s, dir, "embeddings"), k = 8)
      .orderBy($"vec_id")
  }

  private def s5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the closed IVF loop: train the coarse quantizer (kmeansAssign),
    // label the corpus with TRAINED clusters, then probe each query's own
    // inverted list — s2's probe against a precomputed label, end-to-end.
    val emb = t(s, dir, "embeddings")
    val assigned = operators.Similarity.kmeansAssign(emb, k = 8)
      .select($"vec_id", $"cluster_id")
    val trained = emb.join(assigned, "vec_id")
      .select($"vec_id", $"cluster_id".as("label"), $"embedding")
    val queries = broadcast(trained.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"label".as("qlabel"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.partitionedTopK(trained, queries, k = 5)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def t8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // vocabulary builder through the custom TopKPerKey operator: the
    // Zipfian tail is never sorted, just streamed through bounded heaps
    operators.TextAnalysis.vocabulary(t(s, dir, "documents"), k = 10)
      .select($"grp".as("lang"), $"token", $"n")
      .orderBy($"lang", $"n".desc, $"token")
  }

  private def p9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // exact per-source quota mix: fixed budgets per stratum, chosen by
    // smallest salted hash — bucketed SELECTION, never a stratum sort
    operators.Pipeline.quotaSample(
        t(s, dir, "documents").select($"doc_id", $"source"),
        "source",
        Map("src0" -> 7L, "src1" -> 3L, "src5" -> 12L, "src7" -> 1L,
          "src12" -> 25L),
        $"doc_id")
      .orderBy($"doc_id")
  }

  private def t10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // dictionary encoding: top-30 vocab by global frequency, documents
    // re-encoded as token-id arrays, OOV -> -1 (the step between
    // tokenization and p3's sequence packing). The oracle compare
    // can't hash raw array cells (the d7 lesson), so the QUERY
    // projects the array losslessly: csv render + counts.
    operators.TextAnalysis.encodeWithVocab(t(s, dir, "documents"), vocabSize = 30)
      .select($"doc_id",
        concat_ws(",", transform($"token_ids", _.cast("string"))).as("ids_csv"),
        size($"token_ids").cast("long").as("n_tokens"),
        aggregate($"token_ids", lit(0L),
          (a, x) => a + when(x === -1L, 1L).otherwise(0L)).as("n_oov"))
      .orderBy($"doc_id")
  }

  private def d11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // snapshot diff: yesterday = corpus minus the 7-multiples; today =
    // corpus minus the 5-multiples with 11-multiples edited. md5 computed
    // below the full-outer join, so only hashes shuffle.
    val docs = t(s, dir, "documents")
    val snapA = docs.filter(pmod($"doc_id", lit(7)) =!= 0).select($"doc_id", $"text")
    val snapB = docs.filter(pmod($"doc_id", lit(5)) =!= 0)
      .select($"doc_id",
        when(pmod($"doc_id", lit(11)) === 0, concat($"text", lit(" v2")))
          .otherwise($"text").as("text"))
    operators.Pipeline.snapshotDiff(snapA, snapB)
      .filter($"status" =!= "unchanged")
      .orderBy($"doc_id")
  }

  private def p7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // composite quality gate with per-rule drop accounting, one pass
    val g = operators.Pipeline.qualityGate(t(s, dir, "documents"),
      minTokens = 8.0, maxAvgWordLen = 8.0, maxPunctRatio = 0.05, minStopRatio = 0.02)
    g.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"keep".cast("long")).as("n_kept"),
        sum((!$"r_tokens").cast("long")).as("fail_tokens"),
        sum((!$"r_word_len").cast("long")).as("fail_word_len"),
        sum((!$"r_punct").cast("long")).as("fail_punct"),
        sum((!$"r_stop").cast("long")).as("fail_stop"))
      .orderBy($"lang")
  }

  private def s6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // multi-probe IVF: same trained labels as s5, but each query probes
    // its TWO nearest cells (NearestCentroids expression) — the recall
    // fix for cell-boundary queries. Oracle = exact top-k restricted to
    // the probed cells.
    val emb = t(s, dir, "embeddings")
    val cents = operators.Similarity.seeds(emb, 8)
    val assigned = operators.Similarity.kmeansAssign(emb, k = 8)
      .select($"vec_id", $"cluster_id")
    val trained = emb.join(assigned, "vec_id")
      .select($"vec_id", $"cluster_id".as("label"), $"embedding")
    val queries = broadcast(emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.multiProbeTopK(trained, queries, cents, nprobe = 2, k = 5)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def t11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // unigram-LM commonness: integer-exact corpus frequencies averaged
    // per document, one double division at the end — the perplexity-
    // filter signal without a trained LM
    operators.TextAnalysis.commonness(t(s, dir, "documents"))
      .orderBy($"doc_id")
  }

  private def p10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // deterministic shuffle-shard: reproducible (shard, pos) loader
    // addresses from a salted hash — the training-dump write order
    operators.Pipeline.shuffleShard(
        t(s, dir, "documents").select($"doc_id"), $"doc_id", numShards = 8)
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  private def s8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // product quantization: seed codebooks (4 × 16-dim subspaces, 8
    // codes), scan-bound encode, ADC top-5 per query over codes only
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"),
        operators.Similarity.toDoubleVec($"embedding").as("qv"))
    operators.Similarity.pqAdcTopK(emb, queries, m = 4, k = 8, topK = 5)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"qid")
          .orderBy($"approx_d2", $"vec_id")).cast("int"))
      .select($"qid", $"rank", $"vec_id", $"approx_d2")
      .orderBy($"qid", $"rank")
  }

  private def s9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // IVF-PQ serving path: probe own cell, ADC top-10 shortlist over
    // codes, exact-cosine rerank to top-5 — the two-stage retrieval
    // pattern (cheap wide recall, expensive narrow precision)
    operators.Similarity.ivfPqTopK(t(s, dir, "embeddings"), $"vec_id" < 20,
        nCells = 8, m = 4, k = 8, r = 10, topK = 5)
      .orderBy($"qid", $"rank")
  }

  private def d12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // span-level dedup: 5-token spans, global first occurrence wins,
    // documents reassembled from their surviving spans
    operators.Dedup.spanDedup(t(s, dir, "documents"), spanTokens = 5)
      .orderBy($"doc_id")
  }

  private def x5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // compaction round trip: a 4-files-per-dir layout compacts to 1 file
    // per partition dir and the content aggregate (incl. text signature)
    // must equal the same aggregate over the source — the oracle
    // computes it from the original table.
    val tmp = java.nio.file.Files.createTempDirectory("graft_x5_compact_").toString
    try {
      sources.Layout.writeOptimized(t(s, dir, "documents"), tmp,
        partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
      sources.Layout.compactPartitions(s, tmp, sortCols = Seq("doc_id"))
      s.read.parquet(tmp).groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"),
          sum(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long")).as("text_sig"))
        .orderBy($"lang")
        .localCheckpoint()
    } finally rmTree(tmp)
  }

  private def t12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // BPE merge training on the word histogram: 3 merge rounds, then
    // the post-merge symbol histogram (top 20) — the vocab-file cut
    operators.TextAnalysis.bpeSymbolHistogram(t(s, dir, "documents"),
        rounds = 3, topK = 20)
      .orderBy($"n_total".desc, $"symbol")
  }

  private def q31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // weekly cohort retention: cohort = a user's first active week
    // (integer weeks since Mon 1970-01-05 — pure integer arithmetic,
    // no tz/locale dependence). One exchange on user_id builds
    // (cohort, distinct-weeks set) with bounded per-user state (≤ the
    // corpus' week span); after the explode each user contributes each
    // week at most once, so the final count(*) per (cohort, offset) IS
    // the distinct-user count — no Expand-planned count(distinct).
    t(s, dir, "events")
      .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
      .select($"user_id", expr("datediff(day, date '1970-01-05') div 7").as("w"))
      .groupBy($"user_id")
      .agg(min($"w").as("cohort_week"), collect_set($"w").as("weeks"))
      .select($"cohort_week", explode($"weeks").as("w"))
      .groupBy($"cohort_week", ($"w" - $"cohort_week").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  private def d13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // changelog apply (MERGE INTO): v1/v2 exactly as d11 builds them;
    // the diff becomes a changelog (upserts carry v2 text, removed ids
    // delete) applied back onto v1. The oracle states the FIXED POINT —
    // diff(a, b) applied to a must BE b — so it computes v2 directly,
    // an independent formulation of the same frame.
    val docs = t(s, dir, "documents")
    val v1 = docs.filter(pmod($"doc_id", lit(7)) =!= 0).select($"doc_id", $"text")
    val v2 = docs.filter(pmod($"doc_id", lit(5)) =!= 0)
      .select($"doc_id",
        when(pmod($"doc_id", lit(11)) === 0, concat($"text", lit(" v2")))
          .otherwise($"text").as("text"))
    val diff = operators.Pipeline.snapshotDiff(v1, v2).filter($"status" =!= "unchanged")
    val log = diff.join(v2, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"status" === "removed", lit("delete")).otherwise(lit("upsert")).as("op"),
        $"text")
    operators.Pipeline.applyChangelog(v1, log)
      .select($"doc_id", md5($"text").as("h"))
      .orderBy($"doc_id")
  }

  private def x6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // z-order roundtrip: write documents clustered on
    // interleave(doc_id, n_chars), read back — content-lossless, and
    // the oracle recomputes the Morton arithmetic independently.
    // LayoutSpec holds the clustering-quality assertion (per-file
    // min/max spans shrink on BOTH dims vs a single-column sort).
    val tmp = java.nio.file.Files.createTempDirectory("graft_x6_zorder_").toString
    try {
      sources.Layout.writeZOrdered(
        t(s, dir, "documents").select($"doc_id", $"n_chars", $"lang"),
        tmp, "doc_id", "n_chars", numFiles = 8)
      s.read.parquet(tmp)
        .select($"doc_id", $"n_chars", $"lang",
          sources.Layout.zOrderValue($"doc_id", $"n_chars").as("zval"))
        .orderBy($"doc_id")
        .localCheckpoint()
    } finally rmTree(tmp)
  }

  private def x12z(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 3-D z-order roundtrip: documents clustered on interleave(doc_id,
    // n_chars, n_tokens) — the (tenant, day, key) shape real tables
    // prune on. Content-lossless; the oracle recomputes the round-robin
    // Morton arithmetic independently (21 bits/col). LayoutSpec holds
    // the clustering-quality assertion (per-file spans shrink on ALL
    // THREE dims vs a single-column sort).
    val tmp = java.nio.file.Files.createTempDirectory("graft_x12_zorder3_").toString
    try {
      val docs = t(s, dir, "documents").select($"doc_id", $"n_chars",
        size(split($"text", " ", -1)).cast("long").as("n_tokens"))
      sources.Layout.writeZOrderedN(docs, tmp,
        Seq("doc_id", "n_chars", "n_tokens"), numFiles = 8)
      s.read.parquet(tmp)
        .select($"doc_id", $"n_chars", $"n_tokens",
          sources.Layout.zOrderValueN(Seq($"doc_id", $"n_chars", $"n_tokens"))
            .as("zval"))
        .orderBy($"doc_id")
        .localCheckpoint()
    } finally rmTree(tmp)
  }

  private def q48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SQL percentile_cont per group — document-length percentiles per
    // language, the corpus-card stat every quality report opens with.
    // Same bucketed distributed selection as q25 (two aggregate passes,
    // local sort of ONLY the boundary buckets — never a per-key full
    // sort); the interpolation is the operator's documented
    // lo + (hi-lo)*frac double ops, mirrored verbatim in the oracle.
    operators.Quantiles.interpolated(
      t(s, dir, "documents").select($"lang", $"n_chars"),
      keyCol = "lang", valCol = "n_chars", qs = Seq(0.1, 0.5, 0.9, 0.99))
      .orderBy($"lang", $"q")
  }

  private def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SQL percentile_disc per group: the exact rank-based percentile —
    // always a value FROM the data (p95-latency semantics), no
    // interpolation; same bucketed distributed selection, no per-key
    // sort. pct keeps the column's own exact type.
    operators.Quantiles.discrete(
      t(s, dir, "documents").select($"lang", $"n_chars"),
      keyCol = "lang", valCol = "n_chars", qs = Seq(0.25, 0.5, 0.75, 0.95))
      .orderBy($"lang", $"q")
  }

  private def d28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // exact GLOBAL similarity join (prefix filtering): every Jaccard ≥
    // 0.5 pair over trigram shingle sets with NO blocking — at sf0.01
    // the unblocked corpus holds 25 true pairs of which d4's
    // source-blocked join can see only 7: the cross-block pairs ARE
    // the point. Halved corpus slice keeps the oracle's brute-force
    // pair join tractable at sf0.1 while preserving true pairs.
    operators.Dedup.prefixJaccardJoin(
      t(s, dir, "documents").filter($"doc_id" % 2 === 0), n = 3,
      threshold = 0.5)
      .orderBy($"da", $"db")
  }

  private def d29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // soft dedup accounting per source: every doc kept, weighted
    // 1/|exact-dup class| — effective_docs is the corpus size a mixing
    // decision actually sees. Fractional weights sum via the d20
    // sorted-fold so the per-source double totals are engine-bit-exact.
    val w = operators.Dedup.softDedupWeights(
      t(s, dir, "documents").select($"doc_id", $"source", $"text"),
      clusterCol = md5($"text"))
    w.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        expr("aggregate(sort_array(collect_list(weight)), cast(0.0 as double), (a, x) -> a + x)")
          .as("effective_docs"))
      .orderBy($"source")
  }

  private def q49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // robust price-outlier accounting per return flag: median/MAD with
    // a 50% breakdown point where q34's mean/σ is dragged by the very
    // rows a monitor exists to catch; two bucketed-selection passes,
    // never a per-key full sort
    operators.Pipeline.madOutliers(
      t(s, dir, "lineitem").select($"l_returnflag", $"l_extendedprice"),
      keyCol = "l_returnflag", valCol = "l_extendedprice", k = 5.0)
      .orderBy($"l_returnflag")
  }

  private def x15ks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // exact two-sample KS distance between click and purchase value
    // distributions — the binning-free drift monitor beside x11's PSI
    val ev = t(s, dir, "events")
    operators.Pipeline.ksDrift(
      ev.filter($"event_type" === "click").select($"value"),
      ev.filter($"event_type" === "purchase").select($"value"), "value")
  }

  private def x13h(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Hilbert-clustered layout roundtrip: documents clustered on
    // hilbert(doc_id, n_chars, n_tokens). The curve itself is proven
    // exhaustively in HilbertSpec (bijection + unit-step adjacency over
    // the whole grid — stronger than any sampled oracle); the index is
    // iterative bit-state no SQL engine reproduces succinctly, so THIS
    // row pins the layout contract over real data: the clustered write
    // loses nothing, duplicates nothing, mutates nothing.
    val tmp = java.nio.file.Files.createTempDirectory("graft_x13_hilbert_").toString
    try {
      val docs = t(s, dir, "documents").select($"doc_id", $"n_chars",
        size(split($"text", " ", -1)).cast("long").as("n_tokens"))
      sources.Layout.writeHilbert(docs, tmp,
        Seq("doc_id", "n_chars", "n_tokens"), numFiles = 8)
      s.read.parquet(tmp)
        .select($"doc_id", $"n_chars", $"n_tokens")
        .orderBy($"doc_id")
        .localCheckpoint()
    } finally rmTree(tmp)
  }

  private def x14sd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // trailing-7-day distinct users per day (DAU + WAU-ending-at-d):
    // ONE (day,user) dedup shuffle, pairs exploded to the ≤7 window
    // ends they serve — never a per-window rescan or a giant window
    // sort. Day = integer nanos-epoch day, mirrored by the oracle's
    // epoch_us // 86400000000. slidingDistinctSketch is the documented
    // HLL swap at 100 TB (spec pins its error bound).
    val ev = t(s, dir, "events")
      .select(expr("ts div 86400000000000").as("day"), $"user_id")
    operators.Pipeline.slidingDistinct(ev, "day", "user_id", windowDays = 7)
      .orderBy($"day")
  }

  private def x7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one-pass exact column profiler over every documents column
    operators.Pipeline.profile(t(s, dir, "documents"),
        Seq("doc_id", "lang", "n_chars", "source", "text"))
      .orderBy($"col_name")
  }

  private def p11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // temperature mixture sampling over the source column, α = 0.5;
    // the operator returns the row-level keep/rate frame — this query
    // aggregates it into the per-source accounting the oracle states
    operators.Pipeline.temperatureMixSample(
        t(s, dir, "documents"), "source", $"doc_id", targetFrac = 0.3)
      .groupBy($"source")
      .agg(first($"n_total").as("n_total"), first($"rate").as("rate"),
        sum($"keep".cast("long")).as("n_sampled"),
        min(when($"keep", $"doc_id")).as("first_key"))
      .orderBy($"source")
  }

  private def d14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SimHash Hamming-LSH near-dup: 4 × 8-bit integer band slices find
    // every pair within Hamming ≤ 3 (pigeonhole — such a pair agrees
    // exactly on ≥ 1 slice), one bit_count(xor) verifies per candidate.
    // The corpus' near-identical clusters make the exact pair set huge
    // (1.3M pairs at sf0.1), so the QUERY aggregates per left doc —
    // count + hamming sum + first partner pins the pair set without
    // dumping it.
    operators.Dedup.simHashNearDup(t(s, dir, "documents"),
        nBits = 32, bands = 4, maxHamming = 3)
      .groupBy($"da")
      .agg(count(lit(1)).as("n_pairs"), sum($"hamming").as("sum_hamming"),
        min($"db").as("first_db"))
      .orderBy($"da")
  }

  private def e14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DLQ rate limit (error-storm suppression): keep the first 3 error
    // rows per (error_class, day) through the TopKPerKey operator,
    // account for the suppressed tail — the kept sample plus exact
    // totals is what a triage dashboard needs, not the storm itself.
    // localCheckpoint: the kept branch's TopKPerKeyPartial exchange and
    // the totals branch's hash-agg exchange are not canonically
    // identical, so AQE cannot ReusedExchange them — without the pin
    // the try_capture scan would run once per branch (the repo-wide
    // one-scan rule for capture pipelines); the pinned frame is 3
    // narrow columns of error rows only.
    val errs = eventsCaptured(s, dir, stackTraces = false).errors
      .withColumn("day",
        to_date(timestamp_micros(expr("ts div 1000"))).cast("string"))
      .select($"error_class", $"day", $"event_id")
      .localCheckpoint()
    val kept = sources.Sinks.rateLimitDeadLetters(errs,
      Seq("error_class", "day"), Seq(operators.TopK.asc("event_id")), maxPerKey = 3)
    val keptIds = kept.groupBy($"error_class", $"day")
      .agg(concat_ws(",",
        transform(sort_array(collect_list($"event_id")), _.cast("string"))).as("kept_ids"))
    sources.Sinks.rateLimitAccounting(errs, kept, Seq("error_class", "day"))
      .join(keptIds, Seq("error_class", "day"))
      .orderBy($"day")
  }

  private def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // set operations: INTERSECT / EXCEPT (distinct semantics) — which
    // nations have customers, suppliers, or both. Small keys: Catalyst
    // plans both as hash aggregates over a broadcast/shuffle join.
    val cn = t(s, dir, "customer").select($"c_nationkey".as("nk"))
    val sn = t(s, dir, "supplier").select($"s_nationkey".as("nk"))
    cn.intersect(sn).withColumn("tag", lit("both"))
      .unionByName(cn.except(sn).withColumn("tag", lit("cust_only")))
      .unionByName(sn.except(cn).withColumn("tag", lit("supp_only")))
      .select($"tag", $"nk")
      .orderBy($"tag", $"nk")
  }

  private def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // time-RANGE window frame: per user, events and value in the
    // PRECEDING HOUR of each event (not a row-count frame — q7 covers
    // that). One (user) exchange + sort; the range frame is evaluated
    // by a sliding pointer over the sorted run, never a per-row rescan.
    val w = Window.partitionBy($"user_id").orderBy($"tus")
      .rangeBetween(-3600000000L, 0L)
    t(s, dir, "events")
      .withColumn("tus", expr("ts div 1000"))
      .select($"user_id", $"event_id",
        count(lit(1)).over(w).as("n_1h"),
        sum($"value".cast(DEC)).over(w).cast("double").as("sum_1h"))
      .orderBy($"user_id", $"event_id")
  }

  private def x8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // incremental aggregate maintenance: the events stream arrives as
    // three batches (split by event_id mod 3) folded into a per-user
    // state table — the oracle states the fixed point, a direct
    // aggregate over everything (independent formulation).
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_id", $"value".cast(DEC).as("v"))
    val state = (0 until 3).foldLeft(Option.empty[DataFrame]) { (st, i) =>
      Some(operators.Pipeline.refreshAggState(st,
        ev.filter(pmod($"event_id", lit(3)) === i),
        keyCols = Seq("user_id"), sumCols = Seq("v")))
    }.get
    state.select($"user_id", $"n", $"sum_v".cast("double").as("total_value"))
      .orderBy($"user_id")
  }

  private def p12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // leakage-safe split: the assignment unit is d8's dedup cluster, so
    // near-dup groups never straddle train/val/test — the contamination
    // mode a per-document split cannot prevent. Singletons (docs not in
    // any near-dup pair) are their own cluster.
    val clus = clusters(s, dir, driverSolveMaxEdges = 1L << 22)
    operators.Pipeline.leakageSafeSplit(
        t(s, dir, "documents").select($"doc_id"), clus,
        Seq(("train", "8"), ("val", "c"), ("test", "g")))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"),
        min($"doc_id").as("first_doc"))
      .orderBy($"split")
  }

  private def p19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 5-fold leakage-safe CV split keyed by EXACT-dup cluster (md5 of
    // text — the highest-risk leakage unit, oracle-cheap; p12 covers
    // the near-dup-cluster variant): Σ per-fold n_clusters equals the
    // global distinct-cluster count exactly when no cluster spans folds
    val docs = t(s, dir, "documents")
    val clus = docs.select($"doc_id", md5($"text").as("cluster_id"))
    operators.Pipeline.kFoldSplit(docs.select($"doc_id"), clus, k = 5)
      .groupBy($"fold")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"),
        min($"doc_id").as("first_doc"))
      .orderBy($"fold")
  }

  private def q51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // relational DIVISION (the ∀ quantifier): customers with orders in
    // EVERY priority class. The scalable counting formulation — dedup
    // to (custkey, priority), count distinct per customer, keep the
    // full-house count — one shuffle on the key; the textbook double
    // NOT EXISTS would plan two correlated anti-joins over the same
    // data. Divisor cardinality rides along as a 1-row broadcast.
    val o = t(s, dir, "orders")
    val nPrio = o.agg(countDistinct($"o_orderpriority").as("n_prio"))
    o.groupBy($"o_custkey")
      .agg(countDistinct($"o_orderpriority").as("n_prio_cust"),
        count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(nPrio))
      .filter($"n_prio_cust" === $"n_prio")
      .select($"o_custkey", $"n_orders")
      .orderBy($"o_custkey")
  }

  private def q52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // top-k WITH TIES (DENSE_RANK semantics): the top-3 distinct
    // quantity values per return flag and every row carrying them.
    // Composed from the bounded-heap TopK operator over the DISTINCT
    // value set (tiny) + one broadcast semi-join back — the window
    // formulation dense_rank() ≤ 3 sorts the whole fact table per key;
    // this never sorts rows at all.
    val li = t(s, dir, "lineitem").select($"l_returnflag", $"l_quantity")
    val topVals = operators.TopK.perKey(
      li.distinct(), keys = Seq("l_returnflag"),
      orderBy = Seq(operators.TopK.desc("l_quantity")), k = 3)
    li.join(broadcast(topVals), Seq("l_returnflag", "l_quantity"))
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag", $"l_quantity".desc)
  }

  private def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // grouped anomaly detection, exact two-pass z-score: per-type mean
    // and variance from DECIMAL power sums (order-independent ⇒
    // engine-reproducible), flagging via (v-μ)² > k²σ² — no sqrt, no
    // libm, every double op in pinned order, so the oracle matches
    // bit-for-bit even AT the threshold boundary. Stats are tiny and
    // broadcast back; the probe scan never shuffles (the t11 shape).
    val ev = t(s, dir, "events").select($"event_type", $"event_id", $"value")
    val stats = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DEC)).as("sv"),
        sum($"value".cast(DEC) * $"value".cast(DEC)).as("svv"))
      .select($"event_type", $"n",
        ($"sv".cast("double") / $"n").as("mu"),
        ($"svv".cast("double") / $"n"
          - ($"sv".cast("double") / $"n") * ($"sv".cast("double") / $"n")).as("vr"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("flag", ($"value" - $"mu") * ($"value" - $"mu") > lit(9.0) * $"vr")
      .groupBy($"event_type")
      .agg(first($"n").as("n"), first($"mu").as("mu"),
        first($"vr").as("variance"),
        sum($"flag".cast("long")).as("n_anomalies"),
        min(when($"flag", $"event_id")).as("first_anomaly"))
      .orderBy($"event_type")
  }

  private def p13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // winsorization: clip values to the interpolated [p05, p95] of
    // their event_type — the outlier-capping step before numeric
    // features feed training. Quantiles via the bucketed-selection
    // operator (no per-key sort, q25's proven interpolation), bounds
    // broadcast into one clip scan. Output stays hash-exact: counts,
    // the bit-exact bounds, and min/max of the clipped values — never
    // an order-dependent double sum.
    val ev = t(s, dir, "events").select($"event_type", $"value")
    val qb = operators.Quantiles.boundaries(ev, "event_type", "value",
      qs = Seq(0.05, 0.95))
    def interp(q: Double, lo: Column, hi: Column) = {
      val pos = lit(q) * ($"n" - 1)
      lo + (pos - floor(pos)) * (hi - lo)
    }
    val bounds = qb.groupBy($"event_type")
      .agg(max($"n").as("n"),
        max(when($"q" === 0.05, $"lo")).as("lo05"),
        max(when($"q" === 0.05, $"hi")).as("hi05"),
        max(when($"q" === 0.95, $"lo")).as("lo95"),
        max(when($"q" === 0.95, $"hi")).as("hi95"))
      .select($"event_type", $"n",
        interp(0.05, $"lo05", $"hi05").as("p05"),
        interp(0.95, $"lo95", $"hi95").as("p95"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("w", least(greatest($"value", $"p05"), $"p95"))
      .groupBy($"event_type")
      .agg(first($"n").as("n"), first($"p05").as("p05"), first($"p95").as("p95"),
        sum(($"value" < $"p05").cast("long")).as("n_clipped_lo"),
        sum(($"value" > $"p95").cast("long")).as("n_clipped_hi"),
        min($"w").as("min_w"), max($"w").as("max_w"))
      .orderBy($"event_type")
  }

  private def e15q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DLQ quarantine: exact dedup applied to the dead-letter store —
    // a poison input that recurs across the corpus is stored ONCE with
    // an occurrence count (repeat-offender accounting), so the
    // quarantine table stays proportional to DISTINCT poison inputs,
    // not to how often the pipeline hit them.
    eventsCaptured(s, dir, stackTraces = false)
      .deadLetters("events k-division pipeline")
      .groupBy(md5($"input_value").as("input_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        min($"input_value").as("input_value"),
        first($"cause.error_class").as("error_class"))
      .orderBy($"input_hash")
  }

  private def d15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Kafka-style log compaction in batch: the events changelog
    // collapses to its latest record per (user, type) stream key via
    // ONE max_by hash aggregate — map-side partial argmax, the shuffle
    // carries one candidate per key per partition, never the log. The
    // compacted-topic read path of the reference's ecosystem.
    val ev = t(s, dir, "events").select($"user_id", $"event_type",
      expr("ts div 1000").as("tus"), $"event_id", $"value", $"props")
    operators.Pipeline.compactLog(ev,
        keyCols = Seq("user_id", "event_type"),
        orderCols = Seq("tus", "event_id"),
        payloadCols = Seq("value", "props"))
      .orderBy($"user_id", $"event_type")
  }

  private def e16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DLQ trend monitoring: hourly dead-letter counts per error class
    // with integer-exact spike verdicts (count > mean + 2σ, compared
    // cross-multiplied so no doubles exist anywhere) — the dashboard
    // query over the error store, aggregated here to a per-class card.
    val errs = eventsCaptured(s, dir, stackTraces = false).errors
      .select($"error_class", $"ts")
    sources.Sinks.errorTrend(errs, "error_class", "ts", k = 2)
      .groupBy($"error_class")
      .agg(count(lit(1)).as("n_hours"), sum($"c").as("total_errors"),
        max($"c").as("max_hourly"),
        sum($"spike".cast("long")).as("n_spike_hours"),
        min(when($"spike", $"hour")).as("first_spike_hour"))
      .orderBy($"error_class")
  }

  private def p14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // RAG chunking: 32-token windows every 24 tokens (8-token overlap),
    // chunk ids + hashes ready for the embedding/dedup stages. Pure
    // per-row explode — no shuffle before the ordered output.
    operators.Pipeline.chunkDocuments(t(s, dir, "documents"),
        window = 32, stride = 24)
      .select($"doc_id", $"chunk_id", $"start_tok", $"n_tok", $"chunk_hash")
      .orderBy($"doc_id", $"chunk_id")
  }

  private def t13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.TextAnalysis.bigramNovelty(t(s, dir, "documents"), rareDf = 2)
      .orderBy($"doc_id")
  }

  private def d16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SemDeDup: coarse-quantizer clustering bounds the pair search to
    // within-cell (Σ|cell|², never corpus²); cosine near-dups above the
    // d5 threshold collapse keep-earliest. Survivors out, id-ordered.
    operators.Similarity.semDedup(t(s, dir, "embeddings"), k = 8,
        threshold = 0.3)
      .orderBy($"vec_id")
  }

  private def q35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // statistical MODE per group via the two-level argmax aggregate:
    // counts to (key, value) grain first (map-side partials), then one
    // max_by hash aggregate ordered by (count, -value) — deterministic
    // smallest-value tie-break, no window sort, the second shuffle
    // carries one row per distinct (key, value).
    val counts = t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_quantity").agg(count(lit(1)).as("n"))
    counts.groupBy($"l_returnflag")
      .agg(max_by($"l_quantity", struct($"n", -$"l_quantity")).as("mode_qty"),
        max($"n").as("mode_n"),
        count(lit(1)).as("n_distinct_vals"))
      .orderBy($"l_returnflag")
  }

  private def q9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // TPC-H Q9-flavored product-type profit by nation × year. This
    // schema has no partsupp table, so supply cost is proxied as 60% of
    // p_retailprice — the join/agg shape (filtered part + supplier +
    // nation broadcast into the lineitem⋈orders stream) is the point.
    // Decimal factors sized so every product stays exact (< 38 digits).
    val part = t(s, dir, "part").filter($"p_name".contains("bolt"))
    val ep = $"l_extendedprice".cast("decimal(12,2)")
    val disc = lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)")
    val cost = $"p_retailprice".cast("decimal(8,2)") *
      lit(0.6).cast("decimal(2,1)") * $"l_quantity".cast("decimal(4,1)")
    t(s, dir, "lineitem")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(t(s, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
      .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate".cast("date")).as("yr"))
      .agg(sum(ep * disc - cost).cast("double").as("profit"),
        count(lit(1)).as("n_lines"))
      .orderBy($"n_name", $"yr")
  }

  private def q36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // gaps-and-islands: longest consecutive-day activity streak per
    // user. day - row_number is constant within a consecutive run, so
    // one distinct + one window + one aggregate finds every island —
    // all-integer day arithmetic (micros div 86400s), no date types.
    val days = t(s, dir, "events")
      .select($"user_id", expr("(ts div 1000) div 86400000000").as("day"))
      .distinct()
    val rn = row_number().over(Window.partitionBy($"user_id").orderBy($"day"))
    val islands = days
      .withColumn("grp", $"day" - rn)
      .groupBy($"user_id", $"grp").agg(count(lit(1)).as("len"))
    islands.groupBy($"user_id")
      .agg(max($"len").as("longest_streak"), sum($"len").as("n_active_days"),
        count(lit(1)).as("n_streaks"))
      .orderBy($"user_id")
  }

  private def p15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // anti-domination cap: at most 12 documents per source domain, the
    // k smallest doc_ids surviving (deterministic), selected by the
    // custom TopKPerKey operator — bounded heaps, ≤ k rows per domain
    // per upstream partition cross the exchange, never a window sort
    // over the crawl. The accounting twin is spec-covered.
    operators.Pipeline.capPerDomain(t(s, dir, "documents"), "source", k = 12)
      .select($"doc_id", $"source", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  private def t14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.TextAnalysis.tokenEntropy(t(s, dir, "documents"))
      .orderBy($"doc_id")
  }

  /** Three value-dependent failure modes over events (bad cast, invalid
    * array index, division by zero) — the multi-class error source
    * shared by the e17 fingerprint and e19 burn-rate queries.
    * Stackless: both consumers read class/message only.
    */
  private def threeModeCaptured(s: SparkSession, dir: String): ErrorFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .withColumn("k", regexp_extract($"props", "[0-9]+", 0).cast("int"))
    ErrorFrame.captureErrors(
      ev,
      Map("res" -> expr(
        "case when k % 11 = 0 then cast(concat('x', k) as int) " +
          "when k % 13 = 0 then element_at(array(1, 2), k + 3) " +
          "else 100 div (k % 7) end")),
      input = $"props",
      stackTraces = false)
  }

  private def e17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DLQ crash grouping: three value-dependent failure modes (bad
    // cast, invalid array index, division by zero) collapse to three
    // fingerprint rows — digit runs and quoted fragments masked out of
    // the message, one (class, template) hash aggregate over the store.
    val cap = threeModeCaptured(s, dir) // class + message only
    sources.Sinks.fingerprintErrors(
        cap.errors.select($"error_class", $"error_message",
          $"props".as("input_value")))
      .select($"error_class", $"template", $"fp", $"n", $"example_input")
      .orderBy($"error_class", $"template")
  }

  private def e20x(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // deterministic DLQ triage exemplars: the 5 inputs per error class
    // with the smallest content hash — stable across runs/replays,
    // never LIMIT's arrival-order bias; bounded-heap TopK, ≤ k rows
    // per class per partition cross the shuffle
    val cap = threeModeCaptured(s, dir)
    sources.Sinks.sampleErrorExemplars(
        cap.errors.select($"error_class", $"props".as("input_value")), k = 5)
      .orderBy($"error_class", $"h")
  }

  private def s10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ANN quality harness: single-probe IVF retrieval (the s2 path)
    // scored against exact brute force over the same query set — per-
    // query recall@5. The eval joins touch only (qid, vec_id) id lists;
    // no vector crosses an exchange beyond the two retrieval runs.
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"label".as("qlabel"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    val approx = operators.Similarity.partitionedTopK(emb, queries, k = 5)
    val exact = operators.Similarity.bruteForceTopK(
      emb, queries.select($"qid", $"qv"), k = 5)
    operators.Similarity.recallAtK(approx, exact).orderBy($"qid")
  }

  private def d17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // crawl-store URL canonicalization: three synthetic raw variants per
    // document (tracking params + fragment, clean lowercase, trailing
    // slash) collapse under the canonicalizer; exact dedup on the
    // canonical keys the store. Variants 1+2 merge, 3 stays distinct
    // (no query string) — both outcomes visible in n_raw.
    val id = $"doc_id".cast("string")
    val base = concat(lit("https://"), upper($"source"),
      lit(".example.com/d/"), id)
    val raw1 = concat(base, lit("?utm_source=feed&utm_campaign="), id,
      lit("&ref=abc#sec-"), id)
    val raw2 = concat(lower(base), lit("?ref=abc"))
    val raw3 = concat(lower(base), lit("/"))
    t(s, dir, "documents")
      .select($"doc_id", explode(array(raw1, raw2, raw3)).as("raw_url"))
      .withColumn("canonical_url", operators.Pipeline.canonicalizeUrl($"raw_url"))
      .groupBy($"canonical_url")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_raw"),
        min($"raw_url").as("first_raw"))
      .select($"doc_id", $"canonical_url", $"n_raw", $"first_raw")
      .orderBy($"doc_id", $"canonical_url")
  }

  private def q37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // decile segmentation: customers ntile(10)-bucketed by total spend
    // WITHIN their market segment — the window is partitioned by
    // segment, so each decile sort is a per-key run, never a global
    // single-partition sort (the global-ntile anti-pattern); the
    // (spend, custkey) order key makes tie assignment deterministic.
    val spend = t(s, dir, "orders").groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(DEC)).as("spend"),
        count(lit(1)).as("n_orders"))
      .join(broadcast(t(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
    val dec = spend.withColumn("decile", ntile(10).over(
      Window.partitionBy($"c_mktsegment")
        .orderBy($"spend".desc, $"o_custkey".asc)))
    dec.groupBy($"c_mktsegment", $"decile")
      .agg(count(lit(1)).as("n_customers"),
        sum($"spend").cast("double").as("decile_spend"),
        sum($"n_orders").as("n_orders"),
        max($"spend").cast("double").as("max_spend"),
        min($"spend").cast("double").as("min_spend"))
      .orderBy($"c_mktsegment", $"decile")
  }

  private def d18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Dedup.ngramContainment(t(s, dir, "documents"), n = 2,
        blockCol = "source", threshold = 0.2)
      .orderBy($"da", $"db")
  }

  private def x9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // data-contract gate: four expectations over lineitem, audited in
    // one pass — the ingest-boundary complement of p7's document gate.
    // NULL rule results count as violations (contracts are assertions).
    operators.Pipeline.expectationReport(t(s, dir, "lineitem"), Seq(
      "qty_range" -> $"l_quantity".between(1, 49),
      "disc_max" -> ($"l_discount" <= 0.07),
      "price_pos" -> ($"l_extendedprice" > 0),
      "flag_known" -> $"l_returnflag".isin("A", "N", "R")))
  }

  private def p16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // dedup keeping the BEST member of each near-dup cluster: most
    // lexically diverse document (distinct-token count, integer-exact),
    // smallest id on ties — quality-aware canonical selection on top of
    // the d8 cluster pipeline; singletons keep themselves.
    val docs = t(s, dir, "documents")
    val clus = clusters(s, dir, driverSolveMaxEdges = 1L << 22)
      .select($"doc_id", $"cluster_id")
    val scored = docs.select($"doc_id",
      size(array_distinct(split($"text", " ", -1))).cast("long").as("score"))
    operators.Pipeline.bestOfCluster(scored, clus, $"score")
      .orderBy($"cluster_id")
  }

  private def t15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.TextAnalysis.bigramLm(t(s, dir, "documents"),
        topPerContext = 3, minContext = 5)
      .orderBy($"w1", $"c".desc, $"w2")
  }

  private def j3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // schema-drift detection: a producer starts emitting an extra field
    // (every 7th record) and dropping an expected one (every 11th) —
    // neither is "malformed", so the FAILFAST DLQ boundary (j1) never
    // sees it; the drift report ranks unknown keys and missing expected
    // keys corpus-wide before the silent-drop bites.
    val id = $"doc_id".cast("string")
    val js = concat(lit("{\"id\": "), id,
      when($"doc_id" % 11 === 0, lit(""))
        .otherwise(concat(lit(", \"lang\": \""), coalesce($"lang", lit("")), lit("\""))),
      when($"doc_id" % 7 === 0,
        concat(lit(", \"xtra_"), ($"doc_id" % 3).cast("string"), lit("\": 1")))
        .otherwise(lit("")),
      lit("}"))
    val drift = sources.JsonIngest.schemaDrift(
      t(s, dir, "documents").select($"doc_id", js.as("js")),
      "js", Seq("id", "lang"))
    val unknown = drift.select($"doc_id", explode($"unknown_keys").as("key"))
      .groupBy($"key").agg(count(lit(1)).as("n"), min($"doc_id").as("first_id"))
      .select(lit("unknown").as("kind"), $"key", $"n", $"first_id")
    val missing = drift.select($"doc_id", explode($"missing_keys").as("key"))
      .groupBy($"key").agg(count(lit(1)).as("n"), min($"doc_id").as("first_id"))
      .select(lit("missing").as("kind"), $"key", $"n", $"first_id")
    unknown.union(missing).orderBy($"kind", $"key")
  }

  private def p17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the training-data flagship END-TO-END: quality gate → near-dup
    // dedup (keep-earliest over pairs mined on the survivors) → token
    // packing — three oracle-verified operators composed into the
    // corpus-prep flow, summarized per shard. Each stage keeps its own
    // query's plan (p7 / d4+d10 / p3); composition adds only wiring.
    // localCheckpoint: four downstream branches (grams, sizes, dedup
    // anti-join probe, packing) would each re-run the regex-heavy
    // quality scan — pin the survivor frame to one evaluation
    val kept = operators.Pipeline.qualityGate(t(s, dir, "documents"),
        minTokens = 8.0, maxAvgWordLen = 8.0, maxPunctRatio = 0.05,
        minStopRatio = 0.02)
      .filter($"keep")
      .select($"doc_id", $"source", $"text")
      .localCheckpoint()
    val pairs = operators.Dedup.ngramJaccard(kept, n = 2,
      blockCol = "source", threshold = 0.1)
    val deduped = operators.Dedup.dropLaterDuplicates(kept, pairs)
    operators.Pipeline.packSequences(deduped, budget = 512)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), max($"seq_id").as("last_seq"),
        sum($"toks").as("shard_tokens"))
      .orderBy($"shard")
  }

  private def m4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // shape buckets over REAL decoded PPM dimensions (12 distinct
    // shapes, 8..32 × 8..24) — the oracle predicts the parse
    val w = (pmod($"doc_id", lit(4L)) * 8L + 8L).cast("int")
    val h = (pmod($"doc_id", lit(3L)) * 8L + 8L).cast("int")
    // shape-bucketed decode planning: payloads whose DECODED
    // width × height agree batch together — the step that keeps a real
    // GPU decode stage from re-padding every batch; per shape: payload
    // count, bytes, and the number of size-64 batches the stage runs.
    val withBin = t(s, dir, "documents").withColumn("payload",
      operators.Multimodal.ppmPayload(w, h,
        concat(lit("img4:"), $"doc_id".cast("string")), reps = 72))
    operators.Multimodal.binaryMetadata(withBin, "payload", "doc_id")
      .groupBy($"width", $"height")
      .agg(count(lit(1)).as("n_payloads"),
        sum($"byte_len").as("total_bytes"),
        expr("(count(1) + 63) div 64").as("n_batches"))
      .orderBy($"width", $"height")
  }

  private def m7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // upload-manifest audit: a synthetic sidecar manifest with injected
    // corruption — every 37th id declares a wrong length, every 41st a
    // wrong checksum, every 97th is missing from the manifest, and one
    // phantom manifest entry has no payload — classified exactly once
    // each with triage precedence, aggregated per status
    val withBin = t(s, dir, "documents")
      .withColumn("payload", $"text".cast("binary"))
    val derived = operators.Multimodal.binaryMetadata(withBin, "payload", "doc_id")
    val phantomId = derived.agg(max($"doc_id")).as[Long].head + 1L
    val declared = derived
      .filter($"doc_id" % 97 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 37 === 0, $"byte_len" + 1L).otherwise($"byte_len")
          .as("decl_len"),
        when($"doc_id" % 41 === 0, reverse($"content_md5"))
          .otherwise($"content_md5").as("decl_md5"))
      .unionByName(Seq((phantomId, 10L, "deadbeef"))
        .toDF("doc_id", "decl_len", "decl_md5"))
    operators.Multimodal.validateDeclaredMetadata(derived, declared)
      .groupBy($"status")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("first_id"))
      .orderBy($"status")
  }

  private def e18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // contract violations routed to the SAME dead-letter surface as
    // thrown errors: x9's expectation rules over lineitem, quarantined
    // rows rendered in the DeadLetter.avsc shape with the failed rule
    // list as the cause message.
    operators.Pipeline.quarantineToDeadLetters(
        t(s, dir, "lineitem"),
        Seq(
          "qty_range" -> $"l_quantity".between(1, 49),
          "disc_max" -> ($"l_discount" <= 0.07),
          "price_pos" -> ($"l_extendedprice" > 0),
          "flag_known" -> $"l_returnflag".isin("A", "N", "R")),
        input = concat($"l_orderkey".cast("string"), lit(":"),
          $"l_linenumber".cast("string")),
        description = "lineitem ingest contract")
      .select($"input_value", $"description",
        $"cause.error_class".as("error_class"), $"cause.message".as("message"))
      .orderBy($"input_value")
  }

  private def d19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // dedup-QA harness (the text twin of s10's ANN recall): d2's
    // MinHash-LSH pair list audited against EXACT blocked ground truth
    // — all same-source pairs with 3-shingle Jaccard ≥ 0.5 from the d4
    // token-join formulation. Restricting ground truth to one blocking
    // partition keeps the audit affordable on any engine while
    // measuring the only thing LSH can lose: banding misses. One row:
    // exact pairs, LSH-found pairs, misses, recall.
    val docs = t(s, dir, "documents")
    val exact = operators.Dedup.ngramJaccard(docs, n = 3,
        blockCol = "source", threshold = 0.5)
      .select($"da", $"db")
    val src = docs.select($"doc_id", $"source")
    val lshBlocked = operators.Dedup.minHashLsh(docs, numHashes = 16,
        rowsPerBand = 4, threshold = 0.5, shingleSize = 3)
      .join(src.as("sa"), $"da" === $"sa.doc_id")
      .join(src.as("sb"), $"db" === $"sb.doc_id")
      .filter($"sa.source" === $"sb.source")
      .select($"da", $"db")
    val hit = exact.join(lshBlocked, Seq("da", "db"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact")).crossJoin(
        hit.agg(count(lit(1)).as("n_found")))
      .select($"n_exact", $"n_found",
        ($"n_exact" - $"n_found").as("n_missed"),
        ($"n_found".cast("double") / $"n_exact".cast("double")).as("recall"))
  }

  private def d20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // centrality inside the near-dup graph: five damped PageRank rounds
    // over the d4 pair list — rank mass concentrating on one document
    // exposes the cluster's hub/template. Engine-exact via the sorted
    // contribution folds (see Components.pageRank).
    val pairs = verifiedPairs(s, dir).select($"da", $"db")
    operators.Components.pageRank(pairs, iterations = 5)
      .orderBy($"v")
  }

  private def q41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // CUBE — the third member of the grouping family (q18 ROLLUP, q28
    // GROUPING SETS): all 2^2 margin combinations in one pass, one
    // Expand + one hash aggregate; grouping_id disambiguates the
    // all-NULL margins from genuine NULL keys.
    t(s, dir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(grouping_id().as("gid"),
        sum($"l_quantity".cast(DEC)).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
        coalesce($"l_linestatus", lit("ALL")).as("ls"),
        $"gid", $"sum_qty", $"n")
      .orderBy($"gid", $"rf", $"ls")
  }

  private def t17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // tokenizer fertility by language — the tokenizer-quality metric
    // (chars consumed per emitted token; a tokenizer that fragments a
    // language inflates its training cost and context usage). BIGINT
    // sums, ONE double division per ratio.
    val tc = operators.TextAnalysis.tokenCounts(t(s, dir, "documents"))
    t(s, dir, "documents").select($"doc_id", $"lang", $"n_chars")
      .join(tc, "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("chars"),
        sum($"ws_tokens").as("ws_toks"),
        sum($"re_tokens").as("re_toks"))
      .select($"lang", $"n_docs", $"chars",
        ($"chars".cast("double") / $"ws_toks".cast("double")).as("fertility_ws"),
        ($"chars".cast("double") / $"re_toks".cast("double")).as("fertility_re"))
      .orderBy($"lang")
  }

  private def t18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bigram-LM perplexity (the CCNet-style quality filter): LM trained
    // on the doc_id % 5 != 0 split, every doc scored against it — the
    // held-out fifth actually exercises the unseen-bigram backoff.
    operators.TextAnalysis.bigramPerplexity(
        t(s, dir, "documents"), trainFilter = pmod($"doc_id", lit(5)) =!= 0)
      .orderBy($"doc_id")
  }

  private def d22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SCD Type-2 over the event stream treated as a per-user state
    // changelog: runs of equal event_type collapse to versions with
    // half-open validity bounds. Micros (ts div 1000): DuckDB truncates
    // parquet ns-timestamps to micros on read — the q26 precedent.
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_type", expr("ts div 1000").as("tus"), $"event_id")
    operators.Pipeline.scd2(ev, Seq("user_id"), Seq("event_type"),
        tsCol = "tus", tieCol = "event_id")
      .select($"user_id", $"event_type", $"version".cast("long").as("version"),
        $"effective_from", $"effective_to", $"is_current")
      .orderBy($"user_id", $"version")
  }

  private def q42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // deterministic EWMA (alpha = 0.25, exactly representable -> the
    // whole query is pure IEEE multiply/add, bit-exact vs the oracle
    // with NO round()): per-user smoothed event value over time.
    val ev = t(s, dir, "events")
      .select($"user_id", expr("ts div 1000").as("tus"), $"event_id", $"value")
    operators.Pipeline.ewma(ev, Seq("user_id"), Seq("tus", "event_id"),
        valueCol = "value", alpha = 0.25)
      .orderBy($"user_id")
  }

  private def m6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // image near-dup: aHash over REALLY DECODED pixels (the decoder's
    // 8×8 block-mean grayscale of valid binary-PPM payloads), candidate
    // pairs via the generic Hamming-LSH banding (pigeonhole-exact for
    // hamming <= 7 at 8 bands). Docs whose last digit is 0/1 share a
    // payload seed → byte-identical images → hamming-0 pairs; every
    // other image is seed-unique — so the exact pair list is analytic
    // and the oracle states it without re-deriving any hash.
    val seed = when(pmod($"doc_id", lit(10L)) < 2L,
      $"doc_id" - pmod($"doc_id", lit(10L))).otherwise($"doc_id")
    val w = (pmod(seed, lit(9L)) + 8L).cast("int")
    val h = (pmod(seed, lit(7L)) + 8L).cast("int")
    val withBin = t(s, dir, "documents").withColumn("payload",
      operators.Multimodal.ppmPayload(w, h,
        concat(lit("img6:"), seed.cast("string")), reps = 21))
    // pin the signature frame (16 bytes/doc): the banding consumers
    // (oversized-bucket count + both join sides) otherwise re-run the
    // 64-sample hex projection once each
    val ph = operators.Multimodal.perceptualHash(withBin, "payload", "doc_id")
      .localCheckpoint()
    operators.Dedup.hammingNearDup(ph, sigCol = "phash",
        nBits = 64, bands = 8, maxHamming = 7)
      .orderBy($"da", $"db")
  }

  private def p24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // FFD bin packing per shard at a 200-token budget: no doc straddles
    // a bin (p3's chop trades order-preservation for exactly that)
    operators.Pipeline.ffdPack(t(s, dir, "documents"), budget = 200L)
      .orderBy($"shard", $"doc_id")
  }

  private def m11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // REAL DCT pHash over really-decoded pixels: 8×8 planted PPMs make
    // the block-mean grayscale the pixels THEMSELVES, so the oracle
    // rebuilds gray64 with pure string ops and the DCT — literal cosine
    // table, fixed-order dot products — is the arithmetic under test,
    // hash-value-compared per doc (the m8 golden discipline, applied to
    // the real-decode path instead of the stub)
    val withBin = t(s, dir, "documents").withColumn("payload",
      operators.Multimodal.ppmPayload(lit(8), lit(8),
        concat(lit("img11:"), $"doc_id".cast("string")), reps = 6))
    operators.Multimodal.dctPerceptualHash(withBin, "payload", "doc_id")
      .orderBy($"doc_id")
  }

  private def d35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SemDeDup capacity twin (the D36 recipe): identical pipeline to
    // d16 but k grows with the corpus — k = max(4, ceil(N/250)) bounds
    // expected cells at 250 vectors, so Σ|cell|² is N·250 (linear),
    // never the pinned-k N²/k quadratic r12 measured at sf10.
    operators.Similarity.semDedupScaled(t(s, dir, "embeddings"),
        targetCell = 250, threshold = 0.3)
      .orderBy($"vec_id")
  }

  private def m12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // m6's capacity twin: SAME planted payloads and hamming <= 7
    // semantics, but the signature widens to aHash(63) || dHash(63) and
    // the banding to 9 x 14-bit slices (16k buckets/band vs m6's 256) —
    // the saturation law closed by capacity, not a new algorithm.
    // Analytic-oracle caveat (the d14/d34 one): the oracle states the
    // planted pair list with no bucket cap, while hammingNearDup2
    // anti-joins buckets over maxBucket=10000 — sound while no 14-bit
    // band bucket exceeds the cap at checked SFs (5000 docs over 16k
    // buckets/band; OperatorsSpec pins emptiness of the oversized set).
    val seed = when(pmod($"doc_id", lit(10L)) < 2L,
      $"doc_id" - pmod($"doc_id", lit(10L))).otherwise($"doc_id")
    val w = (pmod(seed, lit(9L)) + 8L).cast("int")
    val h = (pmod(seed, lit(7L)) + 8L).cast("int")
    val withBin = t(s, dir, "documents").withColumn("payload",
      operators.Multimodal.ppmPayload(w, h,
        concat(lit("img6:"), seed.cast("string")), reps = 21))
    val ph = operators.Multimodal.perceptualHashWide(withBin, "payload", "doc_id")
      .localCheckpoint()
    operators.Dedup.hammingNearDup2(ph, nBitsHi = 63, nBitsLo = 63,
        bands = 9, maxHamming = 7, sigHiCol = "phash_hi", sigLoCol = "phash_lo")
      .orderBy($"da", $"db")
  }

  private def p25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DSIR data selection (Xie et al. 2023): hashed-unigram importance
    // weights against the lang='en' target slice, top-25 kept. Two
    // explode+hash-agg corpus passes; the 256-bucket model broadcasts.
    operators.Pipeline.dsirSelect(t(s, dir, "documents"),
      isTarget = $"lang" === "en", k = 25)
  }

  private def t34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // trained quality classifier: 4 rounds of full-batch logistic GD
    // distilling the corpus length gate (n_chars > 400) into a scorer
    // over LENGTH-FREE distributional features (TTR / max-token-freq /
    // mean token length) — accuracy climbs 146 → 459 of 500 at sf0.01,
    // monotone. The training trace is the output; every round is one
    // aggregate scan over the pinned standardized feature frame.
    operators.TextAnalysis.trainQualityClassifier(t(s, dir, "documents"),
      isPositive = $"n_chars" > 400L)
  }

  private def t36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // T36: the quality classifier upgraded to hashed char-3-gram
    // features over a TOPIC-PLANTED corpus: a label-independent 64-char
    // prefix plus SIX equal-length topic tokens per class
    // (zzgoodtopic / zzbadstopic), so the t34 stat features shift
    // identically across classes (length/TTR-blind by construction —
    // spec-pinned at exact chance on the balanced corpus) while the
    // 64-bucket hashing-trick gram vector separates them (the d33/s15
    // planted precedent; the repeat keeps the topic tf large enough to
    // dominate finite-sample stat noise — accuracy climbs well past
    // chance, unlike the t23 row this task replaces the lesson of).
    // Trace output: 4 GD rounds, ONE aggregate scan per round.
    val planted = t(s, dir, "documents").select($"doc_id",
      concat(substring($"text", 1, 64),
        when(pmod($"doc_id", lit(2L)) === 0L,
          lit(" zzgoodtopic" * 6)).otherwise(lit(" zzbadstopic" * 6)))
        .as("text"))
    operators.TextAnalysis.trainQualityNgramClassifier(planted,
      isPositive = pmod($"doc_id", lit(2L)) === 0L, n = 3, buckets = 64)
  }

  private def m15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // REAL ISO-BMFF box-walk over synthesized VALID MP4 containers
    // (the m1/m3 decode∘encode == id trick): every field is an
    // analytic function of doc_id, so the oracle PREDICTS what the
    // parse must return; every 10th doc carries a non-MP4 payload and
    // must degrade to format = 'unknown' with null fields.
    val ts = pmod($"doc_id", lit(5L)) * 120L + 600L
    val dur = (pmod($"doc_id", lit(97L)) + 1L) * 733L
    val ntr = pmod($"doc_id", lit(3L)) + 1L
    val w = (pmod($"doc_id", lit(8L)) + 1L) * 16L
    val h = (pmod($"doc_id", lit(5L)) + 1L) * 16L
    val withBin = t(s, dir, "documents").withColumn("payload",
      when(pmod($"doc_id", lit(10L)) === 7L, $"text".cast("binary"))
        .otherwise(graft.functions.EncodeMp4(ts, dur, ntr, w, h,
          concat(lit("mp4:"), $"doc_id".cast("string")))))
    operators.Multimodal.mp4Metadata(withBin, "payload", "doc_id")
      .orderBy($"doc_id")
  }

  private def p27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DoReMi domain reweighting: per-domain loss proxy = ln(mean
    // tokens per doc) from ONE map-side-combined aggregate (exact
    // integer sums, one ln, round 9), then 5 multiplicative-weights
    // rounds on DRIVER state of 20 domains. The oracle unrolls every
    // round in CTEs with the normalizer as a sorted list_reduce fold.
    val loss = t(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("docs_d"),
        sum(size(split(trim($"text"), "\\s+")).cast("long")).as("tok_d"))
      .select($"source".as("domain"),
        round(log($"tok_d".cast("double") / $"docs_d".cast("double")), 9)
          .as("loss"))
    operators.Pipeline.doremiWeights(loss, rounds = 5)
      .orderBy($"round", $"domain")
  }

  private def t37q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // WordPiece merge training: 4 rounds of likelihood-scored merges
    // (count(xy)/(count(x)·count(y)) — exact BIGINTs, one double
    // division) over the vocabulary-sized symbol histogram.
    operators.TextAnalysis.wordPieceMerges(t(s, dir, "documents"), rounds = 4)
      .orderBy($"rank")
  }

  private def t38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Gopher rule-based filter: every ratio rule an exact integer
    // cross-multiplication, one double (mean_word_len) emitted. The
    // stopword screen uses the corpus's own function words (the
    // synthetic vocabulary has no English stopwords beyond the/a —
    // the t23 discriminative-row lesson: 317/183 split at sf0.01,
    // not all-false), while the operator's default stays the
    // published list.
    operators.TextAnalysis.gopherQualityFlags(t(s, dir, "documents"),
        stopwords = Seq("the", "a"))
      .orderBy($"doc_id")
  }

  private def d36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // C4-style cross-document span dedup at the 3-token-chunk grain:
    // canonical = globally smallest (doc_id, idx) packed into one
    // exact long; reassembly via sort_array over kept (idx, chunk)
    // structs — '' (never NULL) when everything was trimmed.
    operators.Dedup.chunkDedup(t(s, dir, "documents"), chunkTokens = 3)
      .orderBy($"doc_id")
  }

  private def p28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // CCNet tiering: t18's bigram perplexity cut at each LANGUAGE's
    // own 1/3 and 2/3 interpolated percentiles (Quantiles distributed
    // selection — no per-key sort) into head/middle/tail.
    operators.TextAnalysis.perplexityBuckets(
        t(s, dir, "documents"), trainFilter = pmod($"doc_id", lit(5)) =!= 0)
      .orderBy($"doc_id")
  }

  private def s18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // FILTERED vector search: top-5 cosine neighbors among label%3=0
    // vectors only (pre-filter semantics — every query still gets k
    // rows); ranking via the bounded-heap TopKPerKey operator, rank
    // re-derived by a window over the ≤ queries×k result rows.
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.filteredTopK(emb, queries,
        pred = pmod($"label", lit(3)) === 0, k = 5)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"cosine".desc, $"vec_id".asc)))
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def t39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Flesch reading ease + FK grade: exact integer word/syllable/
    // sentence counts, two divisions, CAST-literal constants — pure
    // IEEE, no rounding discipline needed.
    operators.TextAnalysis.fleschReadability(t(s, dir, "documents"))
      .orderBy($"doc_id")
  }

  private def m16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // frame-sampling plan from the m15 container walk: one frame per
    // 10 s capped at 16/clip, all-integer timestamps; the every-10th
    // non-MP4 doc plans zero frames.
    val ts = pmod($"doc_id", lit(5L)) * 120L + 600L
    val dur = (pmod($"doc_id", lit(97L)) + 1L) * 733L
    val ntr = pmod($"doc_id", lit(3L)) + 1L
    val w = (pmod($"doc_id", lit(8L)) + 1L) * 16L
    val h = (pmod($"doc_id", lit(5L)) + 1L) * 16L
    val withBin = t(s, dir, "documents").withColumn("payload",
      when(pmod($"doc_id", lit(10L)) === 7L, $"text".cast("binary"))
        .otherwise(graft.functions.EncodeMp4(ts, dur, ntr, w, h,
          concat(lit("mp4:"), $"doc_id".cast("string")))))
    operators.Multimodal.frameSamplePlan(withBin, "payload", "doc_id",
        stepSeconds = 10L, maxFrames = 16)
      .orderBy($"doc_id", $"frame_idx")
  }

  private def p29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // data-constrained scaling card: per-domain token masses at the
    // budget-implied epoch count, valued through the published
    // exponential repeat-decay law (one round(9)'d exp; everything
    // else exact/IEEE).
    val u = t(s, dir, "documents")
      .groupBy($"source".as("key"))
      .agg(sum(size(split(trim($"text"), "\\s+")).cast("long")).as("u_tokens"))
    operators.Pipeline.dataConstrainedCard(u, budget = 1000000L)
      .orderBy($"key")
  }

  private def d37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // blocked Levenshtein linkage: customers sharing the first 7 of 9
    // name digits form a block (≤100 rows); exact edit-distance ≤ 1
    // verifies — ids differing in ONE of the last two digit positions.
    operators.Dedup.blockedLevenshtein(
        t(s, dir, "customer").select($"c_custkey", $"c_name"),
        blockKey = substring($"c_name", 1, 16), maxDist = 1,
        nameCol = "c_name", idCol = "c_custkey")
      .select($"ida", $"idb", $"dist".cast("long").as("dist"))
      .orderBy($"ida", $"idb")
  }

  private def x16q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Pearson chi-square independence: lang × source contingency —
    // exact integer margins, sorted-cell-order IEEE fold, no libm.
    operators.Pipeline.chiSquare(t(s, dir, "documents"), "lang", "source")
  }

  private def m17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // REAL JPEG/Exif marker+IFD walk over synthesized VALID files
    // (the m15 encode∘decode == id trick): orientation/make/byte order
    // all analytic in doc_id; every 10th doc carries garbage and must
    // degrade to 'unknown'. Byte order alternates II/MM so BOTH TIFF
    // layouts execute in the oracle-checked path.
    val orient = pmod($"doc_id", lit(8L)) + 1L
    val mk = concat(lit("g"), pmod($"doc_id", lit(10L)).cast("string"))
    val big = pmod($"doc_id", lit(2L)) === 1L
    val withBin = t(s, dir, "documents").withColumn("payload",
      when(pmod($"doc_id", lit(10L)) === 7L, $"text".cast("binary"))
        .otherwise(graft.functions.EncodeExifJpeg(orient, mk, big)))
    operators.Multimodal.exifMetadata(withBin, "payload", "doc_id")
      .orderBy($"doc_id")
  }

  private def s16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // JL sign projection 64→16, then brute-force top-5 in the
    // PROJECTED space — every pair 4× cheaper; recall vs the exact
    // 64-dim answer is pinned in OperatorsSpec (the s10 harness).
    val emb = t(s, dir, "embeddings")
    val proj = operators.Similarity.jlProject(emb, inDims = 64, outDims = 16)
      .select($"vec_id", $"proj".as("embedding"))
    val queries = broadcast(proj.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qv")))
    operators.Similarity.bruteForceTopK(proj, queries, k = 5)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def p26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DSIR resampling proper: Gumbel-top-k over the p25 weights with
    // DERIVED (md5) noise — a seeded weighted sample without
    // replacement, reproducible on any engine.
    operators.Pipeline.dsirResample(t(s, dir, "documents"),
      isTarget = $"lang" === "en", k = 25)
  }

  private def s17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SQ8 coarse scan (int dots, scales cancel in the cosine ratio) →
    // TopKPerKey candidate heaps → exact float re-rank of 32/query.
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.sq8RerankTopK(emb, queries, k = 5, candidates = 32)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def t35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // TextRank extractive summarization: top-2 most central 10-token
    // pseudo-sentences per document via 5 rounds of damped weighted
    // PageRank over the within-doc overlap graph — d20's sorted-fold
    // discipline, hash-exact.
    operators.TextAnalysis.textRankSummary(t(s, dir, "documents"))
      .orderBy($"doc_id", $"srank")
  }

  private def m8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Golden cross-engine pin of the STUB hex-sampling aHash arithmetic
    // (ADVICE r8): since m6's oracle became an analytic pair list, the
    // 64-sample/threshold math itself is re-derived here by DuckDB over
    // NON-media payloads (the "g:" prefix keeps DecodeMedia on the stub
    // branch even if a document happened to start with a media magic).
    // Hash VALUES compare directly — strictly stronger on the
    // arithmetic than the pair join it backs up.
    val docs = t(s, dir, "documents")
      .filter(pmod($"doc_id", lit(10L)) === 0L)
      .withColumn("payload", encode(concat(lit("g:"), $"text"), "UTF-8"))
    operators.Multimodal.perceptualHash(docs, "payload", "doc_id")
      .orderBy($"doc_id")
  }

  private def m9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-window energy/zero-crossings over REALLY decoded PCM: sample
    // count is an analytic function of doc_id and the byte stream is
    // the documented md5 synthesis, so the oracle rebuilds the exact
    // samples with string ops and PREDICTS every window sum — the
    // m1/m3 decode∘encode == id pattern extended from headers to
    // CONTENT arithmetic. All-integer output: hash-exact, no rounding.
    val ns = (pmod($"doc_id", lit(40L)) * 31L + 300L).cast("long")
    val withBin = t(s, dir, "documents").withColumn("payload",
      graft.functions.EncodeWavPcm16(ns,
        concat(lit("au:"), $"doc_id".cast("string"))))
    operators.Multimodal.audioWindowStats(withBin, "payload", "doc_id",
        window = 256)
      .orderBy($"doc_id", $"win")
  }

  private def m13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // energy-gated activity segmentation over m9's REALLY decoded PCM
    // corpus: threshold = the int16-uniform mean square (⌊(2^32−1)/12⌋
    // = 357913941), so windows split near 50/50 and the islands are
    // non-trivial. All-integer output — hash-exact analytic oracle.
    val ns = (pmod($"doc_id", lit(40L)) * 31L + 300L).cast("long")
    val withBin = t(s, dir, "documents").withColumn("payload",
      graft.functions.EncodeWavPcm16(ns,
        concat(lit("au:"), $"doc_id".cast("string"))))
    operators.Multimodal.activitySegments(withBin, "payload", "doc_id",
        window = 256, minMeanSquare = 357913941L)
      .orderBy($"doc_id", $"seg_start")
  }

  private def t29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // top-25 burstiest tokens (Fano factor with zeros): template/topic
    // pile-up the df/tf stats can't see — two integer aggregates and
    // two divisions, mirrored verbatim in the oracle
    operators.TextAnalysis.burstiness(t(s, dir, "documents"),
      minOccurrences = 5L, k = 25)
  }

  private def p21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // easy→hard curriculum by n_chars, cut into 4 phases of EQUAL
    // TOKEN budget — the cumulative token scan rides Prefix.cumSums
    // (two-pass partitioned prefix sum), never one global sort task
    operators.Pipeline.tokenCurriculum(t(s, dir, "documents"),
        difficultyCol = "n_chars", phases = 4)
      .orderBy($"phase")
  }

  private def d30q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // threshold-selection curve off the SHARED verified-pair list: for
    // each step k (θ = k·0.05), how many verified near-dup pairs clear
    // it — the curve to read BEFORE committing a dedup threshold.
    // Bucketing states floor(j/0.05) on BOTH engines (one formulation,
    // zero double drift; 0.1 = 2×0.05 exactly in binary, so every
    // verified pair lands at step ≥ 2 and sequence(2, b) is non-empty).
    verifiedPairs(s, dir)
      .select(floor($"jaccard" / lit(0.05).cast("double")).cast("long").as("b"))
      .select(explode(sequence(lit(2L), $"b")).as("step"))
      .groupBy($"step")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"step",
        ($"step".cast("double") * lit(0.05).cast("double")).as("theta"),
        $"n_pairs")
      .orderBy($"step")
  }

  private def q43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Pareto frontier of orders: no other order is both cheaper AND
    // earlier — bucket-pruned two-phase skyline, exact vs the global
    // window rule by the monotone-bucket argument (see skyline2d).
    val o = t(s, dir, "orders").select($"o_orderkey", $"o_totalprice",
      expr("unix_micros(cast(o_orderdate as timestamp))").as("tus"))
    operators.Pipeline.skyline2d(o, "o_totalprice", "tus", "o_orderkey",
        xLo = 0.0, xHi = 600000.0, nBuckets = 256)
      .orderBy($"o_orderkey")
  }

  private def d24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // triangle census of the near-dup graph — the structural complement
    // of d21's per-cluster purity: triangles vs wedges says whether CC
    // clusters are cliques (true duplicates) or chains (transitive
    // merges). Ordered 2-path join (a<b<c: each triangle counted once),
    // wedges from the degree frame — two explicit-key joins over the
    // LSH-bounded edge list, never the corpus.
    val e = verifiedPairs(s, dir).select($"da", $"db") // already pinned
    operators.Components.triangleCensus(e, "da", "db")
  }

  private def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // MATCH_RECOGNIZE-lite: each user's time-ordered event-type string
    // matched against a sequence regex (signup then later purchase,
    // anything between) — the flexible sequence detector the fixed
    // q27 funnel can't parameterize. One key exchange; the per-user
    // string is bounded by that user's history; RE2-safe pattern so
    // Java regex and DuckDB RE2 agree; all-integer/boolean output.
    val z = struct($"tus", $"event_id", $"event_type")
    t(s, dir, "events")
      .select($"user_id", expr("ts div 1000").as("tus"), $"event_id", $"event_type")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), collect_list(z).as("zs"))
      .select($"user_id", $"n_events",
        concat_ws(" ", transform(sort_array($"zs"), x => x("event_type"))).as("seq"))
      .select($"user_id", $"n_events",
        $"seq".rlike("signup.*purchase").as("matched"))
      .orderBy($"user_id")
  }

  private def d23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // MOSS winnowing similarity report: doc pairs sharing >= 2 selected
    // k-gram fingerprints (window-min selection, w+k-1 guarantee)
    operators.Dedup.winnowMatches(t(s, dir, "documents"),
        k = 3, w = 4, maxDf = 50, minShared = 2)
      .orderBy($"da", $"db")
  }

  private def d32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ExactSubstr trim (Lee et al. class) with PLANTED cross-document
    // passages that pin the winnowing guarantee boundary in the oracle:
    // every 50th doc gets a clone embedding a w+k-1 = 6-token verbatim
    // run (detection CERTAIN — >= k tokens trimmed from the clone, the
    // original is canonical by smaller packed okey), and a second clone
    // family embeds a k-1 = 2-token run (NO shared k-gram can exist —
    // the planted run is untouchable). Filler tokens are doc-unique
    // ("zzq" tag), clone ids sit at max(doc_id)+1 (the s15 discipline:
    // data-derived, collision-free at any SF).
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
    val off = docs.agg(max($"doc_id")).as[Long].head() + 1L
    val toks = split(trim($"text"), "\\s+")
    // filler references the ORIGINAL id under a distinct name ("did"):
    // in a select that also aliases doc_id+off AS doc_id, a bare
    // $"doc_id" inside a sibling expression resolves laterally to the
    // NEW alias (the zzqa500x1-vs-zzqa0x1 red during this query's build)
    def filler(tag: String) = concat_ws(" ",
      transform(sequence(lit(1), lit(5)),
        i => concat(lit(tag), $"did".cast("string"), lit("x"), i.cast("string"))))
    val det = docs.filter(pmod($"doc_id", lit(50L)) === 0L)
      .select($"doc_id".as("did"), $"text")
      .select(($"did" + off).as("doc_id"),
        concat_ws(" ", filler("zzqa"),
          concat_ws(" ", slice(toks, 5, 6)), filler("zzqb")).as("text"))
    val miss = docs.filter(pmod($"doc_id", lit(50L)) === 10L)
      .select($"doc_id".as("did"), $"text")
      .select(($"did" + off * 2L).as("doc_id"),
        concat_ws(" ", filler("zzqc"),
          concat_ws(" ", slice(toks, 5, 2)), filler("zzqd")).as("text"))
    operators.Dedup.exactSubstrTrim(
        docs.unionByName(det).unionByName(miss), k = 3, w = 4)
      .orderBy($"doc_id")
  }

  private def t19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // token frequency-of-frequencies: Zipf/Heaps corpus-health card
    operators.TextAnalysis.freqSpectrum(t(s, dir, "documents"))
      .orderBy($"c")
  }

  private def t21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // RAKE keywords: top-3 stopword-delimited phrases per doc by the
    // degree/frequency statistic; the en marker list IS this corpus's
    // stopword set
    operators.TextAnalysis.rakeKeywords(t(s, dir, "documents"),
        stopwords = operators.TextAnalysis.markers("en"), k = 3)
      .orderBy($"doc_id", $"score".desc, $"phrase")
  }

  private def t20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // distribution drift between the even/odd doc_id corpus halves —
    // two deterministic "snapshots" of the same corpus
    val d = t(s, dir, "documents")
    operators.TextAnalysis.klDrift(
      d.filter(pmod($"doc_id", lit(2)) === 0),
      d.filter(pmod($"doc_id", lit(2)) =!= 0))
  }

  private def x10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // order-value distribution in 20 equi-width buckets over [0, 600k)
    // — out-of-range mass clamps visibly into the edge buckets.
    operators.Pipeline.histogram(t(s, dir, "orders"), "o_totalprice",
        lo = 0.0, hi = 600000.0, nBuckets = 20)
      .orderBy($"bucket")
  }

  private def p18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bootstrap error bars for total order value: five deterministic
    // Poisson-bootstrap replicas; the spread of the per-replica totals
    // is the confidence interval — one pass over 5× the data, no RNG.
    val w = operators.Pipeline.bootstrapWeights(
      t(s, dir, "orders").select($"o_orderkey", $"o_totalprice"),
      keyCol = $"o_orderkey", replicas = 5)
    w.groupBy($"replica")
      .agg(sum($"weight").as("n_eff"),
        sum($"weight".cast("decimal(2,0)") * $"o_totalprice".cast("decimal(12,2)"))
          .cast("double").as("total_value"))
      .orderBy($"replica")
  }

  private def s11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Matryoshka truncated-dimension retrieval: shortlist on the first
    // 8 of 64 dims (1/8 of the FLOPs), exact rerank of q × 20 rows.
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.truncatedTopK(emb, queries,
        dPrefix = 8, shortlist = 20, k = 5)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def d21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cluster-purity audit: transitive merging chains A~B~C even when
    // A≁C — per cluster, the observed pair-Jaccard floor/mean say
    // whether keep-earliest collapsed genuinely-similar documents or a
    // chain. Mean via the sorted fold (engine-bit-exact, no round);
    // pairs ride one broadcast-sized label join, clusters aggregate at
    // cluster grain.
    val pairs = verifiedPairs(s, dir) // already pinned
    val cc = operators.Components.connected(pairs, "da", "db",
      driverSolveMaxEdges = 1L << 22)
    val sizes = cc.groupBy($"component").agg(count(lit(1)).as("n_members"))
    val labeled = pairs.join(cc.withColumnRenamed("v", "da"), "da")
    labeled.groupBy($"component")
      .agg(count(lit(1)).as("n_pairs"),
        min($"jaccard").as("min_jaccard"),
        max($"jaccard").as("max_jaccard"),
        sort_array(collect_list($"jaccard")).as("js"))
      .select($"component", $"n_pairs", $"min_jaccard", $"max_jaccard",
        (aggregate($"js", lit(0.0d), (a, x) => a + x) /
          $"n_pairs".cast("double")).as("mean_jaccard"))
      .join(sizes, "component")
      .select($"component".as("cluster_id"), $"n_members", $"n_pairs",
        $"min_jaccard", $"max_jaccard", $"mean_jaccard")
      .orderBy($"cluster_id")
  }

  private def t16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Unicode normalization — step zero of text dedup: the same
    // accented text arrives precomposed (á, U+00E1) and decomposed
    // (a + U+0301 combining acute); byte hashes differ, NFC hashes
    // agree. Two synthesized spellings per document, both md5'd raw
    // and through the native normalize_text expression.
    val v1 = regexp_replace($"text", "a", "\u00e1")  // precomposed
    val v2 = regexp_replace($"text", "a", "a\u0301") // combining acute
    t(s, dir, "documents").select($"doc_id",
        (md5(v1) === md5(v2)).as("raw_equal"),
        (md5(functions.NormalizeText(v1, "NFC")) ===
          md5(functions.NormalizeText(v2, "NFC"))).as("nfc_equal"))
      .orderBy($"doc_id")
  }

  private def e19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // SRE multi-window burn-rate over the DLQ: a class pages only when
    // BOTH the 1h and 6h windows burn the error budget — fast detection
    // without blip pages. Same three-mode capture as e17; all-integer
    // verdicts.
    val cap = threeModeCaptured(s, dir)
    // pin: the burn-rate now-anchor and the count scan would otherwise
    // each re-run the capture pipeline
    sources.Sinks.burnRate(
        cap.errors.select($"error_class", $"ts").localCheckpoint(),
        "error_class", "ts", budgetPerHour = 1L, factor = 1L)
      .orderBy($"error_class")
  }

  private def m5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // modality alignment audit: text documents ↔ embedding vectors
    // paired by id; orphans on EITHER side are the silent join losses a
    // multimodal training run otherwise discovers at step -1. Two
    // anti-joins (each one broadcast-or-shuffle join on the id), a
    // 1-row card out.
    val docs = t(s, dir, "documents").select($"doc_id")
    val embs = t(s, dir, "embeddings").select($"vec_id")
    val docOrphans = docs.join(embs, $"doc_id" === $"vec_id", "left_anti")
    val embOrphans = embs.join(docs, $"doc_id" === $"vec_id", "left_anti")
    docOrphans.agg(count(lit(1)).as("n_doc_orphans"),
        min($"doc_id").as("first_doc_orphan"),
        max($"doc_id").as("last_doc_orphan"))
      .crossJoin(embOrphans.agg(count(lit(1)).as("n_emb_orphans"),
        min($"vec_id").as("first_emb_orphan")))
  }

  private def q40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // RECURSIVE CTE (Spark 4's WITH RECURSIVE) — the canonical
    // hierarchy walk: documents arranged as the binary tree
    // parent = id div 2, depths assigned by recursive descent from the
    // root. Tree edges give UNIQUE paths, so UNION ALL recursion
    // terminates in tree-height rounds (Spark's recursive CTEs support
    // UNION ALL only — a CYCLIC walk like the dup graph needs the d8/d9
    // label-propagation operator instead, which is exactly why both
    // surfaces exist). Summarized per level.
    t(s, dir, "documents").filter($"doc_id" >= 2)
      .select(expr("doc_id div 2").as("parent"), $"doc_id".as("child"))
      .createOrReplaceTempView("v_tree_edges")
    s.sql(
      """WITH RECURSIVE walk AS (
        | SELECT CAST(1 AS BIGINT) AS v, 0 AS depth
        | UNION ALL
        | SELECT e.child AS v, w.depth + 1 AS depth
        | FROM walk w JOIN v_tree_edges e ON e.parent = w.v
        |)
        |SELECT depth, COUNT(*) AS n_nodes, MIN(v) AS first_id, MAX(v) AS last_id
        |FROM walk GROUP BY depth ORDER BY depth""".stripMargin)
  }

  private def q39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // LATERAL correlated subquery: each customer joined to their most
    // recent order (per-row dependent top-1 — the classic lateral
    // shape). Catalyst decorrelates the LIMIT 1 subquery into a
    // window/aggregate plan rather than a per-row re-execution.
    t(s, dir, "customer").createOrReplaceTempView("v_customer")
    t(s, dir, "orders").createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT c_custkey, c_name, o_orderkey AS last_orderkey,
        | CAST(CAST(o_orderdate AS DATE) AS STRING) AS last_orderdate,
        | o_totalprice AS last_totalprice
        |FROM v_customer,
        | LATERAL (SELECT o_orderkey, o_orderdate, o_totalprice
        |   FROM v_orders WHERE o_custkey = c_custkey
        |   ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
        |   LIMIT 1)
        |ORDER BY c_custkey""".stripMargin)
  }

  private def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // UNPIVOT (wide → long): the inverse of q21's pivot — per-flag
    // metric columns melted back to (metric, value) rows with stack(),
    // one projection over the aggregate, no extra shuffle. Decimal sums
    // cast to double ONCE, in the wide frame, so both melted values
    // and the oracle's UNION ALL see identical doubles.
    val wide = t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(sum($"l_quantity".cast(DEC)).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast(DEC)).cast("double").as("sum_price"),
        count(lit(1)).cast("double").as("n_lines"))
    wide.select($"l_returnflag",
        expr("stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, " +
          "'n_lines', n_lines) as (metric, value)"))
      .orderBy($"l_returnflag", $"metric")
  }

  private[graft] def rmTree(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close() // Files.walk holds directory handles until closed
  }

  private def s7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the IVF index SERVED FROM DISK: train the coarse quantizer, label
    // the corpus, persist the inverted lists as a parquet layout
    // partitioned by cell, then multi-probe the READ-BACK index. The
    // probe joins on the partition column, so partition pruning reads
    // only the probed cell directories — at 100 TB the index scan is
    // ~nprobe/k of the corpus, never the corpus (LayoutSpec asserts the
    // pruning). Same result as s6: the layout round trip is lossless.
    val emb = t(s, dir, "embeddings")
    val cents = operators.Similarity.seeds(emb, 8)
    val assigned = operators.Similarity.kmeansAssign(emb, k = 8)
      .select($"vec_id", $"cluster_id")
    val index = emb.join(assigned, "vec_id")
      .select($"vec_id", $"cluster_id".as("label"), $"embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft_s7_ivf_").toString
    try {
      sources.Layout.writeOptimized(index, tmp,
        partitionCols = Seq("label"), sortCols = Seq("vec_id"))
      val idx = s.read.parquet(tmp)
      val queries = broadcast(emb.filter($"vec_id" < 20)
        .select($"vec_id".as("qid"), operators.Similarity.toDoubleVec($"embedding").as("qv")))
      operators.Similarity.multiProbeTopK(idx, queries, cents, nprobe = 2, k = 5)
        .select($"qid", $"rank", $"vec_id", $"cosine")
        .orderBy($"qid", $"rank")
        .localCheckpoint()
    } finally rmTree(tmp)
  }

  private def j2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // CSV ingest-boundary dead letters: build a deterministic csv line
    // per document, poison every 50th id's numeric field, parse through
    // from_csv(FAILFAST) under capture — the j1 pattern for CSV feeds.
    // coalesce EVERY concat_ws input: concat_ws SKIPS nulls, which
    // would emit a short (FAILFAST-malformed) line while the oracle
    // still classifies the row by doc_id — an empty field instead
    // parses as a null column value, which both sides treat identically
    val lines = t(s, dir, "documents")
      .select($"lang", concat_ws(",",
        coalesce($"doc_id".cast("string"), lit("")),
        coalesce($"lang", lit("")),
        when(pmod($"doc_id", lit(50)) === 0, lit("bad"))
          .otherwise(coalesce($"n_chars".cast("string"), lit("")))).as("raw"))
    val ef = sources.JsonIngest.parseCsvCaptured(lines, "raw",
      "id BIGINT, doc_lang STRING, n BIGINT")
    ef.annotated.groupBy($"lang")
      .agg(count(when(!$"is_error", lit(1))).as("n_ok"),
        count(when($"is_error", lit(1))).as("n_bad"),
        sum(when(!$"is_error", $"parsed.n")).as("sum_n"))
      .select($"lang", $"n_ok", $"n_bad", $"sum_n")
      .orderBy($"lang")
  }

  private def x4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bucketed co-located join: both fact tables pre-bucketed AND
    // pre-sorted on the join key, so the join itself plans with ZERO
    // exchange and zero sort — the bucketing write is the shuffle, paid
    // once, and every later join on that key reuses it. At 100 TB this
    // is how repeated fact-fact joins stop re-shuffling the fact table
    // every query (BucketingSpec asserts the exchange-free plan). The
    // only Exchange left in this plan is the tiny post-join aggregate's.
    // bucket count is a deployment knob: it must match the cluster's
    // target parallelism AND the other tables it will join — joining an
    // N-bucket table to an M-bucket table (N ≠ M) silently plans an
    // Exchange on one side (BucketingSpec pins that footgun), so at
    // 100 TB the count is a corpus-wide convention, not per-table.
    val buckets = s.conf.getOption("spark.graft.x4.buckets").map(_.toInt).getOrElse(8)
    require(buckets > 0, s"spark.graft.x4.buckets must be positive, got $buckets")
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = java.nio.file.Files.createTempDirectory("graft_x4_bucket_").toString
    val ot = s"graft_ord_$tag"
    val lt = s"graft_li_$tag"
    try {
      // repartition on the bucket key first: one task per bucket ->
      // one file per bucket, not tasks × buckets slivers
      t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
        .repartition(buckets, $"o_orderkey")
        .write.format("parquet").bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/orders").saveAsTable(ot)
      t(s, dir, "lineitem").select($"l_orderkey", $"l_quantity")
        .repartition(buckets, $"l_orderkey")
        .write.format("parquet").bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/lineitem").saveAsTable(lt)
      // hint("merge"): at sf0.1 Catalyst would broadcast the 2-column
      // orders side and skip the bucketed scan; the operator exists to
      // exercise the non-broadcastable 100-TB shape (bucketed SMJ, no
      // exchange, no sort)
      s.table(ot).hint("merge").join(s.table(lt), $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast(DEC)).cast("double").as("sum_qty"))
        .orderBy($"o_orderpriority")
        .localCheckpoint()
    } finally {
      // best-effort each step: a throwing DROP must not mask the real
      // failure or skip the remaining cleanup
      scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $ot"))
      scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $lt"))
      rmTree(tmp)
    }
  }

  private def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // binned interval join: for each error event, the clicks by the same
    // user within the NEXT 6 hours — an equi-join on (user, bucket)
    // with ≤2× replication of one side instead of the per-key nested
    // loop a raw range predicate plans. Micros, not nanos: DuckDB
    // truncates parquet ns-timestamps to micros on read. Errors are the
    // rare side, so they go on the RIGHT (the replicated side) with the
    // bounds flipped — clicks, the dominant shuffle volume, land in one
    // bucket each.
    val ev = t(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val err = ev.filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"event_id".as("e_id"), $"tus".as("e_t"))
    val clk = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"tus".as("c_t"))
    operators.IntervalJoin.binned(clk, err, "c_user", "e_user", "c_t", "e_t",
        lower = -21600000000L, upper = 0L)
      .groupBy($"e_user".as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"e_id").as("n_matched_errors"))
      .orderBy($"user_id")
  }

  private def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // LEFT-OUTER interval join — "errors WITHOUT a click within 6 h":
    // the outer side must be the preserved left (one bucket per error
    // row, so a matchless error emits exactly ONE null-extended row);
    // clicks are the replicated right, forced by the outer semantics.
    val ev = t(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val err = ev.filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"event_id".as("e_id"), $"tus".as("e_t"))
    val clk = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"tus".as("c_t"))
    operators.IntervalJoin.binned(err, clk, "e_user", "c_user", "e_t", "c_t",
        lower = 0L, upper = 21600000000L, joinType = "left_outer")
      .groupBy($"e_user".as("user_id"))
      .agg(countDistinct($"e_id").as("n_errors"),
        countDistinct(when($"c_t".isNull, $"e_id")).as("n_unmatched_errors"),
        count($"c_t").as("n_pairs"))
      .orderBy($"user_id")
  }

  private def q47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // FULL-OUTER interval join — both sides preserved in one aligned
    // frame: errors with their clicks in the NEXT 6 h, matchless errors
    // null-extended once, matchless clicks null-extended once (the
    // unmatched-right set mined by a mirrored anti pass — see
    // IntervalJoin.binnedFullOuter for why plain full_outer over the
    // replicated side is wrong). Grain: coalesced user.
    val ev = t(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val err = ev.filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"event_id".as("e_id"), $"tus".as("e_t"))
    val clk = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"tus".as("c_t"))
    operators.IntervalJoin.binnedFullOuter(err, clk, "e_user", "c_user",
        "e_t", "c_t", lower = 0L, upper = 21600000000L)
      .groupBy(coalesce($"e_user", $"c_user").as("user_id"))
      .agg(countDistinct($"e_id").as("n_errors"),
        countDistinct(when($"c_t".isNull, $"e_id")).as("n_unmatched_errors"),
        countDistinct(when($"e_t".isNull, $"c_id")).as("n_unmatched_clicks"),
        count(when($"e_t".isNotNull && $"c_t".isNotNull, lit(1))).as("n_pairs"))
      .orderBy($"user_id")
  }

  private def t23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // trained language ID scored honestly: per-language held-out
    // accuracy of the hash-n-gram classifier against the corpus labels
    // — the audit row that justifies replacing the stopword heuristic
    // (t1) for every per-language downstream stat (t7/t17/p11).
    // The driver's synthetic corpus draws text from ONE shared
    // vocabulary regardless of the lang label (no classifier can beat
    // chance on it), so the query PLANTS a per-label token suffix
    // (' qq<lang>sig' ×4 — the d33/s15/t36 planted precedent, VERDICT
    // r13 task 6): the oracle-checked held-out accuracy is now
    // meaningfully >chance (spec-pinned floor), measuring
    // DISCRIMINATION through the full hash-bucket/profile/argmax
    // pipeline rather than plumbing alone.
    val planted = t(s, dir, "documents").withColumn("text",
      concat($"text", repeat(concat(lit(" qq"), $"lang", lit("sig")), 4)))
    operators.TextAnalysis.langIdTrained(planted)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"predicted" === $"lang").cast("long")).as("n_correct"))
      .select($"lang", $"n_docs", $"n_correct",
        ($"n_correct".cast("double") / $"n_docs".cast("double")).as("accuracy"))
      .orderBy($"lang")
  }

  private def t24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Zipf rank–frequency least squares over the corpus token
    // histogram: slope ≈ −1 on natural language, bent by template
    // flooding — the one-row law-fit beside t19's full spectrum
    operators.TextAnalysis.zipfFit(t(s, dir, "documents"))
  }

  private def t25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // interpolated Kneser–Ney bigram LM (t15's serious upgrade):
    // absolute discounting + continuation back-off, every probability
    // per-row double arithmetic from exact BIGINT counts
    operators.TextAnalysis.bigramKneserNey(t(s, dir, "documents"),
        topPerContext = 3, minContext = 5)
      .orderBy($"w1", $"c".desc, $"w2")
  }

  private def t40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // interpolated Kneser–Ney TRIGRAM LM: three-level recursion with
    // continuation-count lower orders, all from integer roll-ups of
    // one trigram table; D = 0.75 binary-exact, per-row IEEE only.
    operators.TextAnalysis.trigramKneserNey(t(s, dir, "documents"),
        topPerContext = 3, minContext = 5)
      .orderBy($"w1", $"w2", $"c".desc, $"w3")
  }

  private def t27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // top-30 PMI collocations with count floor 5 — ranked by the exact
    // (c12*N)/(c1*c2) ratio so libm never enters the sort key
    operators.TextAnalysis.pmiCollocations(t(s, dir, "documents"),
      minCount = 5, k = 30)
  }

  private def t26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Heaps' law: vocabulary growth V(n) ≈ K·n^β over the corpus in
    // doc order — the capacity-planning exponent for vocab/dictionary
    // structures, and a dedup health check (duplication flattens it)
    operators.TextAnalysis.heapsFit(t(s, dir, "documents"))
  }

  private def t9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // boilerplate mining: trigrams present in ≥ 5% of all documents
    operators.TextAnalysis.boilerplateNGrams(
        t(s, dir, "documents"), n = 3, minDocFrac = 0.05)
      .orderBy($"n_docs".desc, $"gram")
  }

  private def p8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fuzzy contamination: overlap FRACTION vs the held-out eval slice,
    // flagging docs whose trigram sets are ≥ 20% covered by eval grams
    // (p4's any-shared-gram test, made paraphrase-aware)
    val docs = t(s, dir, "documents")
    val ev = docs.filter(pmod($"doc_id", lit(97)) === 0)
    val tr = docs.filter(pmod($"doc_id", lit(97)) =!= 0)
    operators.Pipeline.contaminationFraction(tr, ev, n = 3, minOverlap = 0.2)
      .orderBy($"doc_id")
  }

  private def q24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one order per (custkey, orderdate) — deterministic as-of matches
    val r = t(s, dir, "orders")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
        max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
    val purchases = t(s, dir, "events")
      .filter($"event_type" === "purchase")
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
    operators.AsOf.join(purchases, r,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = $"ets", rightTime = $"o_orderdate",
        rightTieBreak = $"o_orderkey")
      .select($"event_id", $"__match.o_orderkey".as("o_orderkey"),
        $"__match.o_totalprice".as("o_totalprice"))
      .orderBy($"event_id")
  }

  private def q50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // temporal point-in-time join — the warehouse PIT pattern: each
    // purchase looks up the SCD2 dimension version valid at the instant
    // BEFORE it (tus−1: its own event may open a new version at tus).
    // Composition of d22's historized dimension with q24's linear
    // union-window as-of machinery — one key shuffle, never a
    // fact × history range join; the oracle is the independent
    // BETWEEN-on-validity-bounds formulation.
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_type", expr("ts div 1000").as("tus"),
        $"event_id")
    val dim = operators.Pipeline.scd2(ev, Seq("user_id"), Seq("event_type"),
        tsCol = "tus", tieCol = "event_id")
      .select($"user_id", $"event_type".as("state"),
        $"version".cast("long").as("version"), $"effective_from")
    val facts = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", ($"tus" - 1).as("t"))
    operators.AsOf.join(facts, dim,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = timestamp_micros($"t"),
        rightTime = timestamp_micros($"effective_from"),
        rightTieBreak = $"version")
      .select($"user_id", $"event_id", $"__match.state".as("state"),
        $"__match.version".as("version"))
      .orderBy($"user_id", $"event_id")
  }

  private def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // exact interpolated quantiles via the bucketed-selection operator:
    // two aggregate passes + a local sort of ONLY the buckets holding the
    // boundary indices — no per-key full-table sort anywhere (see
    // operators.Quantiles). Interpolation is the same lo + frac*(hi-lo)
    // double arithmetic as the oracle.
    val qb = operators.Quantiles.boundaries(
      t(s, dir, "lineitem").select($"l_returnflag", $"l_extendedprice"),
      keyCol = "l_returnflag", valCol = "l_extendedprice", qs = Seq(0.5, 0.95))
    def interp(q: Double, lo: Column, hi: Column) = {
      val pos = lit(q) * ($"n" - 1)
      lo + (pos - floor(pos)) * (hi - lo)
    }
    qb.groupBy($"l_returnflag")
      .agg(
        max(when($"q" === 0.5, $"lo")).as("lo50"),
        max(when($"q" === 0.5, $"hi")).as("hi50"),
        max(when($"q" === 0.95, $"lo")).as("lo95"),
        max(when($"q" === 0.95, $"hi")).as("hi95"),
        max($"n").as("n"))
      .select($"l_returnflag",
        interp(0.5, $"lo50", $"hi50").as("p50"),
        interp(0.95, $"lo95", $"hi95").as("p95"),
        $"n")
      .orderBy($"l_returnflag")
  }

  private def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // sessionize: a 4h silence starts a new session. Micros, not nanos:
    // DuckDB truncates parquet ns-timestamps to micros on read.
    val byTime = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val gapUs = 4L * 3600 * 1000000L
    val g = t(s, dir, "events")
      .withColumn("tus", expr("ts div 1000"))
      .withColumn("brk",
        when(lag($"tus", 1).over(byTime).isNull
          || $"tus" - lag($"tus", 1).over(byTime) > gapUs, 1L).otherwise(0L))
    val sess = g.withColumn("sid",
      sum($"brk").over(Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.withColumn("cnt", count(lit(1)).over(Window.partitionBy($"user_id", $"sid")))
      .groupBy($"user_id")
      .agg(max($"sid").as("n_sessions"), count(lit(1)).as("n_events"),
        max($"cnt").as("longest"))
      .orderBy($"user_id")
  }

  private def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // signup -> purchase funnel. Exact integer math at MICROsecond
    // precision: DuckDB truncates parquet ns-timestamps to micros on
    // read, so the oracle can only see micros.
    val ev = t(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val signed = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"tus").as("s0"))
    val converted = ev.filter($"event_type" === "purchase")
      .join(signed, "user_id")
      .filter($"tus" > $"s0")
      .groupBy($"user_id", $"s0").agg(min($"tus").as("p0"))
    signed.agg(count(lit(1)).as("n_signed")).crossJoin(
      converted.agg(count(lit(1)).as("n_converted"),
        sum($"p0" - $"s0").as("total_latency_us")))
  }

  private def q45(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // interval coalescing (union of overlapping intervals): each event
    // opens a 30-minute activity interval; overlapping/touching
    // intervals per user merge via the running-max-end islands trick —
    // a new island starts exactly when an interval opens after every
    // earlier one has closed. ONE exchange on user_id: the running-max
    // window, the break-sum window and the island aggregate all share
    // it (the d22 shared-sort shape). All-integer micros arithmetic.
    val durUs = 1800L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"s0", $"event_id")
    val g = t(s, dir, "events")
      .select($"user_id", expr("ts div 1000").as("s0"), $"event_id")
      .withColumn("e0", $"s0" + durUs)
      .withColumn("maxe",
        max($"e0").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when($"maxe".isNull || $"s0" > $"maxe", 1L).otherwise(0L))
      .withColumn("isl",
        sum($"brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    g.groupBy($"user_id", $"isl")
      .agg(min($"s0").as("m_start"), max($"e0").as("m_end"),
        count(lit(1)).as("n_ev"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"m_end" - $"m_start").as("covered_us"),
        max($"m_end" - $"m_start").as("longest_us"),
        sum($"n_ev").as("n_events"))
      .orderBy($"user_id")
  }

  private def s12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // binary-embedding retrieval: 63-sign-bit signatures, Hamming
    // shortlist (one XOR + popcount per pair over 8-byte keys), exact
    // cosine rerank of q × 20 rows only.
    val emb = t(s, dir, "embeddings")
    val queries = broadcast(emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.binaryTopK(emb, queries,
        bits = 63, shortlist = 20, k = 5)
      .select($"qid", $"rank", $"vec_id", $"hamming", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def s13q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // graph ANN, end-to-end under the oracle: NN-Descent k-NN graph
    // (IVF-cell init + 2 refinement rounds) searched by graph
    // EXPANSION — exact top-k over the query node's 2-hop
    // out-neighborhood, the bounded-probe-cost reachability closure a
    // SQL engine can restate verbatim (the oracle rebuilds the same
    // graph and the same closure — no part of the pipeline is taken on
    // faith). The greedy serving twin (beamSearchTopK) and the recall
    // comparison against IVF at equal probe cost are pinned by spec.
    val emb = t(s, dir, "embeddings")
    val graph = operators.Similarity.knnGraph(emb, g = 10, rounds = 2)
    val queries = broadcast(emb.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"),
        operators.Similarity.toDoubleVec($"embedding").as("qv")))
    operators.Similarity.graphExpandTopK(emb, queries, graph, hops = 2, k = 5)
      .select($"qid", $"rank", $"vec_id", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def p22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the loss-mask/attention-boundary companion of p3: per packed
    // sequence, each doc's (start, end) token offsets — end visibly
    // past the budget for the straddling doc (p3's overfill semantics)
    operators.Pipeline.packOffsets(t(s, dir, "documents"), budget = 512)
      .orderBy($"shard", $"seq_id", $"doc_id")
  }

  private def p23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // did the pipeline shift the QUALITY distribution? — the KS gate a
    // corpus release runs between versions, here between the even/odd
    // doc halves: t2's per-row quality score (engine-identical double
    // arithmetic) through x15's scale-safe two-pass ECDF. Operator
    // COMPOSITION: both halves are oracle-proven pieces, the oracle
    // just composes the same two statements.
    val q = operators.TextAnalysis.qualityMetrics(t(s, dir, "documents"))
      .select($"doc_id", $"quality_score")
    operators.Pipeline.ksDrift(
      q.filter(pmod($"doc_id", lit(2L)) === 0L).select($"quality_score"),
      q.filter(pmod($"doc_id", lit(2L)) === 1L).select($"quality_score"),
      "quality_score")
  }

  private def m10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // shape-bucketed pixel-budget batch packing over REALLY decoded
    // dimensions (the m1 payloads: w/h analytic in doc_id, so the
    // oracle predicts the parse and states the packing rule with a
    // plain partitioned window; the Spark plan rides the grouped
    // two-pass prefix sum — shape buckets are low-cardinality)
    val w = (pmod($"doc_id", lit(16L)) + 1L).cast("int")
    val h = (pmod($"doc_id", lit(13L)) + 2L).cast("int")
    val withBin = t(s, dir, "documents").withColumn("payload",
      operators.Multimodal.ppmPayload(w, h,
        concat(lit("img:"), $"doc_id".cast("string")), reps = 21))
    operators.Multimodal.pixelPack(withBin, "payload", "doc_id", budget = 2048)
      .orderBy($"width", $"height", $"batch_id")
  }

  private def d31q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // MinHash estimator CALIBRATION — the audit that justifies trusting
    // 16 hashes before a 100-TB dedup run: per agreeing-hash count m,
    // pair count and pooled exact Jaccard. The oracle states the plain
    // quadratic semantics; the operator never materializes the pair
    // set (seed-collision join + d4 token join + closed-form m=0 mass
    // — see Dedup.minHashCalibration; 8.8 s -> measured rewrite).
    operators.Dedup.minHashCalibration(t(s, dir, "documents"),
        blockCol = "source", numHashes = 16, shingleSize = 3)
      .orderBy($"m")
  }

  private def t30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // MATTR lexical diversity at w=25 (doc lengths run 10–99 tokens):
    // the O(n) contribution form — Σ per-position closed-form window
    // memberships == Σ per-window distinct counts, all-integer until
    // the single final division the oracle states identically
    operators.TextAnalysis.mattr(t(s, dir, "documents"), w = 25)
      .orderBy($"doc_id")
  }

  private def t31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // unigram-LM tokenizer training (SentencePiece-class): seed from
    // the substring inventory, 2 hard-EM rounds (Viterbi E-step over
    // the word histogram), count-proxy prune; engine-exact via integer
    // counts + round(9) on the one ln BEFORE it enters the dp sums
    operators.TextAnalysis.unigramLmVocab(t(s, dir, "documents"),
        maxPieceLen = 4, seedSize = 60, emRounds = 2, vocabSize = 40)
      .orderBy($"piece")
  }

  private def t32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // unigram-LM ENCODING under the t31-trained vocab: every (doc,
    // word) to its Viterbi-best piece sequence — train + encode
    // composed, the full SentencePiece workflow oracle-checked
    val docs = t(s, dir, "documents")
    val vocab = operators.TextAnalysis.unigramLmVocab(docs,
      maxPieceLen = 4, seedSize = 60, emRounds = 2, vocabSize = 40)
    operators.TextAnalysis.unigramEncode(docs, vocab, maxPieceLen = 4)
      .orderBy($"doc_id", $"pos")
  }

  private def t33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // BM25 top-k retrieval; the query set derives deterministically
    // from the corpus itself (no external query file ships with the
    // testdata): the 6 globally most frequent tokens (count desc, token
    // asc — TakeOrdered, never a vocabulary-wide window sort), paired
    // into 3 two-term queries by rank (r−1) mod 3, so each query mixes
    // a high-df and a lower-df term and idf does real work
    val docs = t(s, dir, "documents")
    val counts = docs
      .select(explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
    val top6 = counts.orderBy($"n".desc, $"tok".asc).limit(6)
    val queries = top6.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"n".desc, $"tok".asc)))
      .select((($"r" - 1) % 3).cast("long").as("qid"), $"tok".as("term"))
    operators.TextAnalysis.bm25TopDocs(docs, queries, k = 5)
      .orderBy($"qid", $"score".desc, $"doc_id")
  }

  private def s15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cosine RANGE search with a sign-LSH blocking predicate: all pairs
    // with signature hamming <= 7 AND cosine >= 0.3 — the banding is
    // pigeonhole-exact for the stated predicate, so the oracle states
    // it as a plain quadratic join with no recall caveat. The driver
    // corpus is sign-random (measured min pairwise hamming 14), so the
    // query PLANTS near-duplicates the m6 way: every 25th vector gets a
    // first-coordinate-negated clone — hamming in {0, 1}, cosine just
    // under 1 — making the exact pair list non-vacuous and analytic.
    val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
    // clone ids sit at max(vec_id)+1 above the originals — DATA-derived
    // (one metadata-scale max() action), not a fixed 1_000_000 offset
    // that would collide with real ids once the corpus holds ≥1M
    // vectors (the r9 ADVICE hazard; sf10 is exactly that size)
    val offset = emb.agg(max($"vec_id")).as[Long].head() + 1L
    val clones = emb.filter(pmod($"vec_id", lit(25L)) === 0L)
      .select(($"vec_id" + offset).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, negate(x)).otherwise(x)).as("embedding"))
    operators.Similarity.rangeSearchLsh(emb.unionByName(clones),
        threshold = 0.3, maxHamming = 7, bands = 8)
      .orderBy($"va", $"vb")
  }

  private def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // last-touch attribution: purchases credited to the user's latest
    // click within a 1-hour lookback — the bounded backward as-of; a
    // too-old last click leaves the purchase visibly unattributed.
    operators.AsOf.lastTouchAttribution(t(s, dir, "events"),
        touchType = "click", convType = "purchase",
        lookbackNs = 3600L * 1000000000L)
      .orderBy($"conv_id")
  }

  private def q54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // user-journey Markov transition matrix: one lead window per user,
    // state-squared count grain, exact-integer row probabilities.
    operators.Pipeline.transitionMatrix(t(s, dir, "events"))
      .orderBy($"from_state", $"to_state")
  }

  private def d34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the d14 capacity knob, EXERCISED: 63-bit SimHash in 3 × 21-bit
    // band slices — 2^21 buckets per band where d14's 8-bit slices gave
    // 2^8, the saturation BENCH_SCALING_r12 flagged (e2=1.32 at 500k
    // docs). Pigeonhole stays exact for hamming <= 2 < 3 bands; same
    // per-da aggregate pin as d14 so the pair set never dumps.
    operators.Dedup.simHashNearDup(t(s, dir, "documents"),
        nBits = 63, bands = 3, maxHamming = 2)
      .groupBy($"da")
      .agg(count(lit(1)).as("n_pairs"), sum($"hamming").as("sum_hamming"),
        min($"db").as("first_db"))
      .orderBy($"da")
  }

  private def q55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Kleinberg 2-state burst detection over each user's activity
    // stream (s=2, gamma=0.5 — tuned so the driver corpus yields real
    // episodes, 148 at sf0.01): integer-only output (1-based gap
    // positions), so the oracle restates the identical Viterbi fold
    // via list_reduce and hashes exactly — no tolerance compare.
    operators.Bursts.kleinberg(t(s, dir, "events"), 2.0, 0.5)
      .orderBy($"user_id", $"burst_start")
  }

  private def d33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // symmetric-delete (SymSpell) edit-distance<=1 variant mining over
    // the corpus vocabulary. The driver vocabulary has no natural ed-1
    // pairs, so the query PLANTS typo variants (the s15 precedent):
    // among tokens of length >= 5, top-12 by (count desc, tok asc —
    // TakeOrdered then a window over the 12-row limit, the t33 shape),
    // every 3rd rank contributes its first-char-dropped form at
    // df = n div 10 + 1. At sf1/sf10 the MakeSf1 replica suffixes add
    // natural ed-1 pairs on top (join~12 vs join~13), so the bench
    // exercises the blocking join for real.
    val toks = t(s, dir, "documents")
      .select(explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
    val top12 = toks.filter(length($"tok") >= 5)
      .orderBy($"n".desc, $"tok".asc).limit(12)
    val planted = top12.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"n".desc, $"tok".asc)))
      .filter($"r" % 3 === 0)
      .select($"tok".substr(lit(2), length($"tok")).as("term"),
        (expr("n div 10") + 1L).as("df"))
    val vocab = toks.select($"tok".as("term"), $"n".as("df"))
      .unionByName(planted)
      .groupBy($"term").agg(max($"df").as("df"))
    operators.Dedup.editVariants(vocab)
      .orderBy($"variant", $"canonical")
  }

  private def p20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // importance reweighting to a uniform source mix, capped at 4x.
    operators.Pipeline.importanceReweight(t(s, dir, "documents"),
        "source", cap = 4.0)
      .orderBy($"key")
  }

  private def t28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Good-Turing smoothed counts off the corpus frequency spectrum.
    operators.TextAnalysis.goodTuring(t(s, dir, "documents")).orderBy($"c")
  }


  private def d25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted LSH band index: the corpus banded ONCE into a bucketed
    // table, the new batch probes it — incremental dedup where the
    // corpus is never re-signatured per batch and the index side of the
    // probe join contributes zero exchange (bucketed by the join key).
    // Result is the d6 fixed point: identical to the direct
    // minHashLshIncremental run, which the oracle states.
    val docs = t(s, dir, "documents")
    val half = 250L // corpus = ids < 250 at every SF (the d6 split)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = java.nio.file.Files.createTempDirectory("graft_d25_lsh_").toString
    val it = s"graft_lshidx_$tag"
    try {
      operators.Dedup.writeLshIndex(docs.filter($"doc_id" < half), it, s"$tmp/idx")
      operators.Dedup.probeLshIndex(docs.filter($"doc_id" >= half),
          docs.filter($"doc_id" < half), it)
        .orderBy($"da", $"db")
        .localCheckpoint()
    } finally {
      scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $it"))
      rmTree(tmp)
    }
  }

  private def d26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // content-defined chunking accounting: corpus-wide storage dedup at
    // chunk grain — n_chunks/n_distinct and the byte ratio a
    // chunk-store would realize. One scan (in-row chunking), one
    // hash-grain aggregate, one 1-row total.
    val ch = operators.Dedup.cdcChunks(t(s, dir, "documents"))
    ch.groupBy($"chunk_hash")
      .agg(count(lit(1)).as("c"), max($"chunk_len").as("l"))
      .agg(sum($"c").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum($"c" * $"l").as("total_bytes"),
        sum($"l").as("stored_bytes"))
      .select($"n_chunks", $"n_distinct", $"total_bytes", $"stored_bytes",
        ($"stored_bytes".cast("double") / $"total_bytes".cast("double"))
          .as("dedup_ratio"))
  }

  private def d27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted verified-pair store: the d25 pattern one step further —
    // mine the pair list ONCE (write + parameter sidecar), every
    // consumer reads the store. The roundtrip must be the d4 fixed
    // point (pairs-from-store == recompute), which the oracle states:
    // this row is the contract that lets d8/d10/d20/d21/d24/p12/p16
    // share one materialization instead of re-paying the
    // shingle→candidate→verify pipeline ~10× per sweep.
    val params = Map("n" -> "2", "block" -> "source", "threshold" -> "0.1")
    val tmp = java.nio.file.Files.createTempDirectory("graft_d27_pairs_").toString
    try {
      operators.Dedup.writePairStore(verifiedPairs(s, dir), s"$tmp/pairs", params)
      s.catalog.refreshByPath(s"$tmp/pairs")
      operators.Dedup.readPairStore(s, s"$tmp/pairs", params)
        .orderBy($"da", $"db")
        .localCheckpoint()
    } finally rmTree(tmp)
  }

  private def x11psi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // PSI between the two order-key parities over the x10 bucket grid —
    // a near-zero PSI fixture (the parities draw from one distribution);
    // the operator's job is the engine-exact number, the knobs are the
    // monitoring story.
    val o = t(s, dir, "orders")
    operators.Pipeline.psiDrift(
      o.filter(pmod($"o_orderkey", lit(2)) === 0),
      o.filter(pmod($"o_orderkey", lit(2)) === 1),
      "o_totalprice", lo = 0.0, hi = 600000.0, nBuckets = 20)
  }

  private def q46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // NEAREST-event join (the bidirectional as-of R21 can't express):
    // each error matched to the temporally closest purchase by the same
    // user, either direction — sensor-alignment semantics. ONE user_id
    // exchange: purchases and errors ride a single tagged union, the
    // backward candidate is last_value(ignoreNulls) over the preceding
    // frame and the forward candidate first_value over the following
    // frame — both windows share the (tus, event_id) sort. Ties prefer
    // the backward match. All-integer micros.
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val ev = t(s, dir, "events")
      .filter($"event_type".isin("error", "purchase"))
      .select($"user_id", expr("ts div 1000").as("tus"), $"event_id", $"event_type")
      .withColumn("pt", when($"event_type" === "purchase", $"tus"))
      .withColumn("pid", when($"event_type" === "purchase", $"event_id"))
    val cand = ev
      .withColumn("prev_t", last($"pt", ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prev_id", last($"pid", ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_t", first($"pt", ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("next_id", first($"pid", ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .filter($"event_type" === "error")
    val takePrev = $"next_t".isNull ||
      ($"prev_t".isNotNull && ($"tus" - $"prev_t") <= ($"next_t" - $"tus"))
    cand.filter($"prev_t".isNotNull || $"next_t".isNotNull)
      .select($"user_id", $"event_id",
        when(takePrev, $"prev_id").otherwise($"next_id").as("matched_id"),
        (when(takePrev, $"prev_t").otherwise($"next_t") - $"tus").as("dt_us"))
      .orderBy($"event_id")
  }

  // ---------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1 _),
    "q2_top_orders" -> (q2 _),
    "q3_shipping_priority" -> (q3 _),
    "q4_order_priority" -> (q4 _),
    "q5_join5" -> (q5 _),
    "q6_filter_agg" -> (q6 _),
    "q7_window_running" -> (q7 _),
    "q8_region_yearly" -> (q8 _),
    "q10_returned_customers" -> (q10 _),
    "q11_distinct_agg" -> (q11 _),
    "q12_shipmode_case" -> (q12 _),
    "q13_cust_dist" -> (q13 _),
    "q14_promo" -> (q14 _),
    "q15_top_supplier" -> (q15 _),
    "q16_anti_join" -> (q16 _),
    "q17_small_qty" -> (q17 _),
    "q18_rollup" -> (q18 _),
    "q19_having" -> (q19 _),
    "q20_hourly_events" -> (q20 _),
    "q21_event_pivot" -> (q21 _),
    "q22_phone_anti" -> (q22 _),
    "q23_union" -> (q23 _),
    "q24_asof_join" -> (q24 _),
    "q25_quantiles" -> (q25 _),
    "q26_sessions" -> (q26 _),
    "q27_funnel" -> (q27 _),
    "e1_capture_map" -> (e1 _),
    "e2_capture_values" -> (e2 _),
    "e3_capture_flatmap" -> (e3 _),
    "e4_dead_letters" -> (e4 _),
    "e5_error_logging" -> (e5 _),
    "e6_error_describing" -> (e6 _),
    "e7_error_headers" -> (e7 _),
    "e8_error_filter" -> (e8 _),
    "e9_dlq_serde" -> (e9 _),
    "d1_exact_dedup" -> (d1 _),
    "d2_minhash_lsh" -> (d2 _),
    "d3_simhash" -> (d3 _),
    "d4_ngram_jaccard" -> (d4 _),
    "d5_embed_neardup" -> (d5 _),
    "d6_incremental_dedup" -> (d6 _),
    "d7_quantize_int8" -> (d7 _),
    "s1_topk_bruteforce" -> (s1q _),
    "s2_topk_ivf" -> (s2q _),
    "s3_topk_operator" -> (s3q _),
    "t1_lang_id" -> (t1q _),
    "t2_quality" -> (t2q _),
    "t3_tokens" -> (t3 _),
    "t4_fingerprint" -> (t4q _),
    "t5_tfidf" -> (t5 _),
    "t6_hash_sample" -> (t6 _),
    "m1_binary_meta" -> (m1 _),
    "m2_batch_features" -> (m2 _),
    "p1_pii_redact" -> (p1 _),
    "p2_repetition" -> (p2 _),
    "p3_token_pack" -> (p3 _),
    "p4_contamination" -> (p4 _),
    "p5_stratified_sample" -> (p5 _),
    "d8_dedup_clusters" -> (d8 _),
    "j1_json_ingest" -> (j1 _),
    "t7_corpus_stats" -> (t7 _),
    "s4_kmeans_assign" -> (s4 _),
    "q28_grouping_sets" -> (q28 _),
    "p6_weighted_sample" -> (p6 _),
    "m3_frame_sample" -> (m3 _),
    "d9_clusters_distributed" -> (d9 _),
    "x1_salted_join" -> (x1 _),
    "x3_bloom_dedup" -> (x3 _),
    "s5_topk_ivf_trained" -> (s5 _),
    "s6_topk_multiprobe" -> (s6 _),
    "e12_dlq_replay" -> (e12 _),
    "e13_dlq_retry_loop" -> (e13 _),
    "x2_layout_roundtrip" -> (x2 _),
    "d10_dedup_apply" -> (d10 _),
    "t8_vocab_topk" -> (t8 _),
    "t10_vocab_encode" -> (t10 _),
    "p9_mix_quota" -> (p9 _),
    "d11_snapshot_diff" -> (d11 _),
    "p7_quality_gate" -> (p7 _),
    "q29_interval_join" -> (q29 _),
    "q30_interval_outer" -> (q30 _),
    "s7_ivf_persisted" -> (s7 _),
    "t9_boilerplate" -> (t9 _),
    "p8_contam_fuzzy" -> (p8 _),
    "x4_bucketed_join" -> (x4 _),
    "j2_csv_ingest" -> (j2 _),
    "t11_commonness" -> (t11 _),
    "p10_shuffle_shard" -> (p10 _),
    "s8_pq_adc" -> (s8 _),
    "s9_ivfpq" -> (s9 _),
    "d12_span_dedup" -> (d12 _),
    "x5_compaction" -> (x5 _),
    "t12_bpe_merges" -> (t12 _),
    "q31_cohort_retention" -> (q31 _),
    "d13_changelog_apply" -> (d13 _),
    "x6_zorder" -> (x6 _),
    "x7_profile" -> (x7 _),
    "p11_temperature_mix" -> (p11 _),
    "d14_simhash_neardup" -> (d14 _),
    "e14_dlq_rate_limit" -> (e14 _),
    "q32_set_ops" -> (q32 _),
    "q33_range_window" -> (q33 _),
    "x8_agg_refresh" -> (x8 _),
    "p12_leakage_split" -> (p12 _),
    "q34_anomaly_zscore" -> (q34 _),
    "p13_winsorize" -> (p13 _),
    "e15_dlq_quarantine" -> (e15q _),
    "d15_log_compact" -> (d15 _),
    "e16_dlq_trend" -> (e16 _),
    "p14_chunk" -> (p14 _),
    "t13_bigram_novelty" -> (t13 _),
    "q35_mode" -> (q35 _),
    "d16_semdedup" -> (d16 _),
    "q9_profit" -> (q9 _),
    "q36_streaks" -> (q36 _),
    "p15_domain_cap" -> (p15 _),
    "t14_token_entropy" -> (t14 _),
    "e17_error_fingerprint" -> (e17 _),
    "s10_recall_eval" -> (s10 _),
    "d17_url_canonical" -> (d17 _),
    "q37_deciles" -> (q37 _),
    "d18_containment" -> (d18 _),
    "x9_expectations" -> (x9 _),
    "p16_best_of_cluster" -> (p16 _),
    "t15_bigram_lm" -> (t15 _),
    "j3_schema_drift" -> (j3 _),
    "p17_e2e_prep" -> (p17 _),
    "m4_shape_batches" -> (m4 _),
    "e18_contract_dlq" -> (e18 _),
    "d19_lsh_recall" -> (d19 _),
    "q38_unpivot" -> (q38 _),
    "d20_pagerank" -> (d20 _),
    "q39_lateral" -> (q39 _),
    "q40_recursive" -> (q40 _),
    "m5_modality_align" -> (m5 _),
    "e19_burn_rate" -> (e19 _),
    "t16_unicode_norm" -> (t16 _),
    "d21_cluster_purity" -> (d21 _),
    "s11_mrl_truncated" -> (s11 _),
    "p18_bootstrap" -> (p18 _),
    "q41_cube" -> (q41 _),
    "t17_fertility" -> (t17 _),
    "t18_perplexity" -> (t18 _),
    "d22_scd2" -> (d22 _),
    "q42_ewma" -> (q42 _),
    "x10_histogram" -> (x10 _),
    "t19_freq_spectrum" -> (t19 _),
    "m6_phash_neardup" -> (m6 _),
    "d23_winnow" -> (d23 _),
    "q43_skyline" -> (q43 _),
    "d24_triangles" -> (d24 _),
    "t20_kl_drift" -> (t20 _),
    "q44_seq_pattern" -> (q44 _),
    "t21_rake" -> (t21 _),
    "q45_interval_coalesce" -> (q45 _),
    "s12_binary_hamming" -> (s12 _),
    "s13_graph_ann" -> (s13q _),
    "q53_attribution" -> (q53 _),
    "q54_markov" -> (q54 _),
    "p20_reweight" -> (p20 _),
    "t28_good_turing" -> (t28 _),
    "d25_lsh_persisted" -> (d25 _),
    "d26_cdc_chunks" -> (d26 _),
    "x11_psi" -> (x11psi _),
    "q46_nearest_join" -> (q46 _),
    "d27_pair_store" -> (d27 _),
    "q47_interval_full" -> (q47 _),
    "x12_zorder3" -> (x12z _),
    "t23_langid_trained" -> (t23 _),
    "x13_hilbert" -> (x13h _),
    "q48_percentile_cont" -> (q48 _),
    "x14_sliding_distinct" -> (x14sd _),
    "t24_zipf_fit" -> (t24 _),
    "t25_kneser_ney" -> (t25 _),
    "q49_mad_outliers" -> (q49 _),
    "d28_prefix_join" -> (d28 _),
    "e20_error_exemplars" -> (e20x _),
    "q50_temporal_join" -> (q50 _),
    "t26_heaps_fit" -> (t26 _),
    "x15_ks_drift" -> (x15ks _),
    "p19_kfold_split" -> (p19 _),
    "t27_pmi" -> (t27 _),
    "q51_division" -> (q51 _),
    "d29_soft_dedup" -> (d29 _),
    "q52_topk_ties" -> (q52 _),
    "e21_capture_fallback" -> (e21f _),
    "m7_meta_audit" -> (m7 _),
    "m8_phash_golden" -> (m8 _),
    "m9_audio_energy" -> (m9 _),
    "t29_burstiness" -> (t29 _),
    "p21_token_curriculum" -> (p21 _),
    "d30_threshold_curve" -> (d30q _),
    "s15_range_search" -> (s15 _),
    "t30_mattr" -> (t30 _),
    "m10_pixel_pack" -> (m10 _),
    "d31_minhash_calibration" -> (d31q _),
    "p22_pack_offsets" -> (p22 _),
    "p23_quality_drift" -> (p23 _),
    "d32_exact_substr" -> (d32 _),
    "t31_unigram_lm" -> (t31 _),
    "t32_unigram_encode" -> (t32 _),
    "m11_phash_dct" -> (m11 _),
    "p24_ffd_pack" -> (p24 _),
    "t33_bm25" -> (t33 _),
    "q55_bursts" -> (q55 _),
    "d33_edit_variants" -> (d33 _),
    "d34_simhash_wide" -> (d34 _),
    "d35_semdedup_scaled" -> (d35 _),
    "m12_phash_wide" -> (m12 _),
    "p25_dsir_select" -> (p25 _),
    "t34_quality_classifier" -> (t34 _),
    "s16_jl_projection" -> (s16 _),
    "m13_activity_segments" -> (m13 _),
    "p26_dsir_resample" -> (p26 _),
    "s17_sq8_rerank" -> (s17 _),
    "t35_textrank" -> (t35 _),
    "t36_quality_ngram" -> (t36 _),
    "m15_mp4_meta" -> (m15 _),
    "p27_doremi" -> (p27 _),
    "t37_wordpiece" -> (t37q _),
    "t38_gopher_rules" -> (t38 _),
    "d36_chunk_dedup" -> (d36 _),
    "p28_ppl_buckets" -> (p28 _),
    "s18_filtered_topk" -> (s18 _),
    "t39_readability" -> (t39 _),
    "m16_frame_plan" -> (m16 _),
    "p29_data_constrained" -> (p29 _),
    "d37_name_linkage" -> (d37 _),
    "m17_exif_meta" -> (m17 _),
    "x16_chi2" -> (x16q _),
    "q56_percentile_disc" -> (q56 _),
    "t40_trigram_kn" -> (t40 _),
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_top_orders" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate, o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
        | AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 20""".stripMargin,
    "q6_filter_agg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        | AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        | AND l_discount >= CAST(0.03 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE) AND l_quantity < 24""".stripMargin,
    "e2_capture_values" ->
      """SELECT event_id, k, CAST(100 // (k % 7) AS BIGINT) AS res
        |FROM (SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |WHERE k % 7 <> 0 ORDER BY event_id""".stripMargin,
    "e4_dead_letters" ->
      """SELECT props AS input_value,
        | 'events k-division pipeline' AS description,
        | 'org.apache.spark.SparkArithmeticException' AS error_class
        |FROM (SELECT props, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |WHERE k % 7 = 0 ORDER BY input_value""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin,
    "t3_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
        | AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q5_join5" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        | AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        | AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q7_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q8_region_yearly" ->
      """SELECT r_name, CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT) AS yr,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, yr ORDER BY r_name, yr""".stripMargin,
    "q10_returned_customers" ->
      """SELECT c_custkey, c_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q11_distinct_agg" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q12_shipmode_case" ->
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        | AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q13_cust_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        | SELECT c_custkey, COUNT(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_promo" ->
      """SELECT
        | CAST(SUM(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
        | AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        | SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
        | FROM lineitem
        | WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        | GROUP BY l_suppkey),
        |ranked AS (SELECT *, RANK() OVER (ORDER BY total_rev DESC) AS rnk FROM rev)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM ranked JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rnk = 1 ORDER BY s_suppkey""".stripMargin,
    "q16_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_inactive
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q17_small_qty" ->
      """SELECT
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
        | COUNT(*) AS n
        |FROM lineitem l JOIN (
        | SELECT l_partkey AS ap_partkey, SUM(l_quantity) / COUNT(*) AS avg_qty
        | FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.ap_partkey
        |WHERE l.l_quantity < a.avg_qty * CAST(0.2 AS DOUBLE)""".stripMargin,
    "q18_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q19_having" ->
      """SELECT o_custkey, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
        |ORDER BY o_custkey""".stripMargin,
    "q20_hourly_events" ->
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
        | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q21_event_pivot" ->
      """SELECT user_id,
        | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q22_phone_anti" ->
      """SELECT substring(c_name, 10, 1) AS grp, COUNT(*) AS n,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
        |FROM customer
        |WHERE c_acctbal > (
        | SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        | FROM customer WHERE c_acctbal > 0)
        | AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |   AND CAST(o_orderdate AS DATE) >= DATE '2000-06-01')
        |GROUP BY 1 ORDER BY grp""".stripMargin,
    "q23_union" ->
      """SELECT nk FROM (
        | SELECT c_nationkey AS nk FROM customer
        | UNION
        | SELECT s_nationkey FROM supplier) t ORDER BY nk""".stripMargin,
    "q24_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
        |         max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, r.o_orderkey, r.o_totalprice
        |FROM events e
        |ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q25_quantiles" ->
      """WITH ranked AS (
        | SELECT l_returnflag, l_extendedprice,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM lineitem),
        |b AS (
        | SELECT l_returnflag,
        |  MAX(CASE WHEN rn = floor(CAST(0.5 AS DOUBLE) * (n - 1)) THEN l_extendedprice END) AS lo50,
        |  MAX(CASE WHEN rn = ceil(CAST(0.5 AS DOUBLE) * (n - 1)) THEN l_extendedprice END) AS hi50,
        |  MAX(CASE WHEN rn = floor(CAST(0.95 AS DOUBLE) * (n - 1)) THEN l_extendedprice END) AS lo95,
        |  MAX(CASE WHEN rn = ceil(CAST(0.95 AS DOUBLE) * (n - 1)) THEN l_extendedprice END) AS hi95,
        |  COUNT(*) AS n
        | FROM ranked GROUP BY l_returnflag)
        |SELECT l_returnflag,
        | lo50 + (CAST(0.5 AS DOUBLE) * (n - 1) - floor(CAST(0.5 AS DOUBLE) * (n - 1))) * (hi50 - lo50) AS p50,
        | lo95 + (CAST(0.95 AS DOUBLE) * (n - 1) - floor(CAST(0.95 AS DOUBLE) * (n - 1))) * (hi95 - lo95) AS p95,
        | n
        |FROM b ORDER BY l_returnflag""".stripMargin,
    "q26_sessions" ->
      """WITH g AS (
        | SELECT user_id, epoch_us(ts) AS tus, event_id,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |       OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 14400000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM events),
        |s AS (SELECT user_id, SUM(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |c AS (SELECT user_id, sid, COUNT(*) OVER (PARTITION BY user_id, sid) AS cnt FROM s)
        |SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions, COUNT(*) AS n_events,
        | CAST(MAX(cnt) AS BIGINT) AS longest
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q27_funnel" ->
      """WITH signed AS (
        | SELECT user_id, min(epoch_us(ts)) AS s0 FROM events
        | WHERE event_type = 'signup' GROUP BY user_id),
        |converted AS (
        | SELECT e.user_id, s.s0, min(epoch_us(e.ts)) AS p0
        | FROM events e JOIN signed s ON e.user_id = s.user_id
        | WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.s0
        | GROUP BY e.user_id, s.s0)
        |SELECT (SELECT COUNT(*) FROM signed) AS n_signed,
        | (SELECT COUNT(*) FROM converted) AS n_converted,
        | (SELECT CAST(SUM(p0 - s0) AS BIGINT) FROM converted) AS total_latency_us""".stripMargin,
    "e1_capture_map" ->
      """SELECT doc_id, doc_id % 10 AS newkey,
        | CAST(n_chars // (doc_id % 13) AS BIGINT) AS ratio
        |FROM documents WHERE doc_id % 13 <> 0 ORDER BY doc_id""".stripMargin,
    "e3_capture_flatmap" ->
      """SELECT doc_id, CAST(i AS INT) AS pos, words[i] AS word
        |FROM (SELECT doc_id, list_slice(string_split(text, ' '), 1, 3) AS words
        |      FROM documents WHERE n_chars % 17 <> 0) t,
        | LATERAL (SELECT unnest(generate_series(1, len(words))) AS i) g
        |ORDER BY doc_id, pos""".stripMargin,
    // manifest audit: the injected corruption pattern restated
    // analytically with the same triage precedence
    "m7_meta_audit" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |mx AS (SELECT MAX(doc_id) + 1 AS pid FROM d),
        |st AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN 'undeclared'
        |       WHEN doc_id % 37 = 0 THEN 'len_mismatch'
        |       WHEN doc_id % 41 = 0 THEN 'hash_mismatch'
        |       ELSE 'ok' END AS status
        | FROM d
        | UNION ALL
        | SELECT pid, 'missing_payload' FROM mx)
        |SELECT status, COUNT(*) AS n, MIN(doc_id) AS first_id
        |FROM st GROUP BY status ORDER BY status""".stripMargin,
    // fallback recovery: e1's failure condition restated, sentinel on
    // the failing rows, flag observable
    "e21_capture_fallback" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 13 = 0 THEN CAST(-1 AS BIGINT)
        |      ELSE CAST(n_chars // (doc_id % 13) AS BIGINT) END AS ratio,
        | doc_id % 13 = 0 AS recovered
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e5_error_logging" ->
      """SELECT COUNT(*) AS n_ok, CAST(SUM(100 // (k % 7)) AS BIGINT) AS sum_res
        |FROM (SELECT CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |WHERE k % 7 <> 0""".stripMargin,
    "e6_error_describing" ->
      """SELECT event_id, CAST(k * 2 AS INT) AS res2
        |FROM (SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |ORDER BY event_id""".stripMargin,
    "e7_error_headers" ->
      """SELECT event_id, h.hkey, h.hval
        |FROM (SELECT event_id FROM (SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events) WHERE k % 7 = 0) f
        |CROSS JOIN (VALUES
        |  ('__streams.errors.description', 'events k-division pipeline'),
        |  ('__streams.errors.exception.class.name', 'org.apache.spark.SparkArithmeticException')) h(hkey, hval)
        |ORDER BY event_id, hkey""".stripMargin,
    "e8_error_filter" ->
      """WITH errs AS (
        | SELECT CASE WHEN k % 11 = 0 THEN 'org.apache.spark.SparkNumberFormatException'
        |             ELSE 'org.apache.spark.SparkArithmeticException' END AS error_class,
        |  CASE WHEN k % 11 = 0 THEN 'dead_lettered' ELSE 'recoverable' END AS branch
        | FROM (SELECT CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        | WHERE k % 11 = 0 OR k % 7 = 0)
        |SELECT branch, error_class, COUNT(*) AS n FROM errs
        |GROUP BY branch, error_class ORDER BY branch, error_class""".stripMargin,
    "e9_dlq_serde" ->
      """SELECT to_json(struct_pack(
        |  input_value := props,
        |  description := 'events k-division pipeline',
        |  error_class := 'org.apache.spark.SparkArithmeticException')) AS value
        |FROM (SELECT props, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |WHERE k % 7 = 0 ORDER BY value""".stripMargin,
    "d2_minhash_lsh" ->
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS ts FROM documents),
        |toks AS (SELECT doc_id,
        |  list_reduce(list_transform(range(1, 8),
        |    i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) AS h
        |  FROM (SELECT doc_id, unnest(ts) AS tok FROM sh) t),
        |seeds AS (SELECT s, ((2*s + 1) * 2654435761) % 2147483647 AS a, s * 40503 + 1 AS b
        |          FROM (SELECT unnest(range(16)) AS s)),
        |sigs AS (
        |  SELECT doc_id, s, min((a * h + b) % 2147483647) AS mh
        |  FROM toks CROSS JOIN seeds GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 4 AS band, md5(string_agg(mh::VARCHAR, ',' ORDER BY s)) AS bandsig
        |  FROM sigs GROUP BY doc_id, s // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id)
        |SELECT da, db,
        |  len(list_intersect(x.ts, y.ts))::DOUBLE /
        |  (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))) AS jaccard
        |FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
        |WHERE jaccard >= CAST(0.5 AS DOUBLE)
        |ORDER BY da, db""".stripMargin,
    "d6_incremental_dedup" ->
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS ts FROM documents),
        |toks AS (SELECT doc_id,
        |  list_reduce(list_transform(range(1, 8),
        |    i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) AS h
        |  FROM (SELECT doc_id, unnest(ts) AS tok FROM sh) t),
        |seeds AS (SELECT s, ((2*s + 1) * 2654435761) % 2147483647 AS a, s * 40503 + 1 AS b
        |          FROM (SELECT unnest(range(16)) AS s)),
        |sigs AS (
        |  SELECT doc_id, s, min((a * h + b) % 2147483647) AS mh
        |  FROM toks CROSS JOIN seeds GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 4 AS band, md5(string_agg(mh::VARCHAR, ',' ORDER BY s)) AS bandsig
        |  FROM sigs GROUP BY doc_id, s // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bandsig = b.bandsig
        |  WHERE a.doc_id < 250 AND b.doc_id >= 250)
        |SELECT da, db,
        |  len(list_intersect(x.ts, y.ts))::DOUBLE /
        |  (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))) AS jaccard
        |FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
        |WHERE jaccard >= CAST(0.5 AS DOUBLE)
        |ORDER BY da, db""".stripMargin,
    "d7_quantize_int8" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> abs(x))),
        |              (a, b) -> greatest(a, b)) AS scale FROM e),
        |q AS (SELECT vec_id, scale,
        |  list_transform(v, x -> CASE WHEN scale > 0
        |    THEN CAST(floor(x / scale * 127.0 + 0.5) AS INT) ELSE 0 END) AS qv
        | FROM s)
        |SELECT vec_id, scale,
        | CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        | CAST(list_sum(qv) AS BIGINT)::DOUBLE * scale / 127.0 AS deq_sum
        |FROM q ORDER BY vec_id""".stripMargin,
    "d3_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
        |bits AS (SELECT unnest(range(1, 33)) AS b),
        |contrib AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN substr(md5(tok), b, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS sgn
        |  FROM toks CROSS JOIN bits GROUP BY doc_id, b)
        |SELECT doc_id, string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
        |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d4_ngram_jaccard" ->
      """WITH g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        | len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        |FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE jaccard >= CAST(0.1 AS DOUBLE) ORDER BY da, db""".stripMargin,
    // the pair-store fixed point: the persisted-and-reread pair list
    // must equal the d4 recompute, so the oracle is d4's SQL verbatim
    "d27_pair_store" ->
      """WITH g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        | len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        |FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE jaccard >= CAST(0.1 AS DOUBLE) ORDER BY da, db""".stripMargin,
    "d5_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        | list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y) /
        |  (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y)) *
        |   sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y))) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE cosine >= CAST(0.3 AS DOUBLE) ORDER BY va, vb""".stripMargin,
    "s1_topk_bruteforce" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        | SELECT qid, vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN e ON qid <> vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s2_topk_ivf" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 20),
        |scored AS (
        | SELECT qid, vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN e ON qlabel = label AND qid <> vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "q53_attribution" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT p.event_id AS conv_id, p.user_id, p.t AS conv_ts_us,
        |  (SELECT max(c.t) FROM c
        |   WHERE c.user_id = p.user_id AND c.t <= p.t) AS lt
        | FROM p),
        |m2 AS (SELECT conv_id, user_id, conv_ts_us,
        |  CASE WHEN lt >= conv_ts_us - 3600000000 THEN lt END AS lt_in FROM m)
        |SELECT m2.conv_id, m2.user_id, m2.conv_ts_us,
        | (SELECT max(c.event_id) FROM c
        |  WHERE c.user_id = m2.user_id AND c.t = m2.lt_in) AS touch_id,
        | conv_ts_us - lt_in AS gap_us,
        | lt_in IS NOT NULL AS attributed
        |FROM m2 ORDER BY conv_id""".stripMargin,
    "q54_markov" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
        |pr AS (SELECT event_type AS from_state,
        |  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_state
        | FROM e),
        |ct AS (SELECT from_state, to_state, COUNT(*) AS n FROM pr
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        | CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS row_total,
        | CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_state) AS DOUBLE) AS p
        |FROM ct ORDER BY from_state, to_state""".stripMargin,
    "p20_reweight" ->
      """WITH c AS (SELECT source AS key, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |s AS (SELECT key, n_docs,
        |  CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total,
        |  CAST(COUNT(*) OVER () AS BIGINT) AS k FROM c),
        |w AS (SELECT key, n_docs,
        |  CAST(n_total AS DOUBLE) / CAST(k * n_docs AS DOUBLE) AS raw_weight FROM s),
        |w2 AS (SELECT key, n_docs, raw_weight,
        |  LEAST(raw_weight, CAST(4.0 AS DOUBLE)) AS weight FROM w),
        |w3 AS (SELECT *, CAST(n_docs AS DOUBLE) * weight AS eff_docs FROM w2)
        |SELECT key, n_docs, raw_weight, weight, eff_docs,
        | eff_docs / (SELECT list_reduce(list_prepend(0.0, list_sort(list(eff_docs))),
        |   (a, x) -> a + x) FROM w3) AS weighted_frac
        |FROM w3 ORDER BY key""".stripMargin,
    "t28_good_turing" ->
      """WITH tc AS (SELECT tok, COUNT(*) AS c FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents) GROUP BY tok),
        |sp AS (SELECT c, COUNT(*) AS n_types, c * COUNT(*) AS mass FROM tc GROUP BY c)
        |SELECT s1.c, s1.n_types, s1.mass, s2.n_types AS next_types,
        | CAST((s1.c + 1) * s2.n_types AS DOUBLE) / CAST(s1.n_types AS DOUBLE) AS r_star
        |FROM sp s1 LEFT JOIN sp s2 ON s2.c = s1.c + 1
        |ORDER BY s1.c""".stripMargin,
    "s13_graph_ann" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |  sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) AS nrm FROM e),
        |winit AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |  list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y) / (a.nrm * b.nrm) AS cosine
        | FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |wtop AS (SELECT src, dst, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) rn
        |  FROM winit) WHERE rn <= 10),
        |reps AS (SELECT label, min(vec_id) AS rep FROM e GROUP BY label),
        |ridx AS (SELECT rep, ROW_NUMBER() OVER (ORDER BY label) - 1 AS pick FROM reps),
        |nc AS (SELECT COUNT(*) AS c FROM reps),
        |bridge AS (SELECT s.vec_id AS src, r.rep AS dst
        |  FROM e s, (SELECT unnest([1, 2]) AS j) jt, nc, ridx r
        |  WHERE r.pick = list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substr(md5(CAST(s.vec_id AS VARCHAR) || ':' || jt.j), i, 1)) - 1 AS BIGINT)), (x,y) -> x*16+y) % nc.c
        |    AND s.vec_id <> r.rep),
        |bsc AS (SELECT p.src, p.dst,
        |  list_reduce(list_transform(range(1, len(sa.v)+1), i -> sa.v[i]*sb.v[i]), (x,y) -> x+y) / (sa.nrm * sb.nrm) AS cosine
        | FROM bridge p JOIN n sa ON sa.vec_id = p.src JOIN n sb ON sb.vec_id = p.dst),
        |g0 AS (SELECT src, dst, max(cosine) AS cosine
        |  FROM (SELECT * FROM wtop UNION ALL SELECT * FROM bsc) GROUP BY 1, 2),
        |sym0 AS (SELECT a, b FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) rn
        |  FROM (SELECT src AS a, dst AS b, cosine FROM g0
        |        UNION ALL SELECT dst, src, cosine FROM g0)) WHERE rn <= 20),
        |prop0 AS (SELECT DISTINCT x.a AS src, y.b AS dst
        |  FROM sym0 x JOIN sym0 y ON x.b = y.a WHERE x.a <> y.b),
        |sc0 AS (SELECT p.src, p.dst,
        |  list_reduce(list_transform(range(1, len(sa.v)+1), i -> sa.v[i]*sb.v[i]), (x,y) -> x+y) / (sa.nrm * sb.nrm) AS cosine
        | FROM prop0 p JOIN n sa ON sa.vec_id = p.src JOIN n sb ON sb.vec_id = p.dst),
        |m0 AS (SELECT src, dst, max(cosine) AS cosine
        |  FROM (SELECT * FROM g0 UNION ALL SELECT * FROM sc0) GROUP BY 1, 2),
        |g1 AS (SELECT src, dst, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) rn
        |  FROM m0) WHERE rn <= 10),
        |sym1 AS (SELECT a, b FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) rn
        |  FROM (SELECT src AS a, dst AS b, cosine FROM g1
        |        UNION ALL SELECT dst, src, cosine FROM g1)) WHERE rn <= 20),
        |prop1 AS (SELECT DISTINCT x.a AS src, y.b AS dst
        |  FROM sym1 x JOIN sym1 y ON x.b = y.a WHERE x.a <> y.b),
        |sc1 AS (SELECT p.src, p.dst,
        |  list_reduce(list_transform(range(1, len(sa.v)+1), i -> sa.v[i]*sb.v[i]), (x,y) -> x+y) / (sa.nrm * sb.nrm) AS cosine
        | FROM prop1 p JOIN n sa ON sa.vec_id = p.src JOIN n sb ON sb.vec_id = p.dst),
        |m1 AS (SELECT src, dst, max(cosine) AS cosine
        |  FROM (SELECT * FROM g1 UNION ALL SELECT * FROM sc1) GROUP BY 1, 2),
        |g2 AS (SELECT src, dst, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) rn
        |  FROM m1) WHERE rn <= 10),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 16),
        |h1 AS (SELECT q.qid, g2.dst AS vec_id FROM q JOIN g2 ON g2.src = q.qid),
        |h2 AS (SELECT h1.qid, g2.dst AS vec_id FROM h1 JOIN g2 ON g2.src = h1.vec_id),
        |cand AS (SELECT DISTINCT qid, vec_id
        |  FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2) WHERE qid <> vec_id),
        |scored AS (SELECT c.qid, c.vec_id,
        |  list_reduce(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*n.v[i]), (x,y) -> x+y) / (q.qn * n.nrm) AS cosine
        | FROM cand c JOIN q ON q.qid = c.qid JOIN n ON n.vec_id = c.vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s3_topk_operator" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        | SELECT qid, vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN e ON qid <> vec_id),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn FROM scored)
        |SELECT qid, vec_id, cosine FROM ranked WHERE rn <= 5
        |ORDER BY qid, cosine DESC, vec_id""".stripMargin,
    // trained hash-n-gram language ID, held-out accuracy per language:
    // char trigrams -> md5-derived 16-bit bucket (the d2 hex fold),
    // per-language profile counts from the doc_id%10<8 train fold,
    // score = matched-count / language-total (ONE integer-ratio IEEE
    // division, engine-bit-exact), argmax with lexicographic tie-break
    "t23_langid_trained" ->
      """WITH t AS (SELECT doc_id, lang,
        |   text || repeat(' qq' || lang || 'sig', 4) AS t FROM documents
        |  WHERE lang IS NOT NULL AND len(text || repeat(' qq' || lang || 'sig', 4)) >= 3),
        |g AS (SELECT doc_id, lang,
        |  unnest(list_transform(range(1, len(t) - 1), i -> substr(t, i, 3))) AS gram FROM t),
        |h AS (SELECT doc_id, lang,
        |  list_reduce(list_transform(range(1, 9),
        |    i -> CAST(strpos('0123456789abcdef', substr(md5(gram), i, 1)) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) % 65536 AS b FROM g),
        |c AS (SELECT lang AS ml, b, COUNT(*) AS c FROM h WHERE doc_id % 10 < 8 GROUP BY 1, 2),
        |d AS (SELECT ml, SUM(c) AS d FROM c GROUP BY 1),
        |langs AS (SELECT DISTINCT lang AS ml FROM t),
        |hb AS (SELECT doc_id, b, COUNT(*) AS m FROM h WHERE doc_id % 10 >= 8 GROUP BY 1, 2),
        |numagg AS (SELECT hb.doc_id, c.ml, SUM(hb.m * c.c) AS num
        |  FROM hb JOIN c ON c.b = hb.b GROUP BY 1, 2),
        |held AS (SELECT doc_id, lang FROM t WHERE doc_id % 10 >= 8),
        |scored AS (SELECT held.doc_id, held.lang, l.ml,
        |  CAST(COALESCE(n.num, 0) AS DOUBLE) / CAST(d.d AS DOUBLE) AS score
        |  FROM held CROSS JOIN langs l
        |  LEFT JOIN numagg n ON n.doc_id = held.doc_id AND n.ml = l.ml
        |  JOIN d ON d.ml = l.ml),
        |pred AS (SELECT doc_id, lang, ml,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, ml ASC) AS rn FROM scored)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN ml = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN ml = lang THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
        |FROM pred WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,
    "t1_lang_id" ->
      """WITH c AS (SELECT doc_id, lang,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the','a','of','and','is'))) AS c_en,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('le','la','et','les','des'))) AS c_fr,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('der','die','und','das','ein'))) AS c_de,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('el','los','las','una','y'))) AS c_es
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN c_en >= 3 AND c_en = greatest(c_en,c_fr,c_de,c_es) THEN 'en'
        |      WHEN c_fr >= 3 AND c_fr = greatest(c_en,c_fr,c_de,c_es) THEN 'fr'
        |      WHEN c_de >= 3 AND c_de = greatest(c_en,c_fr,c_de,c_es) THEN 'de'
        |      WHEN c_es >= 3 AND c_es = greatest(c_en,c_fr,c_de,c_es) THEN 'es'
        |      ELSE 'unk' END AS predicted,
        | lang,
        | CAST(CASE WHEN (CASE WHEN c_en >= 3 AND c_en = greatest(c_en,c_fr,c_de,c_es) THEN 'en'
        |      WHEN c_fr >= 3 AND c_fr = greatest(c_en,c_fr,c_de,c_es) THEN 'fr'
        |      WHEN c_de >= 3 AND c_de = greatest(c_en,c_fr,c_de,c_es) THEN 'de'
        |      WHEN c_es >= 3 AND c_es = greatest(c_en,c_fr,c_de,c_es) THEN 'es'
        |      ELSE 'unk' END) = lang THEN 1 ELSE 0 END AS INT) AS is_match
        |FROM c ORDER BY doc_id""".stripMargin,
    "t2_quality" ->
      """WITH m AS (SELECT doc_id,
        |  len(text)::DOUBLE AS n_chars,
        |  len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS n_tokens,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS punct,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the','a','of','and','is')))::DOUBLE AS stop
        | FROM documents)
        |SELECT doc_id, n_chars, n_tokens,
        | (n_chars - n_tokens + 1.0) / n_tokens AS avg_word_len,
        | punct / n_chars AS punct_ratio,
        | stop / n_tokens AS stopword_ratio,
        | (stop / n_tokens) * 2.0 +
        |  (CASE WHEN (n_chars - n_tokens + 1.0) / n_tokens >= 3.0
        |        AND (n_chars - n_tokens + 1.0) / n_tokens <= 8.0 THEN 0.5 ELSE 0.0 END) -
        |  (punct / n_chars) * 3.0 AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_md5,
        | list_reduce(list_prepend('0', regexp_split_to_array(trim(text), '\s+')),
        |   (h, tok) -> ((h::BIGINT * 131 + ascii(substr(tok,1,1))*31 + len(tok)) % 1000000007)::VARCHAR)::BIGINT AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, COUNT(*) AS dfq FROM tf GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT doc_id, tf.tok,
        |  round(tf * ln((n_docs + 1.0) / (dfq + 1.0)), 6) AS tfidf
        | FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
        |  PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS INT) AS rank FROM scored)
        |SELECT doc_id, rank, tok, tfidf FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "t6_hash_sample" ->
      """SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_id
        |FROM documents
        |WHERE md5('graft:' || CAST(doc_id AS VARCHAR)) < '1a'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "m1_binary_meta" ->
      """WITH p AS (SELECT doc_id,
        |  doc_id % 16 + 1 AS w, doc_id % 13 + 2 AS h,
        |  'P6' || chr(10) || (doc_id % 16 + 1) || ' ' || (doc_id % 13 + 2)
        |    || chr(10) || '255' || chr(10) ||
        |    substr(
        |      md5('img:' || doc_id || ':0') ||
        |      md5('img:' || doc_id || ':1') ||
        |      md5('img:' || doc_id || ':2') ||
        |      md5('img:' || doc_id || ':3') ||
        |      md5('img:' || doc_id || ':4') ||
        |      md5('img:' || doc_id || ':5') ||
        |      md5('img:' || doc_id || ':6') ||
        |      md5('img:' || doc_id || ':7') ||
        |      md5('img:' || doc_id || ':8') ||
        |      md5('img:' || doc_id || ':9') ||
        |      md5('img:' || doc_id || ':10') ||
        |      md5('img:' || doc_id || ':11') ||
        |      md5('img:' || doc_id || ':12') ||
        |      md5('img:' || doc_id || ':13') ||
        |      md5('img:' || doc_id || ':14') ||
        |      md5('img:' || doc_id || ':15') ||
        |      md5('img:' || doc_id || ':16') ||
        |      md5('img:' || doc_id || ':17') ||
        |      md5('img:' || doc_id || ':18') ||
        |      md5('img:' || doc_id || ':19') ||
        |      md5('img:' || doc_id || ':20'), 1,
        |           CAST((doc_id % 16 + 1) * (doc_id % 13 + 2) * 3 AS INT)) AS payload
        | FROM documents)
        |SELECT doc_id,
        | CAST(octet_length(encode(payload)) AS BIGINT) AS byte_len,
        | md5(payload) AS content_md5,
        | 'ppm' AS format,
        | CAST(w AS INT) AS width,
        | CAST(h AS INT) AS height,
        | CAST(1 AS BIGINT) AS n_frames
        |FROM p ORDER BY doc_id""".stripMargin,
    "m2_batch_features" ->
      """SELECT doc_id,
        | CAST(LEAST(octet_length(encode(text)), 256) AS INT) AS feat_dim,
        | CAST(list_sum(list_transform(range(1, LEAST(octet_length(encode(text)), 256) + 1),
        |   i -> ascii(substr(text, i, 1)))) AS BIGINT) AS feat_l1
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p1_pii_redact" ->
      """WITH r AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        | CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS INT) AS n_phone,
        | md5(regexp_replace(
        |   regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    "p2_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pt AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok),
        |m AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt FROM pt GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        | CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_frac,
        | CAST(top_cnt AS DOUBLE) / n_tokens AS top_frac,
        | CAST(CASE WHEN CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens > CAST(0.5 AS DOUBLE)
        |   OR CAST(top_cnt AS DOUBLE) / n_tokens > CAST(0.1 AS DOUBLE)
        |  THEN 1 ELSE 0 END AS INT) AS flagged
        |FROM m ORDER BY doc_id""".stripMargin,
    "p3_token_pack" ->
      """WITH d AS (SELECT source AS shard, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |c AS (SELECT shard, doc_id, toks,
        |  CAST(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM d),
        |b AS (SELECT shard, CAST((cum - toks) // 512 AS BIGINT) AS seq_id, toks FROM c)
        |SELECT shard, seq_id, COUNT(*) AS n_docs,
        | CAST(SUM(toks) AS BIGINT) AS seq_tokens,
        | CAST(SUM(toks) AS BIGINT)::DOUBLE / 512 AS fill
        |FROM b GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin,
    "p4_contamination" ->
      """WITH g AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 3), ' '))) AS gs
        | FROM documents),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 97 <> 0)
        |SELECT doc_id, COUNT(*) AS n_shared FROM tr JOIN ev USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p5_stratified_sample" ->
      """WITH d AS (SELECT lang, doc_id,
        |  md5('graft:' || CAST(doc_id AS VARCHAR))
        |    < (CASE WHEN lang = 'en' THEN '0d' ELSE '33' END) AS keep
        | FROM documents)
        |SELECT lang, COUNT(*) AS n_total,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        | MIN(CASE WHEN keep THEN doc_id END) AS first_key,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE / COUNT(*) AS rate
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "d8_dedup_clusters" ->
      """WITH RECURSIVE g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE)),
        |e AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |r AS (
        | SELECT DISTINCT a AS node, a AS reach FROM e
        | UNION
        | SELECT r.node, e.b AS reach FROM r JOIN e ON r.reach = e.a),
        |c AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node)
        |SELECT doc_id, cluster_id,
        | COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM c ORDER BY doc_id""".stripMargin,
    "j1_json_ingest" ->
      """WITH r AS (SELECT event_type,
        |  CASE WHEN event_id % 13 = 0 THEN regexp_replace(props, '\}', '', 'g')
        |   ELSE props END AS raw
        | FROM events)
        |SELECT event_type,
        | CAST(SUM(CASE WHEN json_valid(raw) THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        | CAST(SUM(CASE WHEN json_valid(raw) THEN 0 ELSE 1 END) AS BIGINT) AS n_bad,
        | CAST(SUM(CASE WHEN json_valid(raw)
        |   THEN CAST(json_extract_string(raw, '$.k') AS INT) END) AS BIGINT) AS sum_k
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "t7_corpus_stats" ->
      """WITH d AS (SELECT lang, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
        |ranked AS (SELECT lang, n_toks,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_toks) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM d),
        |b AS (SELECT lang,
        |  MAX(CASE WHEN rn = floor(CAST(0.5 AS DOUBLE) * (n - 1)) THEN n_toks END) AS lo50,
        |  MAX(CASE WHEN rn = ceil(CAST(0.5 AS DOUBLE) * (n - 1)) THEN n_toks END) AS hi50,
        |  MAX(CASE WHEN rn = floor(CAST(0.9 AS DOUBLE) * (n - 1)) THEN n_toks END) AS lo90,
        |  MAX(CASE WHEN rn = ceil(CAST(0.9 AS DOUBLE) * (n - 1)) THEN n_toks END) AS hi90,
        |  COUNT(*) AS n
        | FROM ranked GROUP BY lang),
        |t AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        | FROM d GROUP BY lang)
        |SELECT t.lang, t.n_docs, t.n_tokens,
        | CAST(t.sum_chars AS DOUBLE) / t.n_docs AS avg_chars,
        | CAST(b.lo50 AS DOUBLE) + (CAST(0.5 AS DOUBLE) * (b.n - 1) - floor(CAST(0.5 AS DOUBLE) * (b.n - 1)))
        |   * (CAST(b.hi50 AS DOUBLE) - CAST(b.lo50 AS DOUBLE)) AS p50_toks,
        | CAST(b.lo90 AS DOUBLE) + (CAST(0.9 AS DOUBLE) * (b.n - 1) - floor(CAST(0.9 AS DOUBLE) * (b.n - 1)))
        |   * (CAST(b.hi90 AS DOUBLE) - CAST(b.lo90 AS DOUBLE)) AS p90_toks
        |FROM t JOIN b ON t.lang = b.lang ORDER BY t.lang""".stripMargin,
    "s4_kmeans_assign" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), (x,y) -> x+y) AS vv
        | FROM e),
        |s AS (SELECT vec_id AS cid, v AS c, vv AS cc FROM n ORDER BY vec_id LIMIT 8),
        |d AS (SELECT n.vec_id, s.cid,
        |  n.vv + s.cc - 2 * list_reduce(list_transform(range(1, len(n.v)+1),
        |    i -> n.v[i]*s.c[i]), (x,y) -> x+y) AS dist2
        | FROM n CROSS JOIN s),
        |r AS (SELECT vec_id, cid, dist2,
        |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d)
        |SELECT vec_id, cid AS cluster_id, dist2 FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q28_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS sm,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY rf, sm, gid""".stripMargin,
    "p6_weighted_sample" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |  (('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT::DOUBLE + CAST(1.0 AS DOUBLE))
        |    / 4294967297.0 AS u
        | FROM documents WHERE n_chars > 0)
        |SELECT doc_id, w, round((CAST(0.0 AS DOUBLE) - ln(u)) / w, 9) AS priority
        |FROM d ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    "m3_frame_sample" ->
      """WITH m AS (SELECT doc_id, doc_id % 50 + 8 AS ns FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, ns, 4)) AS fi FROM m)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        | CAST(44 + fi * 2 AS BIGINT) AS byte_offset
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "d9_clusters_distributed" ->
      """WITH RECURSIVE g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE)),
        |e AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |r AS (
        | SELECT DISTINCT a AS node, a AS reach FROM e
        | UNION
        | SELECT r.node, e.b AS reach FROM r JOIN e ON r.reach = e.a),
        |c AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node)
        |SELECT doc_id, cluster_id,
        | COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM c ORDER BY doc_id""".stripMargin,
    "x1_salted_join" ->
      """WITH dim AS (SELECT user_id, COUNT(*) AS n_user_events FROM events GROUP BY user_id)
        |SELECT e.event_type, CAST(SUM(d.n_user_events) AS BIGINT) AS sum_n,
        | COUNT(*) AS n_rows
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "x3_bloom_dedup" ->
      """SELECT n.event_id, n.user_id FROM events n
        |WHERE n.event_id % 2 <> 0 AND EXISTS (
        |  SELECT 1 FROM events c WHERE c.event_id % 2 = 0 AND c.user_id = n.user_id)
        |ORDER BY n.event_id""".stripMargin,
    "d10_dedup_apply" ->
      """WITH g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE))
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.db = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "e12_dlq_replay" ->
      """WITH ev AS (SELECT props, CAST(regexp_extract(props, '[0-9]+', 0) AS INT) AS k FROM events),
        |dl AS (SELECT props, k FROM ev WHERE k % 7 = 0),
        |rec AS (SELECT 'recovered' AS outcome, 'ok' AS detail, COUNT(*) AS n,
        |  CAST(SUM(100 // (k % 14)) AS BIGINT) AS sum_val FROM dl WHERE k % 14 <> 0),
        |bad AS (SELECT 'still_failed' AS outcome,
        |  'org.apache.spark.SparkArithmeticException' AS detail,
        |  COUNT(*) AS n, CAST(NULL AS BIGINT) AS sum_val FROM dl WHERE k % 14 = 0)
        |SELECT * FROM rec UNION ALL SELECT * FROM bad ORDER BY outcome, detail""".stripMargin,
    "e13_dlq_retry_loop" ->
      """WITH ev AS (SELECT props, CAST(regexp_extract(props, '[0-9]+', 0) AS INT) AS k FROM events),
        |dl AS (SELECT props, k FROM ev WHERE k % 7 = 0),
        |r1 AS (SELECT 'recovered' AS outcome, CAST(1 AS INT) AS round, COUNT(*) AS n,
        |  CAST(SUM(100 // (k % 14)) AS BIGINT) AS sum_val FROM dl WHERE k % 14 <> 0
        |  HAVING COUNT(*) > 0),
        |r2 AS (SELECT 'recovered' AS outcome, CAST(2 AS INT) AS round, COUNT(*) AS n,
        |  CAST(SUM(100 // (k % 21)) AS BIGINT) AS sum_val FROM dl
        |  WHERE k % 14 = 0 AND k % 21 <> 0 HAVING COUNT(*) > 0),
        |sf AS (SELECT 'still_failed' AS outcome, CAST(2 AS INT) AS round, COUNT(*) AS n,
        |  CAST(NULL AS BIGINT) AS sum_val FROM dl WHERE k % 14 = 0 AND k % 21 = 0
        |  HAVING COUNT(*) > 0)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM sf
        |ORDER BY outcome, round""".stripMargin,
    "x2_layout_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        | CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_sig
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "s5_topk_ivf_trained" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), (x,y) -> x+y) AS vv
        | FROM e),
        |s AS (SELECT vec_id AS cid, v AS c, vv AS cc FROM n ORDER BY vec_id LIMIT 8),
        |d AS (SELECT n.vec_id, s.cid,
        |  n.vv + s.cc - 2 * list_reduce(list_transform(range(1, len(n.v)+1),
        |    i -> n.v[i]*s.c[i]), (x,y) -> x+y) AS dist2
        | FROM n CROSS JOIN s),
        |a AS (SELECT vec_id, cid AS label FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |  FROM d) WHERE rn = 1),
        |t AS (SELECT n.vec_id, a.label, n.v FROM n JOIN a USING (vec_id)),
        |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM t WHERE vec_id < 20),
        |scored AS (
        | SELECT qid, t.vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*t.v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(t.v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN t ON qlabel = t.label AND qid <> t.vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s6_topk_multiprobe" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), (x,y) -> x+y) AS vv
        | FROM e),
        |s AS (SELECT vec_id AS cid, v AS c, vv AS cc FROM n ORDER BY vec_id LIMIT 8),
        |d AS (SELECT n.vec_id, s.cid,
        |  n.vv + s.cc - 2 * list_reduce(list_transform(range(1, len(n.v)+1),
        |    i -> n.v[i]*s.c[i]), (x,y) -> x+y) AS dist2
        | FROM n CROSS JOIN s),
        |a AS (SELECT vec_id, cid AS label FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |  FROM d) WHERE rn = 1),
        |pr AS (SELECT vec_id AS qid, cid AS plabel FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |  FROM d WHERE vec_id < 20) WHERE rn <= 2),
        |t AS (SELECT n.vec_id, a.label, n.v FROM n JOIN a USING (vec_id)),
        |q AS (SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id < 20),
        |scored AS (
        | SELECT q.qid, t.vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*t.v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(t.v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN pr ON q.qid = pr.qid
        |  JOIN t ON t.label = pr.plabel AND q.qid <> t.vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "t8_vocab_topk" ->
      """WITH tok AS (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rn
        |  FROM c)
        |SELECT lang, token, n FROM r WHERE rn <= 10 ORDER BY lang, n DESC, token""".stripMargin,
    "p9_mix_quota" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM ranked
        |WHERE rn <= CASE source WHEN 'src0' THEN 7 WHEN 'src1' THEN 3
        |  WHEN 'src5' THEN 12 WHEN 'src7' THEN 1 WHEN 'src12' THEN 25
        |  ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    "t10_vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id, i - 1 AS pos, ls[i] AS token
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ls
        |        FROM documents),
        |       LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) t),
        |wc AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
        |r AS (SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) - 1 AS tid FROM wc),
        |dict AS (SELECT token, tid FROM r WHERE tid < 30),
        |enc AS (SELECT doc_id, array_agg(COALESCE(d.tid, -1) ORDER BY pos) AS token_ids
        |  FROM tok LEFT JOIN dict d USING (token) GROUP BY doc_id)
        |SELECT doc_id, array_to_string(token_ids, ',') AS ids_csv,
        |  len(token_ids) AS n_tokens,
        |  len(list_filter(token_ids, x -> x = -1)) AS n_oov
        |FROM enc ORDER BY doc_id""".stripMargin,
    "d11_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0),
        |b AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT doc_id, status FROM (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.h <> b.h THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin,
    "p7_quality_gate" ->
      """WITH m AS (SELECT lang,
        |  len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS n_tokens,
        |  len(text)::DOUBLE AS n_chars,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS punct,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t IN ('the','a','of','and','is')))::DOUBLE AS stop
        | FROM documents),
        |r AS (SELECT lang,
        |  (n_tokens >= CAST(8.0 AS DOUBLE) AND n_tokens <= CAST(100000.0 AS DOUBLE)) AS r_tokens,
        |  ((n_chars - n_tokens + CAST(1.0 AS DOUBLE)) / n_tokens <= CAST(8.0 AS DOUBLE)) AS r_word_len,
        |  (punct / n_chars <= CAST(0.05 AS DOUBLE)) AS r_punct,
        |  (stop / n_tokens >= CAST(0.02 AS DOUBLE)) AS r_stop
        | FROM m)
        |SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN r_tokens AND r_word_len AND r_punct AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN NOT r_tokens THEN 1 ELSE 0 END) AS BIGINT) AS fail_tokens,
        | CAST(SUM(CASE WHEN NOT r_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
        | CAST(SUM(CASE WHEN NOT r_punct THEN 1 ELSE 0 END) AS BIGINT) AS fail_punct,
        | CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "q29_interval_join" ->
      """WITH err AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'error'),
        |clk AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click')
        |SELECT e.user_id AS user_id, COUNT(*) AS n_pairs, COUNT(DISTINCT e.event_id) AS n_matched_errors
        |FROM err e JOIN clk c ON e.user_id = c.user_id AND c.t - e.t BETWEEN 0 AND 21600000000
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,
    "q30_interval_outer" ->
      """WITH err AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'error'),
        |clk AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click')
        |SELECT e.user_id AS user_id,
        |  COUNT(DISTINCT e.event_id) AS n_errors,
        |  COUNT(DISTINCT CASE WHEN c.t IS NULL THEN e.event_id END) AS n_unmatched_errors,
        |  COUNT(c.t) AS n_pairs
        |FROM err e LEFT JOIN clk c ON e.user_id = c.user_id AND c.t - e.t BETWEEN 0 AND 21600000000
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,
    "q47_interval_full" ->
      """WITH err AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'error'),
        |clk AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click')
        |SELECT COALESCE(e.user_id, c.user_id) AS user_id,
        |  COUNT(DISTINCT e.event_id) AS n_errors,
        |  COUNT(DISTINCT CASE WHEN c.t IS NULL THEN e.event_id END) AS n_unmatched_errors,
        |  COUNT(DISTINCT CASE WHEN e.t IS NULL THEN c.event_id END) AS n_unmatched_clicks,
        |  COUNT(CASE WHEN e.t IS NOT NULL AND c.t IS NOT NULL THEN 1 END) AS n_pairs
        |FROM err e FULL JOIN clk c ON e.user_id = c.user_id AND c.t - e.t BETWEEN 0 AND 21600000000
        |GROUP BY COALESCE(e.user_id, c.user_id) ORDER BY user_id""".stripMargin,
    "s7_ivf_persisted" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), (x,y) -> x+y) AS vv
        | FROM e),
        |s AS (SELECT vec_id AS cid, v AS c, vv AS cc FROM n ORDER BY vec_id LIMIT 8),
        |d AS (SELECT n.vec_id, s.cid,
        |  n.vv + s.cc - 2 * list_reduce(list_transform(range(1, len(n.v)+1),
        |    i -> n.v[i]*s.c[i]), (x,y) -> x+y) AS dist2
        | FROM n CROSS JOIN s),
        |a AS (SELECT vec_id, cid AS label FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |  FROM d) WHERE rn = 1),
        |pr AS (SELECT vec_id AS qid, cid AS plabel FROM (
        |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |  FROM d WHERE vec_id < 20) WHERE rn <= 2),
        |t AS (SELECT n.vec_id, a.label, n.v FROM n JOIN a USING (vec_id)),
        |q AS (SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id < 20),
        |scored AS (
        | SELECT q.qid, t.vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*t.v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(t.v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN pr ON q.qid = pr.qid
        |  JOIN t ON t.label = pr.plabel AND q.qid <> t.vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "t9_boilerplate" ->
      """WITH g AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' '))) AS gs
        | FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM documents),
        |dfq AS (SELECT g AS gram, COUNT(*) AS n_docs
        |  FROM (SELECT doc_id, unnest(gs) AS g FROM g) GROUP BY g)
        |SELECT gram, n_docs, n_docs::DOUBLE / n_total AS doc_frac
        |FROM dfq CROSS JOIN tot
        |WHERE doc_frac >= CAST(0.05 AS DOUBLE)
        |ORDER BY n_docs DESC, gram""".stripMargin,
    "p8_contam_fuzzy" ->
      """WITH g AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' '))) AS gs
        | FROM documents),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, gs FROM g WHERE doc_id % 97 <> 0),
        |sh AS (SELECT doc_id, COUNT(*) AS n_shared
        |  FROM (SELECT doc_id, unnest(gs) AS g FROM tr) t JOIN ev USING (g) GROUP BY doc_id),
        |sz AS (SELECT doc_id, len(gs) AS n_grams FROM tr)
        |SELECT s.doc_id, n_shared, n_grams, n_shared::DOUBLE / n_grams AS overlap_frac
        |FROM sh s JOIN sz USING (doc_id)
        |WHERE overlap_frac >= CAST(0.2 AS DOUBLE)
        |ORDER BY doc_id""".stripMargin,
    "x4_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "j2_csv_ingest" ->
      """SELECT lang,
        | CAST(SUM(CASE WHEN doc_id % 50 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        | CAST(SUM(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        | CAST(SUM(CASE WHEN doc_id % 50 <> 0 THEN n_chars END) AS BIGINT) AS sum_n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t11_commonness" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |f AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token)
        |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(tf) AS BIGINT) AS sum_tf,
        |  CAST(SUM(tf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS commonness
        |FROM tok JOIN f USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p10_shuffle_shard" ->
      """WITH h AS (SELECT doc_id, md5('graft:' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents)
        |SELECT doc_id,
        |  ('0x' || substr(hx, 1, 8))::BIGINT % 8 AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 8
        |    ORDER BY hx, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    "s8_pq_adc" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |ss AS (SELECT unnest(range(0, 4)) AS s),
        |sub AS (SELECT vec_id, s,
        |  list_transform(range(1, 17), i -> v[CAST(s*16 + i AS INT)]) AS vs
        | FROM e CROSS JOIN ss),
        |subn AS (SELECT vec_id, s, vs,
        |  list_reduce(list_transform(vs, x -> x*x), (x,y) -> x+y) AS vv FROM sub),
        |seed AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8),
        |cb AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
        |  vs AS c, vv AS cc
        | FROM subn WHERE vec_id IN (SELECT vec_id FROM seed)),
        |d AS (SELECT n.vec_id, n.s, cb.cid,
        |  n.vv + cb.cc - 2 * list_reduce(list_transform(range(1, 17),
        |    i -> n.vs[i]*cb.c[i]), (x,y) -> x+y) AS d2
        | FROM subn n JOIN cb ON n.s = cb.s),
        |codes AS (SELECT vec_id, s, cid FROM (
        |  SELECT vec_id, s, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        |  FROM d) WHERE rn = 1),
        |dtab AS (SELECT vec_id AS qid, s, cid, d2 FROM d WHERE vec_id < 20),
        |scored AS (SELECT dt.qid, c.vec_id,
        |  list_reduce(array_agg(dt.d2 ORDER BY dt.s), (x,y) -> x+y) AS approx_d2
        | FROM codes c JOIN dtab dt ON c.s = dt.s AND c.cid = dt.cid
        | GROUP BY dt.qid, c.vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
        |  PARTITION BY qid ORDER BY approx_d2, vec_id) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, approx_d2 FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s9_ivfpq" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y) AS vv FROM e),
        |cent AS (SELECT vec_id AS ccid, v AS c, vv AS cc FROM n ORDER BY vec_id LIMIT 8),
        |ad AS (SELECT n.vec_id, cent.ccid,
        |  n.vv + cent.cc - 2 * list_reduce(list_transform(range(1, len(n.v)+1),
        |    i -> n.v[i]*cent.c[i]), (x,y) -> x+y) AS dist2
        | FROM n CROSS JOIN cent),
        |a AS (SELECT vec_id, ccid AS label FROM (
        |  SELECT vec_id, ccid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, ccid) AS rn
        |  FROM ad) WHERE rn = 1),
        |ss AS (SELECT unnest(range(0, 4)) AS s),
        |sub AS (SELECT vec_id, s,
        |  list_transform(range(1, 17), i -> v[CAST(s*16 + i AS INT)]) AS vs
        | FROM e CROSS JOIN ss),
        |subn AS (SELECT vec_id, s, vs,
        |  list_reduce(list_transform(vs, x -> x*x), (x,y) -> x+y) AS svv FROM sub),
        |seed AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8),
        |cb AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
        |  vs AS c, svv AS cc
        | FROM subn WHERE vec_id IN (SELECT vec_id FROM seed)),
        |d AS (SELECT sn.vec_id, sn.s, cb.cid,
        |  sn.svv + cb.cc - 2 * list_reduce(list_transform(range(1, 17),
        |    i -> sn.vs[i]*cb.c[i]), (x,y) -> x+y) AS d2
        | FROM subn sn JOIN cb ON sn.s = cb.s),
        |codes AS (SELECT vec_id, s, cid FROM (
        |  SELECT vec_id, s, cid, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        |  FROM d) WHERE rn = 1),
        |dtab AS (SELECT vec_id AS qid, s, cid, d2 FROM d WHERE vec_id < 20),
        |ql AS (SELECT vec_id AS qid, label AS qlabel FROM a WHERE vec_id < 20),
        |scored AS (SELECT ql.qid, c.vec_id,
        |  list_reduce(array_agg(dt.d2 ORDER BY dt.s), (x,y) -> x+y) AS approx_d2
        | FROM codes c
        | JOIN a ON c.vec_id = a.vec_id
        | JOIN ql ON a.label = ql.qlabel AND ql.qid <> c.vec_id
        | JOIN dtab dt ON dt.qid = ql.qid AND dt.s = c.s AND dt.cid = c.cid
        | GROUP BY ql.qid, c.vec_id),
        |short AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY approx_d2, vec_id) AS rn FROM scored) WHERE rn <= 10),
        |rer AS (SELECT sh.qid, sh.vec_id,
        |  list_reduce(list_transform(range(1, len(qn.v)+1),
        |    i -> qn.v[i]*vn.v[i]), (x,y) -> x+y) / (sqrt(qn.vv) * sqrt(vn.vv)) AS cosine
        | FROM short sh JOIN n qn ON qn.vec_id = sh.qid JOIN n vn ON vn.vec_id = sh.vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
        |  PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM rer)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "d12_span_dedup" ->
      """WITH arr AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
        |sp AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |  array_to_string(a[CAST(i*5+1 AS INT) : CAST(i*5+5 AS INT)], ' ') AS span
        | FROM arr, LATERAL (SELECT unnest(range(0, (len(a)+4)//5)) AS i) t),
        |k AS (SELECT doc_id, pos, span, md5(span) AS h,
        |  doc_id*1048576 + pos AS okey FROM sp),
        |f AS (SELECT h, MIN(okey) AS keep_key FROM k GROUP BY h),
        |kept AS (SELECT k.doc_id, k.pos, k.span
        | FROM k JOIN f ON k.h = f.h AND k.okey = f.keep_key),
        |tot AS (SELECT doc_id, CAST((len(a)+4)//5 AS BIGINT) AS n_spans FROM arr),
        |o AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  array_to_string(array_agg(span ORDER BY pos), ' ') AS text_out
        | FROM kept GROUP BY doc_id)
        |SELECT o.doc_id, t.n_spans, o.n_kept, o.text_out
        |FROM o JOIN tot t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "x5_compaction" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        | CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_sig
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t12_bpe_merges" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY w),
        |s0 AS (SELECT array_to_string(list_transform(range(1, length(w)+1),
        |  i -> w[CAST(i AS INT)]), ' ') AS sym, n FROM w0),
        |pc1 AS (SELECT x, y, SUM(n) AS c FROM (
        |  SELECT n, a[i] AS x, a[i+1] AS y
        |  FROM (SELECT n, string_split(sym, ' ') AS a FROM s0),
        |       LATERAL (SELECT unnest(range(1, len(a))) AS i) t) GROUP BY x, y),
        |b1 AS (SELECT x, y FROM pc1 ORDER BY c DESC, x, y LIMIT 1),
        |s1 AS (SELECT n, list_reduce(string_split(sym, ' '), (acc, s) -> CASE
        |  WHEN s = b.y AND acc = b.x THEN b.x || b.y
        |  WHEN s = b.y AND ends_with(acc, ' ' || b.x)
        |    THEN left(acc, length(acc) - length(b.x) - 1) || ' ' || b.x || b.y
        |  ELSE acc || ' ' || s END) AS sym FROM s0, b1 b),
        |pc2 AS (SELECT x, y, SUM(n) AS c FROM (
        |  SELECT n, a[i] AS x, a[i+1] AS y
        |  FROM (SELECT n, string_split(sym, ' ') AS a FROM s1),
        |       LATERAL (SELECT unnest(range(1, len(a))) AS i) t) GROUP BY x, y),
        |b2 AS (SELECT x, y FROM pc2 ORDER BY c DESC, x, y LIMIT 1),
        |s2 AS (SELECT n, list_reduce(string_split(sym, ' '), (acc, s) -> CASE
        |  WHEN s = b.y AND acc = b.x THEN b.x || b.y
        |  WHEN s = b.y AND ends_with(acc, ' ' || b.x)
        |    THEN left(acc, length(acc) - length(b.x) - 1) || ' ' || b.x || b.y
        |  ELSE acc || ' ' || s END) AS sym FROM s1, b2 b),
        |pc3 AS (SELECT x, y, SUM(n) AS c FROM (
        |  SELECT n, a[i] AS x, a[i+1] AS y
        |  FROM (SELECT n, string_split(sym, ' ') AS a FROM s2),
        |       LATERAL (SELECT unnest(range(1, len(a))) AS i) t) GROUP BY x, y),
        |b3 AS (SELECT x, y FROM pc3 ORDER BY c DESC, x, y LIMIT 1),
        |s3 AS (SELECT n, list_reduce(string_split(sym, ' '), (acc, s) -> CASE
        |  WHEN s = b.y AND acc = b.x THEN b.x || b.y
        |  WHEN s = b.y AND ends_with(acc, ' ' || b.x)
        |    THEN left(acc, length(acc) - length(b.x) - 1) || ' ' || b.x || b.y
        |  ELSE acc || ' ' || s END) AS sym FROM s2, b3 b)
        |SELECT symbol, CAST(SUM(n) AS BIGINT) AS n_total FROM (
        |  SELECT n, unnest(string_split(sym, ' ')) AS symbol FROM s3)
        |GROUP BY symbol ORDER BY n_total DESC, symbol LIMIT 20""".stripMargin,
    "q31_cohort_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |  CAST((CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS BIGINT) AS w FROM events),
        |c AS (SELECT user_id, MIN(w) AS cohort_week FROM ud GROUP BY user_id)
        |SELECT c.cohort_week, ud.w - c.cohort_week AS week_offset,
        |  COUNT(*) AS n_users
        |FROM ud JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d13_changelog_apply" ->
      """SELECT doc_id,
        | md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
        |FROM documents WHERE doc_id % 5 <> 0 ORDER BY doc_id""".stripMargin,
    "x6_zorder" ->
      """WITH s0 AS (SELECT doc_id, n_chars, lang,
        |  doc_id & 2147483647 AS xa, n_chars & 2147483647 AS xb FROM documents),
        |s1 AS (SELECT *, (xa | (xa << 16)) & 281470681808895 AS a1,
        |  (xb | (xb << 16)) & 281470681808895 AS b1 FROM s0),
        |s2 AS (SELECT *, (a1 | (a1 << 8)) & 71777214294589695 AS a2,
        |  (b1 | (b1 << 8)) & 71777214294589695 AS b2 FROM s1),
        |s3 AS (SELECT *, (a2 | (a2 << 4)) & 1085102592571150095 AS a3,
        |  (b2 | (b2 << 4)) & 1085102592571150095 AS b3 FROM s2),
        |s4 AS (SELECT *, (a3 | (a3 << 2)) & 3689348814741910323 AS a4,
        |  (b3 | (b3 << 2)) & 3689348814741910323 AS b4 FROM s3)
        |SELECT doc_id, n_chars, lang,
        |  ((a4 | (a4 << 1)) & 6148914691236517205) |
        |  ((((b4 | (b4 << 1)) & 6148914691236517205)) << 1) AS zval
        |FROM s4 ORDER BY doc_id""".stripMargin,
    // prefix join is EXACT, so the oracle is the brute-force pair join
    // over the same slice — no prefix logic to mirror
    "d28_prefix_join" ->
      """WITH g AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS ts
        | FROM documents WHERE doc_id % 2 = 0)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        | len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE jaccard >= CAST(0.5 AS DOUBLE) ORDER BY da, db""".stripMargin,
    // MAD outliers: two rank-based medians with the q48 interpolation
    // ops, then |v-m| > 5*mad — every double op mirrored
    "q49_mad_outliers" ->
      """WITH v AS (SELECT l_returnflag AS k, l_extendedprice AS dv,
        |  CAST(l_extendedprice AS DOUBLE) AS vd FROM lineitem),
        |r1 AS (SELECT k, vd,
        |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY dv) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY k) AS n FROM v),
        |m1 AS (SELECT k,
        |  MAX(CASE WHEN rn = floor(CAST(0.5 AS DOUBLE) * (n - 1)) THEN vd END) AS lo,
        |  MAX(CASE WHEN rn = ceil(CAST(0.5 AS DOUBLE) * (n - 1)) THEN vd END) AS hi,
        |  MAX(CAST(0.5 AS DOUBLE) * (n - 1)) AS pos FROM r1 GROUP BY k),
        |med AS (SELECT k, lo + (hi - lo) * (pos - floor(pos)) AS median FROM m1),
        |d AS (SELECT v.k, abs(v.vd - med.median) AS dev FROM v JOIN med ON v.k = med.k),
        |r2 AS (SELECT k, dev,
        |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY dev) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY k) AS n FROM d),
        |m2 AS (SELECT k,
        |  MAX(CASE WHEN rn = floor(CAST(0.5 AS DOUBLE) * (n - 1)) THEN dev END) AS lo,
        |  MAX(CASE WHEN rn = ceil(CAST(0.5 AS DOUBLE) * (n - 1)) THEN dev END) AS hi,
        |  MAX(CAST(0.5 AS DOUBLE) * (n - 1)) AS pos FROM r2 GROUP BY k),
        |mad AS (SELECT k, lo + (hi - lo) * (pos - floor(pos)) AS mad FROM m2)
        |SELECT v.k AS l_returnflag, MAX(med.median) AS median, MAX(mad.mad) AS mad,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN abs(v.vd - med.median) > CAST(5 AS DOUBLE) * mad.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM v JOIN med ON v.k = med.k JOIN mad ON v.k = mad.k
        |GROUP BY v.k ORDER BY l_returnflag""".stripMargin,
    // Heaps fit: doc-ordered cumulative (tokens, types) points, then
    // the t24 rounding + closed form stated with the same double ops
    "t26_heaps_fit" ->
      """WITH tok AS (SELECT doc_id AS d,
        |  unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |pd AS (SELECT d, COUNT(*) AS n_tok FROM tok GROUP BY d),
        |nt AS (SELECT d, COUNT(*) AS n_new FROM
        |  (SELECT tok, MIN(d) AS d FROM tok GROUP BY tok) GROUP BY d),
        |pts AS (SELECT SUM(pd.n_tok) OVER w AS cum_tok,
        |   SUM(COALESCE(nt.n_new, 0)) OVER w AS cum_types
        |  FROM pd LEFT JOIN nt ON pd.d = nt.d
        |  WINDOW w AS (ORDER BY pd.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT round(ln(CAST(cum_tok AS DOUBLE)), 9) AS x,
        |  round(ln(CAST(cum_types AS DOUBLE)), 9) AS y FROM pts),
        |s AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(round(x, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(round(y, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(20,6))) AS DOUBLE) AS syy
        | FROM t),
        |tots AS (SELECT CAST(MAX(cum_tok) AS BIGINT) AS n_tokens,
        |  CAST(MAX(cum_types) AS BIGINT) AS n_types FROM pts)
        |SELECT n_docs, n_tokens, n_types,
        | (CAST(n_docs AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n_docs AS DOUBLE) * sxx - sx * sx) AS slope,
        | (sy - ((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n_docs AS DOUBLE) * sxx - sx * sx)) * sx)
        |   / CAST(n_docs AS DOUBLE) AS intercept,
        | ((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
        |   * (CAST(n_docs AS DOUBLE) * sxy - sx * sy))
        |   / ((CAST(n_docs AS DOUBLE) * sxx - sx * sx)
        |   * (CAST(n_docs AS DOUBLE) * syy - sy * sy)) AS r2
        |FROM s CROSS JOIN tots""".stripMargin,
    // Kneser–Ney: every probability is per-row double arithmetic from
    // exact BIGINT counts — the formula ops mirrored verbatim
    "t25_kneser_ney" ->
      """WITH ts AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM (
        |  SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM ts)),
        |bi AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c_ctx, COUNT(*) AS n_follow
        |  FROM bi GROUP BY w1 HAVING SUM(c) >= 5),
        |cont AS (SELECT w2, COUNT(*) AS n_precede FROM bi GROUP BY w2),
        |tot AS (SELECT COUNT(*) AS n_bigrams FROM bi),
        |sc AS (SELECT bi.w1, bi.w2, bi.c, ctx.c_ctx, ctx.n_follow, cont.n_precede,
        |  greatest(CAST(bi.c AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        |      / CAST(ctx.c_ctx AS DOUBLE)
        |    + ((CAST(0.75 AS DOUBLE) * CAST(ctx.n_follow AS DOUBLE))
        |      / CAST(ctx.c_ctx AS DOUBLE))
        |      * (CAST(cont.n_precede AS DOUBLE) / CAST(tot.n_bigrams AS DOUBLE)) AS p_kn,
        |  ROW_NUMBER() OVER (PARTITION BY bi.w1 ORDER BY bi.c DESC, bi.w2 ASC) AS rn
        | FROM bi JOIN ctx ON bi.w1 = ctx.w1 JOIN cont ON bi.w2 = cont.w2
        | CROSS JOIN tot)
        |SELECT w1, w2, c, c_ctx, n_follow, n_precede, p_kn FROM sc WHERE rn <= 3
        |ORDER BY w1, c DESC, w2""".stripMargin,
    // Zipf fit: identical rank tie-break, round(9)+DECIMAL(20,12) sums
    // (the t20 pattern), closed form stated with the same double ops
    "t24_zipf_fit" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
        |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS r FROM c),
        |t AS (SELECT round(ln(CAST(r AS DOUBLE)), 9) AS x,
        |  round(ln(CAST(n AS DOUBLE)), 9) AS y FROM r),
        |s AS (SELECT COUNT(*) AS n_types,
        |  CAST(SUM(CAST(round(x, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(round(y, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(20,6))) AS DOUBLE) AS syy
        | FROM t),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens FROM c)
        |SELECT n_types, n_tokens,
        | (CAST(n_types AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n_types AS DOUBLE) * sxx - sx * sx) AS slope,
        | (sy - ((CAST(n_types AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n_types AS DOUBLE) * sxx - sx * sx)) * sx)
        |   / CAST(n_types AS DOUBLE) AS intercept,
        | ((CAST(n_types AS DOUBLE) * sxy - sx * sy)
        |   * (CAST(n_types AS DOUBLE) * sxy - sx * sy))
        |   / ((CAST(n_types AS DOUBLE) * sxx - sx * sx)
        |   * (CAST(n_types AS DOUBLE) * syy - sy * sy)) AS r2
        |FROM s CROSS JOIN tot""".stripMargin,
    // ties via DENSE_RANK — the window formulation the Spark side's
    // heap-plus-semi-join composition replaces
    "q52_topk_ties" ->
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |  DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS dr
        | FROM lineitem)
        |SELECT l_returnflag, l_quantity, COUNT(*) AS n_rows
        |FROM r WHERE dr <= 3 GROUP BY l_returnflag, l_quantity
        |ORDER BY l_returnflag, l_quantity DESC""".stripMargin,
    // soft dedup: weights 1/k from exact BIGINT sizes, per-source sums
    // via the d20 sorted-fold — bit-exact, no tolerance
    "d29_soft_dedup" ->
      """WITH c AS (SELECT doc_id, source, md5(text) AS cluster_id FROM documents),
        |k AS (SELECT cluster_id, COUNT(*) AS k FROM c GROUP BY cluster_id),
        |w AS (SELECT c.source,
        |  CAST(1.0 AS DOUBLE) / CAST(k.k AS DOUBLE) AS w
        | FROM c JOIN k ON c.cluster_id = k.cluster_id)
        |SELECT source, COUNT(*) AS n_docs,
        | list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(w))),
        |   (a, b) -> a + b) AS effective_docs
        |FROM w GROUP BY source ORDER BY source""".stripMargin,
    // division-via-counting, mirrored; the subquery is the 1-row divisor
    "q51_division" ->
      """SELECT o_custkey, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(DISTINCT o_orderpriority) =
        |  (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
        |ORDER BY o_custkey""".stripMargin,
    // PMI: ranked by the exact BIGINT-product ratio (one IEEE division,
    // identical both engines); displayed pmi = round(ln(ratio), 9)
    "t27_pmi" ->
      """WITH ts AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM (
        |  SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM ts)),
        |bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
        |l AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1),
        |r AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM bi GROUP BY w2),
        |tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams FROM bi),
        |sc AS (SELECT bi.w1, bi.w2, bi.c12, l.c1, r.c2,
        |  CAST(bi.c12 * tot.n_bigrams AS DOUBLE) / CAST(l.c1 * r.c2 AS DOUBLE) AS ratio
        | FROM bi JOIN l ON bi.w1 = l.w1 JOIN r ON bi.w2 = r.w2 CROSS JOIN tot
        | WHERE bi.c12 >= 5)
        |SELECT w1, w2, c12, c1, c2, round(ln(ratio), 9) AS pmi
        |FROM sc ORDER BY ratio DESC, w1, w2 LIMIT 30""".stripMargin,
    // k-fold: the t23 hex-prefix→int trick recomputes the fold hash
    "p19_kfold_split" ->
      """WITH c AS (SELECT doc_id, md5(text) AS cluster_id FROM documents),
        |f AS (SELECT doc_id, cluster_id,
        |  list_reduce(list_transform(range(1, 9),
        |    i -> CAST(strpos('0123456789abcdef',
        |      substr(md5('graft:' || cluster_id), i, 1)) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) % 5 AS fold FROM c)
        |SELECT fold, COUNT(*) AS n_docs,
        | COUNT(DISTINCT cluster_id) AS n_clusters, MIN(doc_id) AS first_doc
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin,
    // KS: per-distinct-value counts, running ECDFs, max |diff| — the
    // same double ops both sides
    "x15_ks_drift" ->
      """WITH a AS (SELECT value AS v, COUNT(*) AS ca FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL GROUP BY v),
        |b AS (SELECT value AS v, COUNT(*) AS cb FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY v),
        |m AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |  COALESCE(cb, 0) AS cb FROM a FULL JOIN b ON a.v = b.v),
        |c AS (SELECT SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b FROM m
        | WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM m)
        |SELECT na AS n_a, nb AS n_b,
        | MAX(abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
        |   - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_stat
        |FROM c CROSS JOIN t GROUP BY na, nb""".stripMargin,
    // trailing-window distincts: BETWEEN-join formulation — independent
    // of the Spark side's explode-to-window-ends plan, same counts
    "x14_sliding_distinct" ->
      """WITH pairs AS (
        | SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM pairs),
        |w AS (SELECT dy.day AS day, COUNT(DISTINCT p.user_id) AS n_window
        |      FROM days dy JOIN pairs p ON p.day BETWEEN dy.day - 6 AND dy.day
        |      GROUP BY dy.day),
        |o AS (SELECT day, COUNT(DISTINCT user_id) AS n_1d FROM pairs GROUP BY day)
        |SELECT o.day, o.n_1d, w.n_window FROM o JOIN w USING (day)
        |ORDER BY day""".stripMargin,
    // percentile_cont: identical rank construction and the SAME three
    // interpolation double ops as Quantiles.interpolated — hash-exact
    "q48_percentile_cont" ->
      """WITH ranked AS (
        | SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM documents),
        |qs(q) AS (VALUES (CAST(0.1 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
        |  (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
        |b AS (
        | SELECT lang, q,
        |  MAX(CASE WHEN rn = floor(q * (n - 1)) THEN v END) AS lo,
        |  MAX(CASE WHEN rn = ceil(q * (n - 1)) THEN v END) AS hi,
        |  MAX(q * (n - 1)) AS pos
        | FROM ranked CROSS JOIN qs GROUP BY lang, q)
        |SELECT lang, q, lo + (hi - lo) * (pos - floor(pos)) AS pct
        |FROM b ORDER BY lang, q""".stripMargin,
    // Hilbert layout: the curve is proven exhaustively in HilbertSpec;
    // the oracle pins the clustered write's content-losslessness
    "x13_hilbert" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // 3-D round-robin Morton recomputed independently: bit j of column
    // k at output bit 3j+k, 21 bits per column (63/3)
    "x12_zorder3" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |m AS (SELECT doc_id, n_chars, n_tokens,
        |  doc_id & 2097151 AS xa, n_chars & 2097151 AS xb, n_tokens & 2097151 AS xc FROM d)
        |SELECT doc_id, n_chars, n_tokens,
        |  list_reduce(list_transform(range(0, 21), j ->
        |    (((xa >> j) & 1) << (3*j)) | (((xb >> j) & 1) << (3*j+1)) | (((xc >> j) & 1) << (3*j+2))),
        |   (x, y) -> x | y) AS zval
        |FROM m ORDER BY doc_id""".stripMargin,
    "x7_profile" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(doc_id) AS n_nulls, COUNT(DISTINCT doc_id) AS n_distinct,
        |    CAST(MIN(doc_id) AS VARCHAR) AS min_s, CAST(MAX(doc_id) AS VARCHAR) AS max_s
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        |    CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |    CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
        |    CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR) FROM documents)
        |ORDER BY col_name""".stripMargin,
    "p11_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)), (a, b) -> a + b) AS denom
        |  FROM c),
        |r AS (SELECT source, n, LEAST(CAST(1.0 AS DOUBLE),
        |  CAST(0.3 AS DOUBLE) * nn * sqrt(CAST(n AS DOUBLE)) / denom / CAST(n AS DOUBLE)) AS rate
        |  FROM c, t),
        |k AS (SELECT d.source, r.n, r.rate, d.doc_id,
        |  (CAST(('0x' || substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |    / CAST(4503599627370496 AS DOUBLE)) < r.rate AS keep
        |  FROM documents d JOIN r USING (source))
        |SELECT source, MIN(n) AS n_total, MIN(rate) AS rate,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  MIN(CASE WHEN keep THEN doc_id END) AS first_key
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "d14_simhash_neardup" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
        |bits AS (SELECT unnest(range(1, 33)) AS b),
        |contrib AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN substr(md5(tok), b, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS sgn
        |  FROM toks CROSS JOIN bits GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |  list_reduce(list(CAST(CASE WHEN sgn > 0 THEN 1 ELSE 0 END AS BIGINT) ORDER BY b),
        |    (a, x) -> a * 2 + x) AS sig
        |  FROM contrib GROUP BY doc_id),
        |banded0 AS (SELECT doc_id, sig, band, (sig >> CAST(32 - 8 * (band + 1) AS INT)) & 255 AS bval
        |  FROM sig, (SELECT unnest(range(0, 4)) AS band) bs),
        |ok AS (SELECT band, bval FROM banded0 GROUP BY band, bval HAVING COUNT(*) <= 10000),
        |banded AS (SELECT banded0.* FROM banded0 JOIN ok USING (band, bval)),
        |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sig AS siga, b.sig AS sigb
        |  FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT da, COUNT(*) AS n_pairs,
        |  CAST(SUM(bit_count(xor(siga, sigb))) AS BIGINT) AS sum_hamming,
        |  MIN(db) AS first_db
        |FROM cand WHERE bit_count(xor(siga, sigb)) <= 3
        |GROUP BY da ORDER BY da""".stripMargin,
    "e14_dlq_rate_limit" ->
      """WITH err AS (SELECT event_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
        |  FROM (SELECT event_id, ts, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |  WHERE k % 7 = 0),
        |r AS (SELECT event_id, day,
        |  ROW_NUMBER() OVER (PARTITION BY day ORDER BY event_id) AS rn FROM err)
        |SELECT 'org.apache.spark.SparkArithmeticException' AS error_class, day,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COUNT(*) - CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
        |  string_agg(CASE WHEN rn <= 3 THEN CAST(event_id AS VARCHAR) END, ',' ORDER BY event_id) AS kept_ids
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    "q32_set_ops" ->
      """SELECT 'both' AS tag, nk FROM
        |  (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'cust_only' AS tag, nk FROM
        |  (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'supp_only' AS tag, nk FROM
        |  (SELECT s_nationkey AS nk FROM supplier EXCEPT SELECT c_nationkey FROM customer)
        |ORDER BY tag, nk""".stripMargin,
    "q33_range_window" ->
      """SELECT user_id, event_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM (SELECT user_id, event_id, value, epoch_us(ts) AS tus FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "x8_agg_refresh" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "p12_leakage_split" ->
      """WITH RECURSIVE g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE)),
        |e AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |r AS (
        | SELECT DISTINCT a AS node, a AS reach FROM e
        | UNION
        | SELECT r.node, e.b AS reach FROM r JOIN e ON r.reach = e.a),
        |c AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node),
        |asg AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        | FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id),
        |k AS (SELECT doc_id, cluster_id,
        |  CASE WHEN md5('graft:' || CAST(cluster_id AS VARCHAR)) < '8' THEN 'train'
        |       WHEN md5('graft:' || CAST(cluster_id AS VARCHAR)) < 'c' THEN 'val'
        |       ELSE 'test' END AS split FROM asg)
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT cluster_id) AS n_clusters, MIN(doc_id) AS first_doc
        |FROM k GROUP BY split ORDER BY split""".stripMargin,
    "q34_anomaly_zscore" ->
      """WITH s AS (SELECT event_type, COUNT(*) AS n,
        |  SUM(CAST(value AS DECIMAL(18,4))) AS sv,
        |  SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS svv
        | FROM events GROUP BY 1),
        |st AS (SELECT event_type, n, CAST(sv AS DOUBLE) / n AS mu,
        |  CAST(svv AS DOUBLE) / n
        |    - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n) AS vr FROM s),
        |f AS (SELECT e.event_type, e.event_id, st.n, st.mu, st.vr,
        |  (e.value - st.mu) * (e.value - st.mu) > CAST(9.0 AS DOUBLE) * st.vr AS flag
        | FROM events e JOIN st USING (event_type))
        |SELECT event_type, MIN(n) AS n, MIN(mu) AS mu, MIN(vr) AS variance,
        |  CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  MIN(CASE WHEN flag THEN event_id END) AS first_anomaly
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    "p13_winsorize" ->
      """WITH ranked AS (SELECT event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM events),
        |b AS (SELECT event_type, MAX(n) AS n,
        |  MAX(CASE WHEN rn = floor(CAST(0.05 AS DOUBLE) * (n - 1)) THEN value END) AS lo05,
        |  MAX(CASE WHEN rn = ceil(CAST(0.05 AS DOUBLE) * (n - 1)) THEN value END) AS hi05,
        |  MAX(CASE WHEN rn = floor(CAST(0.95 AS DOUBLE) * (n - 1)) THEN value END) AS lo95,
        |  MAX(CASE WHEN rn = ceil(CAST(0.95 AS DOUBLE) * (n - 1)) THEN value END) AS hi95
        | FROM ranked GROUP BY event_type),
        |p AS (SELECT event_type, n,
        |  lo05 + (CAST(0.05 AS DOUBLE) * (n - 1) - floor(CAST(0.05 AS DOUBLE) * (n - 1))) * (hi05 - lo05) AS p05,
        |  lo95 + (CAST(0.95 AS DOUBLE) * (n - 1) - floor(CAST(0.95 AS DOUBLE) * (n - 1))) * (hi95 - lo95) AS p95
        | FROM b)
        |SELECT e.event_type, MIN(p.n) AS n, MIN(p.p05) AS p05, MIN(p.p95) AS p95,
        |  CAST(SUM(CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |  CAST(SUM(CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |  MIN(LEAST(GREATEST(e.value, p.p05), p.p95)) AS min_w,
        |  MAX(LEAST(GREATEST(e.value, p.p05), p.p95)) AS max_w
        |FROM events e JOIN p USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "e15_dlq_quarantine" ->
      """SELECT md5(props) AS input_hash, COUNT(*) AS n_occurrences,
        |  MIN(props) AS input_value,
        |  'org.apache.spark.SparkArithmeticException' AS error_class
        |FROM (SELECT props, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |WHERE k % 7 = 0 GROUP BY md5(props) ORDER BY input_hash""".stripMargin,
    "d15_log_compact" ->
      """WITH v AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
        |  value, props,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
        |  COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
        | FROM events)
        |SELECT user_id, event_type, tus, event_id, value, props,
        |  CAST(n_versions AS BIGINT) AS n_versions
        |FROM v WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "e16_dlq_trend" ->
      """WITH err AS (SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour
        |  FROM (SELECT ts, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events)
        |  WHERE k % 7 = 0),
        |h AS (SELECT 'org.apache.spark.SparkArithmeticException' AS error_class,
        |  hour, COUNT(*) AS c FROM err GROUP BY 2),
        |st AS (SELECT error_class, COUNT(*) AS n_hours,
        |  CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
        | FROM h GROUP BY 1),
        |f AS (SELECT h.error_class, h.hour, h.c, st.n_hours,
        |  (h.c * st.n_hours - st.s1 > 0 AND
        |   (h.c * st.n_hours - st.s1) * (h.c * st.n_hours - st.s1)
        |     > 4 * (st.n_hours * st.s2 - st.s1 * st.s1)) AS spike
        | FROM h JOIN st USING (error_class))
        |SELECT error_class, MIN(n_hours) AS n_hours,
        |  CAST(SUM(c) AS BIGINT) AS total_errors, MAX(c) AS max_hourly,
        |  CAST(SUM(CASE WHEN spike THEN 1 ELSE 0 END) AS BIGINT) AS n_spike_hours,
        |  MIN(CASE WHEN spike THEN hour END) AS first_spike_hour
        |FROM f GROUP BY error_class ORDER BY error_class""".stripMargin,
    "p14_chunk" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        |  FROM documents),
        |st AS (SELECT doc_id, ts,
        |  unnest(range(0, greatest(len(ts), 1), 24)) AS start_tok FROM tok)
        |SELECT doc_id, CAST(start_tok // 24 AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(list_slice(ts, start_tok + 1, least(start_tok + 32, len(ts)))) AS BIGINT) AS n_tok,
        |  md5(array_to_string(list_slice(ts, start_tok + 1, least(start_tok + 32, len(ts))), ' ')) AS chunk_hash
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "t13_bigram_novelty" ->
      """WITH g AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' '))),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' '))) AS g
        |  FROM documents)),
        |f AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(SUM(df) AS BIGINT) AS sum_df,
        |  CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rare_frac,
        |  CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_df
        |FROM g JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q35_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, l_quantity, n,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY n DESC, l_quantity ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
        | FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n,
        |  CAST(nd AS BIGINT) AS n_distinct_vals
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "d16_semdedup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), (x,y) -> x+y) AS vv
        | FROM e),
        |s AS (SELECT vec_id AS cid, v AS c, vv AS cc FROM n ORDER BY vec_id LIMIT 8),
        |d AS (SELECT n.vec_id, s.cid,
        |  n.vv + s.cc - 2 * list_reduce(list_transform(range(1, len(n.v)+1),
        |    i -> n.v[i]*s.c[i]), (x,y) -> x+y) AS dist2
        | FROM n CROSS JOIN s),
        |r AS (SELECT vec_id, cid, dist2,
        |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d),
        |a AS (SELECT vec_id, cid AS cluster_id FROM r WHERE rn = 1),
        |cl AS (SELECT n.vec_id, a.cluster_id, n.v,
        |  sqrt(list_reduce(list_transform(n.v, x -> x*x), (x,y) -> x+y)) AS nrm
        | FROM n JOIN a USING (vec_id)),
        |p AS (SELECT x.vec_id AS va, y.vec_id AS vb
        | FROM cl x JOIN cl y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
        | WHERE list_reduce(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i]),
        |    (q,w) -> q+w) / (x.nrm * y.nrm) >= CAST(0.3 AS DOUBLE)),
        |rm AS (SELECT DISTINCT vb AS vec_id FROM p)
        |SELECT cl.vec_id, cl.cluster_id FROM cl
        |WHERE cl.vec_id NOT IN (SELECT vec_id FROM rm) ORDER BY cl.vec_id""".stripMargin,
    // d16's capacity twin: the IDENTICAL pipeline restated with k from
    // a scalar subquery — GREATEST(4, ceil(N/250)) mirrors Spark's
    // math.max(4, math.ceil(n/250.0)) on exact integers.
    "d35_semdedup_scaled" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |  list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*v[i]), (x,y) -> x+y) AS vv
        | FROM e),
        |sr AS (SELECT vec_id, v, vv, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM n),
        |s AS (SELECT vec_id AS cid, v AS c, vv AS cc FROM sr
        |  WHERE rn <= (SELECT GREATEST(4, CAST(ceil(COUNT(*) / 250.0) AS BIGINT)) FROM e)),
        |d AS (SELECT n.vec_id, s.cid,
        |  n.vv + s.cc - 2 * list_reduce(list_transform(range(1, len(n.v)+1),
        |    i -> n.v[i]*s.c[i]), (x,y) -> x+y) AS dist2
        | FROM n CROSS JOIN s),
        |r AS (SELECT vec_id, cid, dist2,
        |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d),
        |a AS (SELECT vec_id, cid AS cluster_id FROM r WHERE rn = 1),
        |cl AS (SELECT n.vec_id, a.cluster_id, n.v,
        |  sqrt(list_reduce(list_transform(n.v, x -> x*x), (x,y) -> x+y)) AS nrm
        | FROM n JOIN a USING (vec_id)),
        |p AS (SELECT x.vec_id AS va, y.vec_id AS vb
        | FROM cl x JOIN cl y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
        | WHERE list_reduce(list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i]),
        |    (q,w) -> q+w) / (x.nrm * y.nrm) >= CAST(0.3 AS DOUBLE)),
        |rm AS (SELECT DISTINCT vb AS vec_id FROM p)
        |SELECT cl.vec_id, cl.cluster_id FROM cl
        |WHERE cl.vec_id NOT IN (SELECT vec_id FROM rm) ORDER BY cl.vec_id""".stripMargin,
    "q9_profit" ->
      """SELECT n_name, CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))
        |   - CAST(p_retailprice AS DECIMAL(8,2)) * CAST(0.6 AS DECIMAL(2,1)) * CAST(l_quantity AS DECIMAL(4,1))) AS DOUBLE) AS profit,
        | COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY n_name, CAST(year(CAST(o_orderdate AS DATE)) AS INT)
        |ORDER BY n_name, yr""".stripMargin,
    "q36_streaks" ->
      """WITH days AS (
        | SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000) AS day FROM events),
        |isl AS (
        | SELECT user_id, day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        | FROM days),
        |g AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp)
        |SELECT user_id, MAX(len) AS longest_streak,
        | CAST(SUM(len) AS BIGINT) AS n_active_days, COUNT(*) AS n_streaks
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "p15_domain_cap" ->
      """SELECT doc_id, source, lang, n_chars FROM (
        | SELECT doc_id, source, lang, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        | FROM documents) WHERE rn <= 12 ORDER BY doc_id""".stripMargin,
    "t14_token_entropy" ->
      """WITH c AS (
        | SELECT doc_id, tok, COUNT(*) AS c FROM (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY doc_id, tok),
        |agg AS (
        | SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(list_sort(list(c)), x -> x * ln(CAST(x AS DOUBLE)))),
        |   (a, b) -> a + b) AS s
        | FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        | CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        | round(greatest(CAST(0 AS DOUBLE),
        |   ln(CAST(n_tokens AS DOUBLE)) - s / CAST(n_tokens AS DOUBLE)), 6) AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin,
    // the oracle reconstructs the three fingerprints from the k
    // classification; the template literals pin Spark 4.1's ANSI
    // message text (first line, digits and quoted fragments masked) —
    // same constant-pinning precedent as e4's error_class
    "e17_error_fingerprint" ->
      """WITH e AS (SELECT props, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events),
        |b AS (SELECT props,
        |  CASE WHEN k % 11 = 0 THEN 'org.apache.spark.SparkNumberFormatException'
        |       WHEN k % 13 = 0 THEN 'org.apache.spark.SparkArrayIndexOutOfBoundsException'
        |       WHEN k % 7 = 0 THEN 'org.apache.spark.SparkArithmeticException' END AS error_class,
        |  CASE WHEN k % 11 = 0 THEN '[CAST_INVALID_INPUT] The value ''?'' of the type "STRING" cannot be cast to "INT" because it is malformed. Correct the value as per the syntax, or change its target type. Use `try_cast` to tolerate malformed input and return NULL instead. SQLSTATE: #'
        |       WHEN k % 13 = 0 THEN '[INVALID_ARRAY_INDEX_IN_ELEMENT_AT] The index # is out of bounds. The array has # elements. Use `try_element_at` to tolerate accessing element at invalid index and return NULL instead. SQLSTATE: #'
        |       WHEN k % 7 = 0 THEN '[DIVIDE_BY_ZERO] Division by zero. Use `try_divide` to tolerate divisor being # and return NULL instead. If necessary set "spark.sql.ansi.enabled" to "false" to bypass this error. SQLSTATE: #' END AS template
        | FROM e WHERE k % 11 = 0 OR k % 13 = 0 OR k % 7 = 0)
        |SELECT error_class, template, md5(error_class || '|' || template) AS fp,
        | COUNT(*) AS n, MIN(props) AS example_input
        |FROM b GROUP BY error_class, template
        |ORDER BY error_class, template""".stripMargin,
    // exemplar sampling: same analytic three-mode b CTE as e17, then
    // smallest-md5 rank per class — deterministic both sides
    "e20_error_exemplars" ->
      """WITH e AS (SELECT props, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events),
        |b AS (SELECT props,
        |  CASE WHEN k % 11 = 0 THEN 'org.apache.spark.SparkNumberFormatException'
        |       WHEN k % 13 = 0 THEN 'org.apache.spark.SparkArrayIndexOutOfBoundsException'
        |       WHEN k % 7 = 0 THEN 'org.apache.spark.SparkArithmeticException' END AS error_class
        | FROM e WHERE k % 11 = 0 OR k % 13 = 0 OR k % 7 = 0),
        |h AS (SELECT error_class, props AS exemplar, md5(props) AS h FROM b),
        |r AS (SELECT error_class, exemplar, h,
        |  ROW_NUMBER() OVER (PARTITION BY error_class ORDER BY h ASC, exemplar ASC) AS rn
        | FROM h)
        |SELECT error_class, exemplar, h FROM r WHERE rn <= 5
        |ORDER BY error_class, h""".stripMargin,
    "s10_recall_eval" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 20),
        |sc AS (
        | SELECT qid, qlabel, vec_id, label,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN e ON qid <> vec_id),
        |ex AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
        |  FROM sc) WHERE rn <= 5),
        |ap AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
        |  FROM sc WHERE qlabel = label) WHERE rn <= 5),
        |h AS (SELECT ex.qid, COUNT(*) AS n_hit FROM ex
        |  JOIN ap ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id GROUP BY ex.qid),
        |ne AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY qid)
        |SELECT ne.qid, ne.n_exact, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        | CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(ne.n_exact AS DOUBLE) AS recall
        |FROM ne LEFT JOIN h ON ne.qid = h.qid ORDER BY ne.qid""".stripMargin,
    "d17_url_canonical" ->
      """WITH raws AS (
        | SELECT doc_id, unnest([
        |   'https://' || upper(source) || '.example.com/d/' || CAST(doc_id AS VARCHAR)
        |     || '?utm_source=feed&utm_campaign=' || CAST(doc_id AS VARCHAR)
        |     || '&ref=abc#sec-' || CAST(doc_id AS VARCHAR),
        |   lower('https://' || upper(source) || '.example.com/d/' || CAST(doc_id AS VARCHAR)) || '?ref=abc',
        |   lower('https://' || upper(source) || '.example.com/d/' || CAST(doc_id AS VARCHAR)) || '/'
        |  ]) AS raw_url FROM documents),
        |canon AS (
        | SELECT doc_id, raw_url,
        |  lower(regexp_extract(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      raw_url, '#.*$', ''), 'utm_[^=&#]*=[^&#]*&', '', 'g'),
        |      '[?&]utm_[^=&#]*=[^&#]*$', ''), '[?&]$', ''), '/$', ''),
        |    '^[^:/?#]+://[^/?#]*'))
        |  || substr(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      raw_url, '#.*$', ''), 'utm_[^=&#]*=[^&#]*&', '', 'g'),
        |      '[?&]utm_[^=&#]*=[^&#]*$', ''), '[?&]$', ''), '/$', ''),
        |    length(regexp_extract(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        raw_url, '#.*$', ''), 'utm_[^=&#]*=[^&#]*&', '', 'g'),
        |        '[?&]utm_[^=&#]*=[^&#]*$', ''), '[?&]$', ''), '/$', ''),
        |      '^[^:/?#]+://[^/?#]*')) + 1) AS canonical_url
        | FROM raws)
        |SELECT MIN(doc_id) AS doc_id, canonical_url, COUNT(*) AS n_raw,
        | MIN(raw_url) AS first_raw
        |FROM canon GROUP BY canonical_url
        |ORDER BY doc_id, canonical_url""".stripMargin,
    "q37_deciles" ->
      """WITH spend AS (
        | SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend,
        |  COUNT(*) AS n_orders
        | FROM orders GROUP BY o_custkey),
        |dec AS (
        | SELECT c_mktsegment, spend, n_orders,
        |  CAST(ntile(10) OVER (PARTITION BY c_mktsegment
        |    ORDER BY spend DESC, o_custkey ASC) AS INT) AS decile
        | FROM spend JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, decile, COUNT(*) AS n_customers,
        | CAST(SUM(spend) AS DOUBLE) AS decile_spend,
        | CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        | CAST(MAX(spend) AS DOUBLE) AS max_spend,
        | CAST(MIN(spend) AS DOUBLE) AS min_spend
        |FROM dec GROUP BY c_mktsegment, decile
        |ORDER BY c_mktsegment, decile""".stripMargin,
    "d18_containment" ->
      """WITH g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents)
        |SELECT da, db, contain_a, contain_b FROM (
        | SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/len(a.ts) AS contain_a,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/len(b.ts) AS contain_b
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        |  AND len(a.ts) > 0 AND len(b.ts) > 0)
        |WHERE greatest(contain_a, contain_b) >= CAST(0.2 AS DOUBLE)
        |ORDER BY da, db""".stripMargin,
    // CASE WHEN pred THEN 0 ELSE 1: a NULL predicate falls to ELSE and
    // counts as a violation — same null-is-failure semantics as the
    // operator's coalesce(pred, false)
    "x9_expectations" ->
      """SELECT COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN (l_quantity BETWEEN 1 AND 49)
        |     AND (l_discount <= CAST(0.07 AS DOUBLE))
        |     AND (l_extendedprice > 0)
        |     AND (l_returnflag IN ('A','N','R')) THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined,
        | CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 49 THEN 0 ELSE 1 END) AS BIGINT) AS viol_qty_range,
        | CAST(SUM(CASE WHEN l_discount <= CAST(0.07 AS DOUBLE) THEN 0 ELSE 1 END) AS BIGINT) AS viol_disc_max,
        | CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS viol_price_pos,
        | CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS viol_flag_known
        |FROM lineitem""".stripMargin,
    "p16_best_of_cluster" ->
      """WITH RECURSIVE g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE)),
        |e AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |r AS (
        | SELECT DISTINCT a AS node, a AS reach FROM e
        | UNION
        | SELECT r.node, e.b AS reach FROM r JOIN e ON r.reach = e.a),
        |c AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node),
        |asg AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT) AS score
        | FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id),
        |rk AS (SELECT cluster_id, doc_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
        |  MAX(score) OVER (PARTITION BY cluster_id) AS best_score
        | FROM asg)
        |SELECT cluster_id, doc_id AS keeper_id, best_score,
        | CAST(n_members AS BIGINT) AS n_members
        |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "t15_bigram_lm" ->
      """WITH ts AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM (
        |  SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM ts)),
        |bi AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c_ctx FROM bi GROUP BY w1
        |  HAVING SUM(c) >= 5),
        |sc AS (SELECT bi.w1, bi.w2, bi.c, ctx.c_ctx,
        |  CAST(bi.c AS DOUBLE) / CAST(ctx.c_ctx AS DOUBLE) AS prob,
        |  ROW_NUMBER() OVER (PARTITION BY bi.w1 ORDER BY bi.c DESC, bi.w2 ASC) AS rn
        | FROM bi JOIN ctx ON bi.w1 = ctx.w1)
        |SELECT w1, w2, c, c_ctx, prob FROM sc WHERE rn <= 3
        |ORDER BY w1, c DESC, w2""".stripMargin,
    // drift keys are known by construction (doc_id classification), so
    // the oracle never parses JSON — the e17 constant-reconstruction
    // precedent
    "j3_schema_drift" ->
      """WITH u AS (SELECT 'unknown' AS kind,
        |  'xtra_' || CAST(doc_id % 3 AS VARCHAR) AS key, doc_id
        | FROM documents WHERE doc_id % 7 = 0),
        |m AS (SELECT 'missing' AS kind, 'lang' AS key, doc_id
        | FROM documents WHERE doc_id % 11 = 0)
        |SELECT kind, key, COUNT(*) AS n, MIN(doc_id) AS first_id
        |FROM (SELECT * FROM u UNION ALL SELECT * FROM m)
        |GROUP BY kind, key ORDER BY kind, key""".stripMargin,
    "p17_e2e_prep" ->
      """WITH m AS (SELECT doc_id, source, text,
        |  len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS n_tokens,
        |  len(text)::DOUBLE AS n_chars,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS punct,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t IN ('the','a','of','and','is')))::DOUBLE AS stop
        | FROM documents),
        |k AS (SELECT doc_id, source, text FROM m
        | WHERE n_tokens >= CAST(8.0 AS DOUBLE) AND n_tokens <= CAST(100000.0 AS DOUBLE)
        |  AND (n_chars - n_tokens + CAST(1.0 AS DOUBLE)) / n_tokens <= CAST(8.0 AS DOUBLE)
        |  AND punct / n_chars <= CAST(0.05 AS DOUBLE)
        |  AND stop / n_tokens >= CAST(0.02 AS DOUBLE)),
        |g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM k),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jac
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jac >= CAST(0.1 AS DOUBLE)),
        |dd AS (SELECT * FROM k WHERE doc_id NOT IN (SELECT db FROM p)),
        |d AS (SELECT source AS shard, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM dd),
        |c AS (SELECT shard, doc_id, toks,
        |  CAST(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM d)
        |SELECT shard, COUNT(*) AS n_docs,
        | CAST(MAX((cum - toks) // 512) AS BIGINT) AS last_seq,
        | CAST(SUM(toks) AS BIGINT) AS shard_tokens
        |FROM c GROUP BY shard ORDER BY shard""".stripMargin,
    "m4_shape_batches" ->
      """WITH p AS (SELECT doc_id,
        |  doc_id % 4 * 8 + 8 AS w, doc_id % 3 * 8 + 8 AS h FROM documents),
        |b AS (SELECT doc_id, w, h,
        |  9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
        |    + 3 * w * h AS byte_len FROM p)
        |SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        | COUNT(*) AS n_payloads,
        | CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
        | CAST((COUNT(*) + 63) // 64 AS BIGINT) AS n_batches
        |FROM b GROUP BY w, h ORDER BY width, height""".stripMargin,
    "e18_contract_dlq" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS input_value,
        | 'lineitem ingest contract' AS description,
        | 'graft.ContractViolation' AS error_class,
        | concat_ws(',',
        |   CASE WHEN l_quantity BETWEEN 1 AND 49 THEN NULL ELSE 'qty_range' END,
        |   CASE WHEN l_discount <= CAST(0.07 AS DOUBLE) THEN NULL ELSE 'disc_max' END,
        |   CASE WHEN l_extendedprice > 0 THEN NULL ELSE 'price_pos' END,
        |   CASE WHEN l_returnflag IN ('A','N','R') THEN NULL ELSE 'flag_known' END) AS message
        |FROM lineitem
        |WHERE CASE WHEN l_quantity BETWEEN 1 AND 49 AND l_discount <= CAST(0.07 AS DOUBLE)
        |  AND l_extendedprice > 0 AND l_returnflag IN ('A','N','R')
        |  THEN 0 ELSE 1 END = 1
        |ORDER BY input_value""".stripMargin,
    "d19_lsh_recall" ->
      """WITH sh AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS ts FROM documents),
        |ex AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jac
        | FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jac >= CAST(0.5 AS DOUBLE)),
        |toks AS (SELECT doc_id,
        |  list_reduce(list_transform(range(1, 8),
        |    i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) AS h
        |  FROM (SELECT doc_id, unnest(ts) AS tok FROM sh) t),
        |seeds AS (SELECT s, ((2*s + 1) * 2654435761) % 2147483647 AS a, s * 40503 + 1 AS b
        |          FROM (SELECT unnest(range(16)) AS s)),
        |sigs AS (
        |  SELECT doc_id, s, min((a * h + b) % 2147483647) AS mh
        |  FROM toks CROSS JOIN seeds GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 4 AS band, md5(string_agg(mh::VARCHAR, ',' ORDER BY s)) AS bandsig
        |  FROM sigs GROUP BY doc_id, s // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bandsig = b.bandsig AND a.doc_id < b.doc_id),
        |found AS (
        |  SELECT da, db FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
        |  WHERE len(list_intersect(x.ts, y.ts))::DOUBLE /
        |    (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))) >= CAST(0.5 AS DOUBLE)
        |   AND x.source = y.source),
        |hit AS (SELECT ex.da, ex.db FROM ex JOIN found ON ex.da = found.da AND ex.db = found.db)
        |SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
        |  (SELECT COUNT(*) FROM hit) AS n_found,
        |  (SELECT COUNT(*) FROM ex) - (SELECT COUNT(*) FROM hit) AS n_missed,
        |  CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) / CAST((SELECT COUNT(*) FROM ex) AS DOUBLE) AS recall""".stripMargin,
    "q38_unpivot" ->
      """WITH wide AS (
        | SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(COUNT(*) AS DOUBLE) AS n_lines
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        | SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        | UNION ALL
        | SELECT l_returnflag, 'sum_price', sum_price FROM wide
        | UNION ALL
        | SELECT l_returnflag, 'n_lines', n_lines FROM wide)
        |ORDER BY l_returnflag, metric""".stripMargin,
    // the iteration CTEs are generated (r1..r5); (1 - CAST(0.85 AS
    // DOUBLE)) mirrors Spark's lit(1.0) - lit(0.85) — never a bare
    // 0.15 literal, whose decimal parse differs from the subtraction
    "d20_pagerank" -> {
      val base =
        """WITH g AS (SELECT doc_id, source,
          |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
          |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
          | FROM documents),
          |p AS (SELECT a.doc_id AS da, b.doc_id AS db
          | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
          | WHERE len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) >= CAST(0.1 AS DOUBLE)),
          |e AS (SELECT da AS src, db AS dst FROM p UNION ALL SELECT db, da FROM p),
          |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
          |r0 AS (SELECT src AS v, CAST(1.0 AS DOUBLE) AS rank FROM deg)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""",
           |r$i AS (SELECT e.dst AS v,
           | (1 - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * list_reduce(
           |   list_prepend(CAST(0 AS DOUBLE), list_sort(list(r${i - 1}.rank / deg.deg))),
           |   (a, b) -> a + b) AS rank
           | FROM e JOIN deg ON e.src = deg.src JOIN r${i - 1} ON r${i - 1}.v = e.src
           | GROUP BY e.dst)""".stripMargin
      }.mkString
      base + iters + "\nSELECT v, rank FROM r5 ORDER BY v"
    },
    "q39_lateral" ->
      """SELECT c_custkey, c_name, o_orderkey AS last_orderkey,
        | CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS last_orderdate,
        | o_totalprice AS last_totalprice
        |FROM customer,
        | LATERAL (SELECT o_orderkey, o_orderdate, o_totalprice
        |   FROM orders WHERE o_custkey = c_custkey
        |   ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
        |   LIMIT 1) l
        |ORDER BY c_custkey""".stripMargin,
    "q40_recursive" ->
      """WITH RECURSIVE e AS (
        | SELECT doc_id // 2 AS parent, doc_id AS child FROM documents WHERE doc_id >= 2),
        |walk AS (
        | SELECT CAST(1 AS BIGINT) AS v, 0 AS depth
        | UNION ALL
        | SELECT e.child AS v, w.depth + 1 AS depth
        | FROM walk w JOIN e ON e.parent = w.v)
        |SELECT depth, COUNT(*) AS n_nodes, MIN(v) AS first_id, MAX(v) AS last_id
        |FROM walk GROUP BY depth ORDER BY depth""".stripMargin,
    "m5_modality_align" ->
      """SELECT
        | (SELECT COUNT(*) FROM documents d
        |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS n_doc_orphans,
        | (SELECT MIN(doc_id) FROM documents d
        |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS first_doc_orphan,
        | (SELECT MAX(doc_id) FROM documents d
        |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS last_doc_orphan,
        | (SELECT COUNT(*) FROM embeddings e
        |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) AS n_emb_orphans,
        | (SELECT MIN(vec_id) FROM embeddings e
        |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) AS first_emb_orphan""".stripMargin,
    "e19_burn_rate" ->
      """WITH e AS (SELECT props, epoch_us(ts) AS tus,
        |  CAST(regexp_extract(props, '[0-9]+') AS INT) AS k FROM events),
        |b AS (SELECT tus,
        |  CASE WHEN k % 11 = 0 THEN 'org.apache.spark.SparkNumberFormatException'
        |       WHEN k % 13 = 0 THEN 'org.apache.spark.SparkArrayIndexOutOfBoundsException'
        |       WHEN k % 7 = 0 THEN 'org.apache.spark.SparkArithmeticException' END AS error_class
        | FROM e WHERE k % 11 = 0 OR k % 13 = 0 OR k % 7 = 0),
        |n AS (SELECT MAX(tus) AS now FROM b),
        |agg AS (SELECT error_class,
        |  CAST(SUM(CASE WHEN tus > now - 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  CAST(SUM(CASE WHEN tus > now - 6 * 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
        | FROM b CROSS JOIN n GROUP BY error_class)
        |SELECT error_class, n_short, n_long,
        | (n_short > 1 AND n_long > 6) AS alert
        |FROM agg ORDER BY error_class""".stripMargin,
    "t16_unicode_norm" ->
      """SELECT doc_id,
        | md5(regexp_replace(text, 'a', chr(225), 'g')) =
        |  md5(regexp_replace(text, 'a', 'a' || chr(769), 'g')) AS raw_equal,
        | md5(nfc_normalize(regexp_replace(text, 'a', chr(225), 'g'))) =
        |  md5(nfc_normalize(regexp_replace(text, 'a', 'a' || chr(769), 'g'))) AS nfc_equal
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d21_cluster_purity" ->
      """WITH RECURSIVE g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE)),
        |e AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |r AS (
        | SELECT DISTINCT a AS node, a AS reach FROM e
        | UNION
        | SELECT r.node, e.b AS reach FROM r JOIN e ON r.reach = e.a),
        |c AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node),
        |sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM c GROUP BY cluster_id),
        |lp AS (SELECT c.cluster_id, p.jaccard FROM p JOIN c ON p.da = c.doc_id),
        |ag AS (SELECT cluster_id, COUNT(*) AS n_pairs,
        |  MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(jaccard))),
        |    (a, b) -> a + b) / COUNT(*) AS mean_jaccard
        | FROM lp GROUP BY cluster_id)
        |SELECT ag.cluster_id, CAST(sz.n_members AS BIGINT) AS n_members,
        | ag.n_pairs, ag.min_jaccard, ag.max_jaccard, ag.mean_jaccard
        |FROM ag JOIN sz USING (cluster_id) ORDER BY ag.cluster_id""".stripMargin,
    "s11_mrl_truncated" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |ap AS (
        | SELECT qid, vec_id,
        |  list_reduce(list_transform(range(1, 9), i -> qv[i]*v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv[1:8], x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(v[1:8], x -> x*x), (x,y) -> x+y))) AS approx_cos
        | FROM q JOIN e ON qid <> vec_id),
        |sh AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id,
        |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_cos DESC, vec_id ASC) AS rn
        |  FROM ap) WHERE rn <= 20),
        |re AS (
        | SELECT sh.qid, sh.vec_id,
        |  list_reduce(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*e.v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(q.qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(e.v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM sh JOIN e ON sh.vec_id = e.vec_id JOIN q ON sh.qid = q.qid)
        |SELECT qid, rank, vec_id, cosine FROM (
        | SELECT qid, vec_id, cosine,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        | FROM re) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "p18_bootstrap" -> {
      val draws = (1 to 8).map(i =>
        s"(CASE WHEN substr(h, $i, 1) < '2' THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH hh AS (
         | SELECT o_orderkey, o_totalprice, replica,
         |  md5('graft:' || CAST(replica AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)) AS h
         | FROM orders CROSS JOIN (SELECT unnest(range(1, 6)) AS replica)),
         |w AS (
         | SELECT o_orderkey, o_totalprice, replica,
         |  $draws AS weight
         | FROM hh)
         |SELECT CAST(replica AS INT) AS replica, CAST(SUM(weight) AS BIGINT) AS n_eff,
         | CAST(SUM(CAST(weight AS DECIMAL(2,0)) * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         |FROM w GROUP BY replica ORDER BY replica""".stripMargin
    },
    "q41_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,
    "t17_fertility" ->
      """WITH tc AS (SELECT doc_id, lang, n_chars,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens
        | FROM documents)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
        | CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(ws_tokens) AS DOUBLE) AS fertility_ws,
        | CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(re_tokens) AS DOUBLE) AS fertility_re
        |FROM tc GROUP BY lang ORDER BY lang""".stripMargin,
    // the sorted-fold + round(6) determinism pattern (t14); the floor
    // constant −ln(N+1) is built from the same ops as the Spark side
    "t18_perplexity" ->
      """WITH ts AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
        |  SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM ts)),
        |bi AS (SELECT w1, w2, COUNT(*) AS c FROM bg WHERE doc_id % 5 <> 0 GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c_ctx FROM bi GROUP BY w1),
        |lm AS (SELECT bi.w1, bi.w2,
        |  ln(CAST(bi.c AS DOUBLE) / CAST(ctx.c_ctx AS DOUBLE)) AS lnp
        | FROM bi JOIN ctx ON bi.w1 = ctx.w1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_train FROM bi),
        |sc AS (SELECT bg.doc_id,
        |  COALESCE(lm.lnp, -ln(CAST(tot.n_train + 1 AS DOUBLE))) AS lnp_eff,
        |  CASE WHEN lm.lnp IS NULL THEN 1 ELSE 0 END AS unseen
        | FROM bg LEFT JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2 CROSS JOIN tot),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(unseen) AS BIGINT) AS n_unseen,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(lnp_eff))),
        |   (a, b) -> a + b) AS s
        | FROM sc GROUP BY doc_id),
        |h AS (SELECT doc_id, n_bigrams, n_unseen,
        |  round(greatest(CAST(0 AS DOUBLE),
        |    (CAST(0 AS DOUBLE) - s) / CAST(n_bigrams AS DOUBLE)), 6) AS cross_entropy
        | FROM agg)
        |SELECT doc_id, n_bigrams, n_unseen, cross_entropy,
        | round(exp(cross_entropy), 6) AS perplexity
        |FROM h ORDER BY doc_id""".stripMargin,
    "d22_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events),
        |g AS (SELECT user_id, event_type, tus, event_id,
        |  ROW_NUMBER() OVER w AS rn, lag(event_type) OVER w AS prev
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |c AS (SELECT user_id, event_type, tus, event_id FROM g
        | WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type,
        |  ROW_NUMBER() OVER w2 AS version, tus AS effective_from,
        |  lead(tus) OVER w2 AS effective_to
        | FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id))
        |SELECT user_id, event_type, version, effective_from, effective_to,
        | effective_to IS NULL AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,
    // PIT join: d22's scd2 CTEs, then the independent BETWEEN-on-
    // validity-bounds formulation of the lookup the as-of pass computes
    "q50_temporal_join" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events),
        |g AS (SELECT user_id, event_type, tus, event_id,
        |  ROW_NUMBER() OVER w AS rn, lag(event_type) OVER w AS prev
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |c AS (SELECT user_id, event_type, tus, event_id FROM g
        | WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type AS state,
        |  ROW_NUMBER() OVER w2 AS version, tus AS effective_from,
        |  lead(tus) OVER w2 AS effective_to
        | FROM c WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |f AS (SELECT user_id, event_id, tus - 1 AS t FROM e
        | WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, v.state, CAST(v.version AS BIGINT) AS version
        |FROM f LEFT JOIN v ON v.user_id = f.user_id
        |  AND v.effective_from <= f.t
        |  AND (v.effective_to IS NULL OR f.t < v.effective_to)
        |ORDER BY f.user_id, f.event_id""".stripMargin,
    // pure IEEE multiply/add fold in identical order on both engines
    // (alpha 0.25 and 0.75 are exact doubles): hash-equal, no round()
    "q42_ewma" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, value FROM events),
        |g AS (SELECT user_id, COUNT(*) AS n_obs,
        |  list_transform(list_sort(list({'tus': tus, 'event_id': event_id, 'value': value})),
        |   z -> z.value) AS vs
        | FROM e GROUP BY user_id)
        |SELECT user_id, n_obs, vs[len(vs)] AS last_value,
        | list_reduce(vs, (a, b) -> CAST(0.25 AS DOUBLE) * b + CAST(0.75 AS DOUBLE) * a) AS ewma
        |FROM g ORDER BY user_id""".stripMargin,
    // width and edges built from the SAME IEEE ops as the Spark side
    // (the d20 derived-constant rule); floor agrees on both engines
    "x10_histogram" ->
      """WITH w AS (SELECT (CAST(600000 AS DOUBLE) - CAST(0 AS DOUBLE)) / CAST(20 AS DOUBLE) AS width),
        |b AS (SELECT CAST(least(greatest(
        |   floor((o_totalprice - CAST(0 AS DOUBLE)) / w.width), 0), 19) AS BIGINT) AS bucket,
        |  o_totalprice, w.width
        | FROM orders CROSS JOIN w),
        |g AS (SELECT bucket, ANY_VALUE(width) AS width, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        | FROM b GROUP BY bucket)
        |SELECT bucket,
        | CAST(0 AS DOUBLE) + CAST(bucket AS DOUBLE) * width AS bucket_lo,
        | CAST(0 AS DOUBLE) + CAST(bucket + 1 AS DOUBLE) * width AS bucket_hi,
        | n, sum_value
        |FROM g ORDER BY bucket""".stripMargin,
    "t19_freq_spectrum" ->
      """WITH tc AS (
        | SELECT tok, COUNT(*) AS c FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents)
        | GROUP BY tok)
        |SELECT c, COUNT(*) AS n_types, c * COUNT(*) AS mass
        |FROM tc GROUP BY c ORDER BY c""".stripMargin,
    // the oracle states the SEMANTICS (all pairs within hamming <= 7),
    // not the banding — pigeonhole makes the LSH exact below `bands`
    // while no bucket exceeds the cap (the d14 caveat). phash pixels
    // are rebuilt with the SAME IEEE/int ops as the Spark side.
    "m6_phash_neardup" ->
      """SELECT a.doc_id AS da, b.doc_id AS db, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 10 = 0 ORDER BY da, db""".stripMargin,
    // m6's capacity twin: identical planted-pair semantics through the
    // 126-bit aHash || dHash signature and 9 x 14-bit bands — the pair
    // list is the same analytic set (byte-identical payloads -> both
    // digests equal -> hamming 0; distinct seeds already exceed 7 on
    // the aHash half alone, so widening can only push them further out)
    "m12_phash_wide" ->
      """SELECT a.doc_id AS da, b.doc_id AS db, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 10 = 0 ORDER BY da, db""".stripMargin,
    // m9's PCM synthesis restated, then the integer energy gate and
    // the islands trick — every output column an exact integer.
    "m13_activity_segments" ->
      """WITH d AS (SELECT doc_id, doc_id % 40 * 31 + 300 AS ns FROM documents),
        |hxs AS (SELECT doc_id, ns,
        |  list_aggregate(list_transform(range(0, (2 * ns + 15) // 16), b ->
        |    md5('au:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))),
        |   'string_agg', '') AS hx
        | FROM d),
        |smp AS (SELECT doc_id, ns, list_transform(range(0, ns), i ->
        |   TRY_CAST('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2) AS INT)
        |   + 256 * TRY_CAST('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2) AS INT)
        |   - CASE WHEN TRY_CAST('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2) AS INT) >= 128
        |          THEN 65536 ELSE 0 END) AS smp
        | FROM hxs),
        |w AS (SELECT doc_id, ns, smp, unnest(range(0, (ns + 255) // 256)) AS win
        | FROM smp),
        |sub AS (SELECT doc_id, win,
        |  smp[CAST(win * 256 + 1 AS INT):CAST(least((win + 1) * 256, ns) AS INT)] AS s
        | FROM w),
        |en AS (SELECT doc_id, CAST(win AS BIGINT) AS win,
        |  CAST(len(s) AS BIGINT) AS n_samples,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(s, x -> CAST(x AS BIGINT) * x)), (a, b) -> a + b) AS energy
        | FROM sub),
        |act AS (SELECT * FROM en WHERE energy > 357913941 * n_samples),
        |isl AS (SELECT *, win - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win) AS g
        | FROM act)
        |SELECT doc_id, MIN(win) AS seg_start, MAX(win) AS seg_end,
        | COUNT(*) AS n_windows, CAST(SUM(n_samples) AS BIGINT) AS seg_samples,
        | CAST(SUM(energy) AS BIGINT) AS seg_energy
        |FROM isl GROUP BY doc_id, g ORDER BY doc_id, seg_start""".stripMargin,
    // TextRank replayed: integer overlaps/sizes, round(9)ed lns, ONE
    // division per weight and per factor, and every PageRank round a
    // sorted list fold — the d20 discipline, weighted; isolated chunks
    // keep the (1 − d) fixed point built from the same ops.
    "t35_textrank" -> {
      val base =
        """WITH tk0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
          |tk AS (SELECT doc_id, CAST((i - 1) // 10 AS BIGINT) AS chunk,
          |   CAST(i - 1 AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tk0)),
          |ct AS (SELECT doc_id, chunk,
          |   array_to_string(list(tok ORDER BY pos), ' ') AS summary
          |  FROM tk GROUP BY doc_id, chunk),
          |dt AS (SELECT DISTINCT doc_id, chunk, tok FROM tk),
          |ndt AS (SELECT doc_id, chunk, COUNT(*) AS nd FROM dt GROUP BY doc_id, chunk),
          |ed AS (SELECT a.doc_id AS did, a.chunk AS ca, b.chunk AS cb, COUNT(*) AS ov
          |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok = b.tok
          |    AND a.chunk <> b.chunk
          |  GROUP BY 1, 2, 3),
          |wts AS (SELECT did, ca, cb, CAST(ov AS DOUBLE) /
          |    (round(ln(CAST(na.nd + 1 AS DOUBLE)), 9)
          |     + round(ln(CAST(nb.nd + 1 AS DOUBLE)), 9)) AS w
          |  FROM ed JOIN ndt na ON na.doc_id = ed.did AND na.chunk = ed.ca
          |       JOIN ndt nb ON nb.doc_id = ed.did AND nb.chunk = ed.cb),
          |ws AS (SELECT did, ca, list_reduce(list_prepend(CAST(0 AS DOUBLE),
          |    list_sort(list(w))), (a, b) -> a + b) AS wsum
          |  FROM wts GROUP BY did, ca),
          |fct AS (SELECT wts.did, wts.ca, wts.cb, w / wsum AS f
          |  FROM wts JOIN ws ON ws.did = wts.did AND ws.ca = wts.ca),
          |r0 AS (SELECT doc_id AS did, chunk AS v, CAST(1.0 AS DOUBLE) AS rank FROM ndt)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""",
           |r$i AS (SELECT fct.did, fct.cb AS v,
           | (1 - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * list_reduce(
           |   list_prepend(CAST(0 AS DOUBLE), list_sort(list(fct.f * r${i - 1}.rank))),
           |   (a, b) -> a + b) AS rank
           | FROM fct JOIN r${i - 1} ON r${i - 1}.did = fct.did AND r${i - 1}.v = fct.ca
           | GROUP BY fct.did, fct.cb)""".stripMargin
      }.mkString
      val tail =
        """,
          |fin AS (SELECT ndt.doc_id, ndt.chunk,
          |   COALESCE(r5.rank, 1 - CAST(0.85 AS DOUBLE)) AS rank
          |  FROM ndt LEFT JOIN r5 ON r5.did = ndt.doc_id AND r5.v = ndt.chunk),
          |rk AS (SELECT doc_id, chunk, rank,
          |   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
          |     ORDER BY rank DESC, chunk ASC) AS BIGINT) AS srank
          |  FROM fin)
          |SELECT rk.doc_id, srank, rk.chunk, rank, ct.summary
          |FROM rk JOIN ct ON ct.doc_id = rk.doc_id AND ct.chunk = rk.chunk
          |WHERE srank <= 2
          |ORDER BY rk.doc_id, srank""".stripMargin
      base + iters + tail
    },
    // p25's scoring CTEs, then the Gumbel key: u exact from 13 md5 hex
    // chars over 2^52, nested lns round(9)ed ONCE (generic double),
    // one addition; ties on doc_id.
    "p26_dsir_resample" ->
      """WITH toks0 AS (SELECT doc_id, lang = 'en' AS tgt,
        |   unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |toks AS (SELECT doc_id, tgt, substr(md5(tok), 1, 2) AS bucket FROM toks0),
        |bt AS (SELECT bucket, COUNT(*) AS cr,
        |   CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM toks GROUP BY bucket),
        |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt FROM bt),
        |lr AS (SELECT bucket,
        |   CAST(round(ln(CAST(ct + 1 AS DOUBLE) * CAST(nr + 256 AS DOUBLE)
        |     / (CAST(cr + 1 AS DOUBLE) * CAST(nt + 256 AS DOUBLE))), 9) AS DECIMAL(20,9)) AS term
        |  FROM bt CROSS JOIN tot),
        |scored AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(term) AS lw
        |  FROM toks JOIN lr ON toks.bucket = lr.bucket GROUP BY doc_id),
        |keyed AS (SELECT doc_id, n_tokens, CAST(lw AS DOUBLE) AS log_weight,
        |   CAST(lw AS DOUBLE) + round(-ln(-ln(
        |     (CAST(TRY_CAST('0x' || substr(md5('gum:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) / CAST(4503599627370496 AS DOUBLE))), 9) AS gumbel_key
        |  FROM scored)
        |SELECT doc_id, n_tokens, log_weight, gumbel_key FROM keyed
        |ORDER BY gumbel_key DESC, doc_id ASC LIMIT 25""".stripMargin,
    // both stages restated: the same IEEE quantization, exact integer
    // dots (scales cancel in the cosine ratio), candidate boundary and
    // final ranks tie-broken on vec_id, exact re-rank = the s1 formula.
    "s17_sq8_rerank" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v, list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |   list_transform(v, x -> abs(x))), (a, b) -> greatest(a, b)) AS scale FROM e),
        |q8 AS (SELECT vec_id, v, list_transform(v, x -> CASE WHEN scale > 0
        |   THEN CAST(floor(x / scale * 127.0 + 0.5) AS INT) ELSE 0 END) AS q FROM sc),
        |qd AS (SELECT vec_id, v, q, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(q, x -> CAST(x AS BIGINT) * x)), (a, b) -> a + b) AS sdot FROM q8),
        |qs AS (SELECT vec_id AS qid, v AS qv, q AS qq, sdot AS qdot FROM qd
        |  WHERE vec_id < 10 AND sdot > 0),
        |core AS (SELECT vec_id, v, q, sdot AS vdot FROM qd WHERE sdot > 0),
        |coarse AS (SELECT qid, vec_id, qv, v,
        |   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |     list_transform(range(1, len(qq) + 1),
        |       i -> CAST(qq[CAST(i AS INT)] AS BIGINT) * q[CAST(i AS INT)])),
        |     (a, b) -> a + b) AS DOUBLE)
        |    / (sqrt(CAST(qdot AS DOUBLE)) * sqrt(CAST(vdot AS DOUBLE))) AS approx
        |  FROM qs JOIN core ON qid <> vec_id),
        |cand AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |   ORDER BY approx DESC, vec_id ASC) AS crank FROM coarse),
        |exact AS (SELECT qid, vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))) AS cosine
        |  FROM cand WHERE crank <= 32),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM exact)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // the JL ±1 matrix re-derived from md5 in SQL; each projected
    // coordinate is the same 0.0-init left fold of exact ±x_i terms,
    // then the s1 cosine/rank formulation over the 16-dim lists.
    "s16_jl_projection" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |p AS (SELECT vec_id, list_transform(range(0, 16), j ->
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i ->
        |     v[CAST(i AS INT)] * (CASE WHEN substr(md5('jl:' || CAST(j AS VARCHAR) || ':'
        |         || CAST(i - 1 AS VARCHAR)), 1, 1) < '8'
        |       THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END))),
        |    (x, y) -> x + y)) AS pv
        |  FROM e),
        |q AS (SELECT vec_id AS qid, pv AS qv FROM p WHERE vec_id < 10),
        |scored AS (SELECT qid, vec_id,
        |  list_reduce(list_transform(range(1, 17), i -> qv[CAST(i AS INT)] * pv[CAST(i AS INT)]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(pv, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN p ON qid <> vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // the GD loop unrolled: per round one sigmoid projection (round(9)
    // absorbing exp ulp), gradient sums as round(8) DECIMAL(20,8) —
    // order-independent — and the weight update the same three double
    // ops the Spark driver applies. Accuracy counts at INPUT weights.
    "t34_quality_classifier" ->
      """WITH tk AS (SELECT doc_id,
        |   CASE WHEN n_chars > 400 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y,
        |   unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |tc AS (SELECT doc_id, y, tok, COUNT(*) AS c, len(tok) AS tl
        |  FROM tk GROUP BY doc_id, y, tok),
        |raw AS (SELECT doc_id, y,
        |   CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS r1,
        |   CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS r2,
        |   CAST(SUM(c * tl) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS r3
        |  FROM tc GROUP BY doc_id, y),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |   SUM(CAST(round(r1, 9) AS DECIMAL(20,9))) AS sa1,
        |   SUM(CAST(round(r1 * r1, 9) AS DECIMAL(20,9))) AS sb1,
        |   SUM(CAST(round(r2, 9) AS DECIMAL(20,9))) AS sa2,
        |   SUM(CAST(round(r2 * r2, 9) AS DECIMAL(20,9))) AS sb2,
        |   SUM(CAST(round(r3, 9) AS DECIMAL(20,9))) AS sa3,
        |   SUM(CAST(round(r3 * r3, 9) AS DECIMAL(20,9))) AS sb3
        |  FROM raw),
        |ms AS (SELECT n,
        |   CAST(sa1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
        |   CAST(sa2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
        |   CAST(sa3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
        |   CAST(sb1 AS DOUBLE) / CAST(n AS DOUBLE) AS v1,
        |   CAST(sb2 AS DOUBLE) / CAST(n AS DOUBLE) AS v2,
        |   CAST(sb3 AS DOUBLE) / CAST(n AS DOUBLE) AS v3
        |  FROM st),
        |sdv AS (SELECT n, m1, m2, m3,
        |   sqrt(v1 - m1 * m1) AS d1, sqrt(v2 - m2 * m2) AS d2, sqrt(v3 - m3 * m3) AS d3
        |  FROM ms),
        |f AS (SELECT doc_id, y,
        |   (r1 - m1) / d1 AS x1, (r2 - m2) / d2 AS x2, (r3 - m3) / d3 AS x3
        |  FROM raw CROSS JOIN sdv),
        |wz AS (SELECT CAST(0 AS DOUBLE) AS a0, CAST(0 AS DOUBLE) AS a1,
        |   CAST(0 AS DOUBLE) AS a2, CAST(0 AS DOUBLE) AS a3),
        |sg1 AS (SELECT y, x1, x2, x3,
        |   CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |     + exp(-(((a0 + a1 * x1) + a2 * x2) + a3 * x3))) AS ph
        |  FROM f CROSS JOIN wz),
        |gr1 AS (SELECT
        |   SUM(CAST(round(ph - y, 9) AS DECIMAL(20,9))) AS g0,
        |   SUM(CAST(round((ph - y) * x1, 9) AS DECIMAL(20,9))) AS g1,
        |   SUM(CAST(round((ph - y) * x2, 9) AS DECIMAL(20,9))) AS g2,
        |   SUM(CAST(round((ph - y) * x3, 9) AS DECIMAL(20,9))) AS g3,
        |   CAST(SUM(CASE WHEN (ph >= CAST(0.5 AS DOUBLE)) = (y = CAST(1 AS DOUBLE))
        |     THEN 1 ELSE 0 END) AS BIGINT) AS nc FROM sg1),
        |u1 AS (SELECT
        |   a0 - CAST(2.0 AS DOUBLE) * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS a0,
        |   a1 - CAST(2.0 AS DOUBLE) * (CAST(g1 AS DOUBLE) / CAST(n AS DOUBLE)) AS a1,
        |   a2 - CAST(2.0 AS DOUBLE) * (CAST(g2 AS DOUBLE) / CAST(n AS DOUBLE)) AS a2,
        |   a3 - CAST(2.0 AS DOUBLE) * (CAST(g3 AS DOUBLE) / CAST(n AS DOUBLE)) AS a3
        |  FROM gr1 CROSS JOIN wz CROSS JOIN sdv),
        |sg2 AS (SELECT y, x1, x2, x3,
        |   CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |     + exp(-(((a0 + a1 * x1) + a2 * x2) + a3 * x3))) AS ph
        |  FROM f CROSS JOIN u1),
        |gr2 AS (SELECT
        |   SUM(CAST(round(ph - y, 9) AS DECIMAL(20,9))) AS g0,
        |   SUM(CAST(round((ph - y) * x1, 9) AS DECIMAL(20,9))) AS g1,
        |   SUM(CAST(round((ph - y) * x2, 9) AS DECIMAL(20,9))) AS g2,
        |   SUM(CAST(round((ph - y) * x3, 9) AS DECIMAL(20,9))) AS g3,
        |   CAST(SUM(CASE WHEN (ph >= CAST(0.5 AS DOUBLE)) = (y = CAST(1 AS DOUBLE))
        |     THEN 1 ELSE 0 END) AS BIGINT) AS nc FROM sg2),
        |u2 AS (SELECT
        |   a0 - CAST(2.0 AS DOUBLE) * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS a0,
        |   a1 - CAST(2.0 AS DOUBLE) * (CAST(g1 AS DOUBLE) / CAST(n AS DOUBLE)) AS a1,
        |   a2 - CAST(2.0 AS DOUBLE) * (CAST(g2 AS DOUBLE) / CAST(n AS DOUBLE)) AS a2,
        |   a3 - CAST(2.0 AS DOUBLE) * (CAST(g3 AS DOUBLE) / CAST(n AS DOUBLE)) AS a3
        |  FROM gr2 CROSS JOIN u1 CROSS JOIN sdv),
        |sg3 AS (SELECT y, x1, x2, x3,
        |   CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |     + exp(-(((a0 + a1 * x1) + a2 * x2) + a3 * x3))) AS ph
        |  FROM f CROSS JOIN u2),
        |gr3 AS (SELECT
        |   SUM(CAST(round(ph - y, 9) AS DECIMAL(20,9))) AS g0,
        |   SUM(CAST(round((ph - y) * x1, 9) AS DECIMAL(20,9))) AS g1,
        |   SUM(CAST(round((ph - y) * x2, 9) AS DECIMAL(20,9))) AS g2,
        |   SUM(CAST(round((ph - y) * x3, 9) AS DECIMAL(20,9))) AS g3,
        |   CAST(SUM(CASE WHEN (ph >= CAST(0.5 AS DOUBLE)) = (y = CAST(1 AS DOUBLE))
        |     THEN 1 ELSE 0 END) AS BIGINT) AS nc FROM sg3),
        |u3 AS (SELECT
        |   a0 - CAST(2.0 AS DOUBLE) * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS a0,
        |   a1 - CAST(2.0 AS DOUBLE) * (CAST(g1 AS DOUBLE) / CAST(n AS DOUBLE)) AS a1,
        |   a2 - CAST(2.0 AS DOUBLE) * (CAST(g2 AS DOUBLE) / CAST(n AS DOUBLE)) AS a2,
        |   a3 - CAST(2.0 AS DOUBLE) * (CAST(g3 AS DOUBLE) / CAST(n AS DOUBLE)) AS a3
        |  FROM gr3 CROSS JOIN u2 CROSS JOIN sdv),
        |sg4 AS (SELECT y, x1, x2, x3,
        |   CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |     + exp(-(((a0 + a1 * x1) + a2 * x2) + a3 * x3))) AS ph
        |  FROM f CROSS JOIN u3),
        |gr4 AS (SELECT
        |   SUM(CAST(round(ph - y, 9) AS DECIMAL(20,9))) AS g0,
        |   SUM(CAST(round((ph - y) * x1, 9) AS DECIMAL(20,9))) AS g1,
        |   SUM(CAST(round((ph - y) * x2, 9) AS DECIMAL(20,9))) AS g2,
        |   SUM(CAST(round((ph - y) * x3, 9) AS DECIMAL(20,9))) AS g3,
        |   CAST(SUM(CASE WHEN (ph >= CAST(0.5 AS DOUBLE)) = (y = CAST(1 AS DOUBLE))
        |     THEN 1 ELSE 0 END) AS BIGINT) AS nc FROM sg4),
        |u4 AS (SELECT
        |   a0 - CAST(2.0 AS DOUBLE) * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS a0,
        |   a1 - CAST(2.0 AS DOUBLE) * (CAST(g1 AS DOUBLE) / CAST(n AS DOUBLE)) AS a1,
        |   a2 - CAST(2.0 AS DOUBLE) * (CAST(g2 AS DOUBLE) / CAST(n AS DOUBLE)) AS a2,
        |   a3 - CAST(2.0 AS DOUBLE) * (CAST(g3 AS DOUBLE) / CAST(n AS DOUBLE)) AS a3
        |  FROM gr4 CROSS JOIN u3 CROSS JOIN sdv)
        |SELECT CAST(1 AS BIGINT) AS round, gr1.nc AS n_correct,
        |  u1.a0 AS w0, u1.a1 AS w1, u1.a2 AS w2, u1.a3 AS w3 FROM gr1 CROSS JOIN u1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), gr2.nc, u2.a0, u2.a1, u2.a2, u2.a3 FROM gr2 CROSS JOIN u2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), gr3.nc, u3.a0, u3.a1, u3.a2, u3.a3 FROM gr3 CROSS JOIN u3
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), gr4.nc, u4.a0, u4.a1, u4.a2, u4.a3 FROM gr4 CROSS JOIN u4
        |ORDER BY round""".stripMargin,
    // DSIR restated literally: the same add-1-smoothed bucket LMs over
    // md5-prefix buckets, ONE ln per bucket round(9)ed into
    // DECIMAL(20,9) so the per-doc sum is order-independent (the t20
    // discipline); selection ties break on doc_id.
    "p25_dsir_select" ->
      """WITH toks0 AS (SELECT doc_id, lang = 'en' AS tgt,
        |   unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |toks AS (SELECT doc_id, tgt, substr(md5(tok), 1, 2) AS bucket FROM toks0),
        |bt AS (SELECT bucket, COUNT(*) AS cr,
        |   CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM toks GROUP BY bucket),
        |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt FROM bt),
        |lr AS (SELECT bucket,
        |   CAST(round(ln(CAST(ct + 1 AS DOUBLE) * CAST(nr + 256 AS DOUBLE)
        |     / (CAST(cr + 1 AS DOUBLE) * CAST(nt + 256 AS DOUBLE))), 9) AS DECIMAL(20,9)) AS term
        |  FROM bt CROSS JOIN tot),
        |scored AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(term) AS lw
        |  FROM toks JOIN lr ON toks.bucket = lr.bucket GROUP BY doc_id)
        |SELECT doc_id, n_tokens, CAST(lw AS DOUBLE) AS log_weight
        |FROM scored ORDER BY log_weight DESC, doc_id ASC LIMIT 25""".stripMargin,
    // the golden twin m6's analytic oracle lost (ADVICE r8): DuckDB
    // re-derives the stub 64-sample aHash with the same IEEE/int ops
    // (floor-scaled hex sampling, integer mean via >>6, bits 0–62)
    // DCT pHash golden: gray64 of an 8x8 PPM is its pixels (ascii of
    // the md5-hex payload chars), the cosine table is the SAME literal
    // doubles as the Scala source, every dot product the same strict
    // left fold - hash values compare exactly, no tolerance
    "m11_phash_dct" ->
      """WITH d AS (SELECT doc_id,
        |  substr(md5('img11:' || CAST(doc_id AS VARCHAR) || ':0') || md5('img11:' || CAST(doc_id AS VARCHAR) || ':1') || md5('img11:' || CAST(doc_id AS VARCHAR) || ':2') || md5('img11:' || CAST(doc_id AS VARCHAR) || ':3') || md5('img11:' || CAST(doc_id AS VARCHAR) || ':4') || md5('img11:' || CAST(doc_id AS VARCHAR) || ':5'), 1, 192) AS px
        | FROM documents),
        |gg AS (SELECT doc_id, list_transform(range(0, 64), i ->
        |   (ascii(substr(px, CAST(3 * i + 1 AS INT), 1))
        |    + ascii(substr(px, CAST(3 * i + 2 AS INT), 1))
        |    + ascii(substr(px, CAST(3 * i + 3 AS INT), 1))) // 3) AS g
        | FROM d),
        |ctt AS (SELECT [
        |  [CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE)],
        |  [CAST('0.9807852804032304' AS DOUBLE), CAST('0.8314696123025452' AS DOUBLE), CAST('0.5555702330196023' AS DOUBLE), CAST('0.19509032201612833' AS DOUBLE), CAST('-0.1950903220161282' AS DOUBLE), CAST('-0.555570233019602' AS DOUBLE), CAST('-0.8314696123025453' AS DOUBLE), CAST('-0.9807852804032304' AS DOUBLE)],
        |  [CAST('0.9238795325112867' AS DOUBLE), CAST('0.38268343236508984' AS DOUBLE), CAST('-0.3826834323650897' AS DOUBLE), CAST('-0.9238795325112867' AS DOUBLE), CAST('-0.9238795325112868' AS DOUBLE), CAST('-0.38268343236509034' AS DOUBLE), CAST('0.38268343236509' AS DOUBLE), CAST('0.9238795325112865' AS DOUBLE)],
        |  [CAST('0.8314696123025452' AS DOUBLE), CAST('-0.1950903220161282' AS DOUBLE), CAST('-0.9807852804032304' AS DOUBLE), CAST('-0.5555702330196022' AS DOUBLE), CAST('0.5555702330196018' AS DOUBLE), CAST('0.9807852804032304' AS DOUBLE), CAST('0.19509032201612878' AS DOUBLE), CAST('-0.8314696123025451' AS DOUBLE)]] AS ct),
        |co AS (SELECT doc_id,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[1][CAST(i // 8 AS INT) + 1] * ct[1][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS dc,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[1][CAST(i // 8 AS INT) + 1] * ct[2][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c1,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[1][CAST(i // 8 AS INT) + 1] * ct[3][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c2,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[1][CAST(i // 8 AS INT) + 1] * ct[4][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c3,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[2][CAST(i // 8 AS INT) + 1] * ct[1][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c4,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[2][CAST(i // 8 AS INT) + 1] * ct[2][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c5,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[2][CAST(i // 8 AS INT) + 1] * ct[3][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c6,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[2][CAST(i // 8 AS INT) + 1] * ct[4][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c7,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[3][CAST(i // 8 AS INT) + 1] * ct[1][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c8,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[3][CAST(i // 8 AS INT) + 1] * ct[2][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c9,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[3][CAST(i // 8 AS INT) + 1] * ct[3][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c10,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[3][CAST(i // 8 AS INT) + 1] * ct[4][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c11,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[4][CAST(i // 8 AS INT) + 1] * ct[1][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c12,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[4][CAST(i // 8 AS INT) + 1] * ct[2][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c13,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[4][CAST(i // 8 AS INT) + 1] * ct[3][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c14,
        |   list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), i -> g[CAST(i AS INT) + 1] * ct[4][CAST(i // 8 AS INT) + 1] * ct[4][CAST(i % 8 AS INT) + 1])), (a, b) -> a + b) AS c15
        | FROM gg, ctt),
        |mm AS (SELECT *, (c1 + c2 + c3 + c4 + c5 + c6 + c7 + c8 + c9 + c10 + c11 + c12 + c13 + c14 + c15) / CAST(15 AS DOUBLE) AS m FROM co)
        |SELECT doc_id, CAST(dc AS BIGINT) AS dc,
        | ((CASE WHEN c1 > m THEN CAST(2 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c2 > m THEN CAST(4 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c3 > m THEN CAST(8 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c4 > m THEN CAST(16 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c5 > m THEN CAST(32 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c6 > m THEN CAST(64 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c7 > m THEN CAST(128 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c8 > m THEN CAST(256 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c9 > m THEN CAST(512 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c10 > m THEN CAST(1024 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c11 > m THEN CAST(2048 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c12 > m THEN CAST(4096 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c13 > m THEN CAST(8192 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c14 > m THEN CAST(16384 AS BIGINT) ELSE CAST(0 AS BIGINT) END) | (CASE WHEN c15 > m THEN CAST(32768 AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS phash
        |FROM mm ORDER BY doc_id""".stripMargin,
    // FFD replayed as the SAME fold the Scala pass runs: state is a
    // LIST [caps, bins, [toks]] (DuckDB 1.0 list_reduce mis-folds
    // STRUCT accumulators; lists fold correctly - the t31 discipline),
    // docs sorted (toks DESC, doc_id), budget 200, all-integer
    "p24_ffd_pack" ->
      """WITH d AS (SELECT source AS shard, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |s AS (SELECT shard,
        |  list(struct_pack(doc_id := doc_id, toks := toks) ORDER BY toks DESC, doc_id) AS ds
        | FROM d GROUP BY shard),
        |f AS (SELECT shard, ds,
        |  list_reduce(list_prepend(
        |    [CAST([] AS BIGINT[]), CAST([] AS BIGINT[]), [CAST(0 AS BIGINT)]],
        |    list_transform(ds, x ->
        |      [CAST([] AS BIGINT[]), CAST([] AS BIGINT[]), [CAST(x.toks AS BIGINT)]])),
        |   (acc, x) -> CASE
        |     WHEN len(list_filter(range(1, len(acc[1]) + 1),
        |            i -> acc[1][CAST(i AS INT)] >= x[3][1])) = 0
        |     THEN [list_append(acc[1], CAST(200 AS BIGINT) - x[3][1]),
        |           list_append(acc[2], CAST(len(acc[1]) + 1 AS BIGINT)),
        |           [CAST(0 AS BIGINT)]]
        |     ELSE [list_transform(range(1, len(acc[1]) + 1), i ->
        |             CASE WHEN i = list_filter(range(1, len(acc[1]) + 1),
        |                    j -> acc[1][CAST(j AS INT)] >= x[3][1])[1]
        |                  THEN acc[1][CAST(i AS INT)] - x[3][1]
        |                  ELSE acc[1][CAST(i AS INT)] END),
        |           list_append(acc[2],
        |             CAST(list_filter(range(1, len(acc[1]) + 1),
        |               j -> acc[1][CAST(j AS INT)] >= x[3][1])[1] AS BIGINT)),
        |           [CAST(0 AS BIGINT)]] END) AS st
        | FROM s)
        |SELECT shard, ds[CAST(j AS INT)].doc_id AS doc_id,
        | ds[CAST(j AS INT)].toks AS toks, st[2][CAST(j AS INT)] AS bin
        |FROM f, unnest(range(1, len(ds) + 1)) AS u(j)
        |ORDER BY shard, doc_id""".stripMargin,
    "m8_phash_golden" ->
      """WITH d AS (SELECT doc_id, hex(encode('g:' || text)) AS hx,
        |  CAST(octet_length(encode('g:' || text)) AS BIGINT) AS len
        | FROM documents WHERE doc_id % 10 = 0),
        |px AS (SELECT doc_id, list_transform(range(0, 64), i ->
        |   CAST(COALESCE(TRY_CAST('0x' || substr(hx,
        |     CAST(CAST(floor(CAST(len AS DOUBLE) * CAST(i AS DOUBLE) / CAST(64 AS DOUBLE)) AS BIGINT) * 2 + 1 AS INT),
        |     2) AS INT), 0) AS BIGINT)) AS p
        | FROM d),
        |m AS (SELECT doc_id, p, (CAST(list_sum(p) AS BIGINT) >> 6) AS mean FROM px),
        |h AS (SELECT doc_id, list_aggregate(list_transform(range(0, 63), i ->
        |   CASE WHEN p[CAST(i AS INT) + 1] > mean
        |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END),
        |  'bit_or') AS phash
        | FROM m)
        |SELECT doc_id, phash FROM h ORDER BY doc_id""".stripMargin,
    // the oracle PREDICTS the decoded PCM content: the payload's data
    // bytes are the documented md5('au:<id>:<block>') stream, so every
    // int16 sample — and every window's Σs²/zero-crossing count — is
    // an analytic integer function of doc_id (decode∘encode == id at
    // the CONTENT level; header parsing never enters the SQL)
    "m9_audio_energy" ->
      """WITH d AS (SELECT doc_id, doc_id % 40 * 31 + 300 AS ns FROM documents),
        |hxs AS (SELECT doc_id, ns,
        |  list_aggregate(list_transform(range(0, (2 * ns + 15) // 16), b ->
        |    md5('au:' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))),
        |   'string_agg', '') AS hx
        | FROM d),
        |smp AS (SELECT doc_id, ns, list_transform(range(0, ns), i ->
        |   TRY_CAST('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2) AS INT)
        |   + 256 * TRY_CAST('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2) AS INT)
        |   - CASE WHEN TRY_CAST('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2) AS INT) >= 128
        |          THEN 65536 ELSE 0 END) AS smp
        | FROM hxs),
        |w AS (SELECT doc_id, ns, smp, unnest(range(0, (ns + 255) // 256)) AS win
        | FROM smp),
        |sub AS (SELECT doc_id, win,
        |  smp[CAST(win * 256 + 1 AS INT):CAST(least((win + 1) * 256, ns) AS INT)] AS s
        | FROM w)
        |SELECT doc_id, CAST(win AS BIGINT) AS win,
        | CAST(len(s) AS BIGINT) AS n_samples,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(s, x -> CAST(x AS BIGINT) * x)), (a, b) -> a + b) AS energy,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(range(1, len(s)), k ->
        |     CASE WHEN s[CAST(k AS INT)] * s[CAST(k + 1 AS INT)] < 0
        |          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
        |  (a, b) -> a + b) AS crossings
        |FROM sub ORDER BY doc_id, win""".stripMargin,
    "t29_burstiness" ->
      """WITH pd AS (SELECT tok, doc_id, COUNT(*) AS c FROM (
        |   SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |   FROM documents)
        |  GROUP BY tok, doc_id),
        |tt AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS t_total,
        |  CAST(SUM(c * c) AS BIGINT) AS s_sq
        | FROM pd GROUP BY tok HAVING SUM(c) >= 5),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tok, t_total,
        | CAST(s_sq AS DOUBLE) / CAST(t_total AS DOUBLE)
        |  - CAST(t_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS burstiness
        |FROM tt CROSS JOIN n
        |ORDER BY burstiness DESC, tok LIMIT 25""".stripMargin,
    // the oracle states the curriculum rule with a plain global-window
    // cumsum; the Spark plan is the two-pass partitioned prefix sum —
    // long sums are split-point-independent, so values are identical
    "p21_token_curriculum" ->
      """WITH b AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS diff,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        | FROM documents),
        |c AS (SELECT id, diff, n_tok,
        |  SUM(n_tok) OVER (ORDER BY diff, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        | FROM b),
        |t AS (SELECT SUM(n_tok) AS tt FROM b)
        |SELECT CAST((greatest(cum_tok, 1) - 1) * 4 // t.tt AS BIGINT) AS phase,
        | COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        | MIN(diff) AS min_difficulty, MAX(diff) AS max_difficulty
        |FROM c CROSS JOIN t GROUP BY 1 ORDER BY phase""".stripMargin,
    // composition of two proven statements: t2's per-row score feeds
    // x15's ECDF tail — scores are identical doubles on both engines,
    // so the distinct-value grouping and the KS max line up exactly
    "p23_quality_drift" ->
      """WITH m0 AS (SELECT doc_id,
        |  len(text)::DOUBLE AS n_chars,
        |  len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS n_tokens,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE AS punct,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ('the','a','of','and','is')))::DOUBLE AS stop
        | FROM documents),
        |q AS (SELECT doc_id,
        |  (stop / n_tokens) * 2.0 +
        |   (CASE WHEN (n_chars - n_tokens + 1.0) / n_tokens >= 3.0
        |         AND (n_chars - n_tokens + 1.0) / n_tokens <= 8.0 THEN 0.5 ELSE 0.0 END) -
        |   (punct / n_chars) * 3.0 AS v
        | FROM m0),
        |a AS (SELECT v, COUNT(*) AS ca FROM q WHERE doc_id % 2 = 0 AND v IS NOT NULL GROUP BY v),
        |b AS (SELECT v, COUNT(*) AS cb FROM q WHERE doc_id % 2 = 1 AND v IS NOT NULL GROUP BY v),
        |m AS (SELECT COALESCE(a.v, b.v) AS v, COALESCE(ca, 0) AS ca,
        |  COALESCE(cb, 0) AS cb FROM a FULL JOIN b ON a.v = b.v),
        |c AS (SELECT SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b FROM m
        | WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM m)
        |SELECT na AS n_a, nb AS n_b,
        | MAX(abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
        |   - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_stat
        |FROM c CROSS JOIN t GROUP BY na, nb""".stripMargin,
    // p3's CTE verbatim plus the offset arithmetic — all integers
    "p22_pack_offsets" ->
      """WITH d AS (SELECT source AS shard, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |c AS (SELECT shard, doc_id, toks,
        |  CAST(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM d)
        |SELECT shard, CAST((cum - toks) // 512 AS BIGINT) AS seq_id, doc_id,
        | CAST(cum - toks - ((cum - toks) // 512) * 512 AS BIGINT) AS start_off,
        | CAST(cum - ((cum - toks) // 512) * 512 AS BIGINT) AS end_off
        |FROM c ORDER BY shard, seq_id, doc_id""".stripMargin,
    // the d2 minhash machinery restated verbatim (seeded affine over
    // the md5-prefix h, min per seed), then the calibration aggregate:
    // pooled exact Jaccard per agreeing-hash count — integer sums,
    // two final divisions
    "d31_minhash_calibration" ->
      """WITH sh AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS ts
        | FROM documents),
        |toks AS (SELECT doc_id,
        |  list_reduce(list_transform(range(1, 8),
        |    i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) AS h
        |  FROM (SELECT doc_id, unnest(ts) AS tok FROM sh) t),
        |seeds AS (SELECT s, ((2*s + 1) * 2654435761) % 2147483647 AS a, s * 40503 + 1 AS b
        |          FROM (SELECT unnest(range(16)) AS s)),
        |sigs AS (
        |  SELECT doc_id, s, min((a * h + b) % 2147483647) AS mh
        |  FROM toks CROSS JOIN seeds GROUP BY doc_id, s),
        |sigv AS (SELECT doc_id, list(mh ORDER BY s) AS sig FROM sigs GROUP BY doc_id),
        |f AS (SELECT x.doc_id, x.source, x.ts, v.sig
        |  FROM sh x JOIN sigv v USING (doc_id)),
        |p AS (SELECT
        |  CAST(list_sum(list_transform(range(1, 17),
        |    k -> CASE WHEN a.sig[CAST(k AS INT)] = b.sig[CAST(k AS INT)]
        |              THEN 1 ELSE 0 END)) AS BIGINT) AS m,
        |  CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS i,
        |  CAST(len(a.ts) + len(b.ts) AS BIGINT) AS ab
        | FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT m, CAST(m AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard,
        | COUNT(*) AS n_pairs,
        | CAST(SUM(i) AS BIGINT) AS sum_inter,
        | CAST(SUM(ab) - SUM(i) AS BIGINT) AS sum_union,
        | CAST(SUM(i) AS BIGINT)::DOUBLE / CAST(SUM(ab) - SUM(i) AS BIGINT)::DOUBLE AS pooled_jaccard
        |FROM p GROUP BY m ORDER BY m""".stripMargin,
    // the oracle PREDICTS the decoded shapes (m1's analytic dims) and
    // states the packing rule with a plain shape-partitioned window;
    // the Spark plan is the grouped two-pass prefix sum
    "m10_pixel_pack" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(doc_id % 16 + 1 AS INT) AS width,
        |  CAST(doc_id % 13 + 2 AS INT) AS height,
        |  CAST((doc_id % 16 + 1) * (doc_id % 13 + 2) AS BIGINT) AS px
        | FROM documents),
        |c AS (SELECT doc_id, width, height, px,
        |  CAST(SUM(px) OVER (PARTITION BY width, height ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        | FROM d),
        |b AS (SELECT width, height, CAST((cum - px) // 2048 AS BIGINT) AS batch_id, px
        | FROM c)
        |SELECT width, height, batch_id, COUNT(*) AS n_images,
        | CAST(SUM(px) AS BIGINT) AS batch_pixels,
        | CAST(SUM(px) AS BIGINT)::DOUBLE / CAST(2048 AS DOUBLE) AS fill
        |FROM b GROUP BY width, height, batch_id
        |ORDER BY width, height, batch_id""".stripMargin,
    // the contribution form is restated verbatim: position i is a
    // first-in-window occurrence for starts in [max(i−w+1, prev+1, 0),
    // min(i, n−w)] — all-integer, one final division
    "t30_mattr" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        | FROM documents),
        |x AS (SELECT doc_id, len(ts) AS n,
        |  unnest(list_transform(range(1, len(ts) + 1),
        |    i -> {'pos': i - 1, 'tok': ts[CAST(i AS INT)]})) AS z
        | FROM t WHERE len(ts) >= 25),
        |e AS (SELECT doc_id, n, z.pos AS pos, z.tok AS tok FROM x),
        |l AS (SELECT doc_id, n, pos,
        |  COALESCE(LAG(pos) OVER (PARTITION BY doc_id, tok ORDER BY pos), -1) AS prev
        | FROM e),
        |c AS (SELECT doc_id, n,
        |  greatest(least(pos, n - 25) - greatest(pos - 24, prev + 1, 0) + 1, 0) AS contrib
        | FROM l)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tok,
        | CAST(MAX(n) - 24 AS BIGINT) AS n_windows,
        | CAST(SUM(contrib) AS BIGINT) AS sum_distinct,
        | CAST(SUM(contrib) AS DOUBLE) / CAST((MAX(n) - 24) * 25 AS DOUBLE) AS mattr
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the range predicate is stated as a plain quadratic join — the
    // Spark banding is pigeonhole-exact for hamming <= 7 at 8 bands,
    // so there is NO recall caveat; signatures and the dot/norm folds
    // use the d5/m6-proven index-order arithmetic
    "s15_range_search" ->
      """WITH aug AS (SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
        |  list_transform(range(1, len(embedding) + 1), i ->
        |    CASE WHEN i = 1 THEN -embedding[CAST(i AS INT)]
        |         ELSE embedding[CAST(i AS INT)] END) AS embedding
        | FROM embeddings WHERE vec_id % 25 = 0),
        |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        | FROM aug),
        |s AS (SELECT vec_id, v,
        |  list_aggregate(list_transform(range(0, 63), i ->
        |    CASE WHEN v[CAST(i AS INT) + 1] > CAST(0 AS DOUBLE)
        |         THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
        |         ELSE CAST(0 AS BIGINT) END),
        |   'bit_or') AS sig
        | FROM e)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        | CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
        | list_reduce(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]), (x,y) -> x+y) /
        |  (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y)) *
        |   sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y))) AS cosine
        |FROM s a JOIN s b ON a.vec_id < b.vec_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 7
        |  AND cosine >= CAST(0.3 AS DOUBLE)
        |ORDER BY va, vb""".stripMargin,
    // same pair CTE as the d4 oracle; the curve states floor(j/0.05)
    // on both engines — never a θ·0.05 product, so no double drift
    "d30_threshold_curve" ->
      """WITH g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE)),
        |s AS (SELECT unnest(range(2,
        |  CAST(floor(jaccard / CAST(0.05 AS DOUBLE)) AS BIGINT) + 1)) AS step FROM p)
        |SELECT step, CAST(step AS DOUBLE) * CAST(0.05 AS DOUBLE) AS theta,
        | COUNT(*) AS n_pairs
        |FROM s GROUP BY step ORDER BY step""".stripMargin,
    // winnowing rebuilt with the same md5-hex-prefix hash; k=3, w=4,
    // maxDf=50, minShared=2 mirror the Spark call
    "d23_winnow" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |h AS (SELECT doc_id, list_transform(range(1, len(t) - 1), i ->
        |   TRY_CAST('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 8) AS BIGINT)) AS hs
        | FROM t),
        |wd AS (SELECT doc_id, list_distinct(list_transform(
        |   range(1, greatest(len(hs) - 3, 1) + 1), j -> list_min(hs[j:j+3]))) AS fps
        | FROM h),
        |fp AS (SELECT doc_id, unnest(fps) AS fp FROM wd),
        |common AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) > 50),
        |pr AS (SELECT f.doc_id, f.fp FROM fp f ANTI JOIN common c ON f.fp = c.fp)
        |SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
        |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY da, db HAVING COUNT(*) >= 2
        |ORDER BY da, db""".stripMargin,
    // positional winnowing (rightmost window-min via the reversed-slice
    // list_position, exactly the Spark formula), planted clones at the
    // w+k-1 boundary; k=3, w=4 mirror the Spark call
    "d32_exact_substr" ->
      """WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents),
        |src AS (SELECT doc_id AS did, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |det AS (SELECT did + (SELECT o FROM off) AS doc_id,
        |  array_to_string(list_transform(range(1, 6),
        |    i -> 'zzqa' || CAST(did AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ')
        |  || ' ' || coalesce(array_to_string(t[5:10], ' '), '') || ' ' ||
        |  array_to_string(list_transform(range(1, 6),
        |    i -> 'zzqb' || CAST(did AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ') AS text
        | FROM src WHERE did % 50 = 0),
        |miss AS (SELECT did + (SELECT o FROM off) * 2 AS doc_id,
        |  array_to_string(list_transform(range(1, 6),
        |    i -> 'zzqc' || CAST(did AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ')
        |  || ' ' || coalesce(array_to_string(t[5:6], ' '), '') || ' ' ||
        |  array_to_string(list_transform(range(1, 6),
        |    i -> 'zzqd' || CAST(did AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ') AS text
        | FROM src WHERE did % 50 = 10),
        |corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM det
        |  UNION ALL SELECT doc_id, text FROM miss),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus),
        |h AS (SELECT doc_id, list_transform(range(1, len(t) - 1), i ->
        |   TRY_CAST('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 8) AS BIGINT)) AS hs
        | FROM tk WHERE len(t) >= 3),
        |sp AS (SELECT doc_id, hs, list_distinct(list_transform(
        |   range(1, greatest(len(hs) - 3, 1) + 1),
        |   j -> j + least(4, len(hs) - j + 1)
        |      - list_position(list_reverse(hs[j : j + least(4, len(hs) - j + 1) - 1]),
        |          list_min(hs[j : j + least(4, len(hs) - j + 1) - 1])))) AS ps
        | FROM h),
        |occ AS (SELECT doc_id, hs[CAST(p AS INT)] AS fp, p,
        |   doc_id * 1048576 + p AS okey
        | FROM (SELECT doc_id, hs, unnest(ps) AS p FROM sp)),
        |canon AS (SELECT fp, min(okey) AS keep_key FROM occ GROUP BY fp),
        |rem AS (SELECT o.doc_id,
        |   list_sort(list_distinct(flatten(list(range(o.p, o.p + 3))))) AS rem
        | FROM occ o JOIN canon c ON o.fp = c.fp WHERE o.okey <> c.keep_key
        | GROUP BY o.doc_id)
        |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
        | CAST(coalesce(len(r.rem), 0) AS BIGINT) AS n_removed,
        | CASE WHEN r.rem IS NULL THEN array_to_string(tk.t, ' ')
        |  ELSE coalesce(array_to_string(list_transform(
        |    list_filter(range(1, len(tk.t) + 1), i -> NOT list_contains(r.rem, i)),
        |    i -> tk.t[CAST(i AS INT)]), ' '), '') END AS text_out
        |FROM tk LEFT JOIN rem r ON tk.doc_id = r.doc_id
        |ORDER BY tk.doc_id""".stripMargin,
    // unigram-LM trained vocab: the whole EM unrolled in SQL — the
    // Viterbi dp is a list_reduce fold with a (v, -start) struct argmax
    // (ties -> smallest start = Spark's strict-> ascending scan), piece
    // scores are round(ln, 9)-ed BEFORE entering the dp sums on both
    // engines, counts stay integer throughout
    "t31_unigram_lm" ->
      """WITH wh AS (
        |  SELECT w, count(*) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |  GROUP BY w),
        |seedc AS (
        |  SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
        |    SELECT n, unnest(flatten(list_transform(range(1, len(w) + 1),
        |      i -> list_transform(range(1, least(4, len(w) - i + 1) + 1),
        |        l -> substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS piece
        |    FROM wh)
        |  GROUP BY piece),
        |top0 AS (SELECT piece, c FROM seedc ORDER BY c DESC, piece LIMIT 60),
        |v0 AS (SELECT piece, c FROM top0
        |  UNION ALL
        |  SELECT s.piece, s.c FROM seedc s ANTI JOIN top0 t ON s.piece = t.piece
        |  WHERE len(s.piece) = 1),
        |m1 AS (SELECT map(list(piece ORDER BY piece),
        |         list(round(ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM v0)), 9) ORDER BY piece)) AS sc
        |  FROM v0),
        |dp1 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'v': CAST(0 AS DOUBLE), 'ns': 0}],
        |      list_transform(range(1, len(w) + 1), i -> [{'v': CAST(i AS DOUBLE), 'ns': 0}])),
        |    (acc, x) -> list_append(acc,
        |      list_max(list_transform(range(greatest(CAST(x[1].v AS INT) - 4, 0), CAST(x[1].v AS INT)),
        |        s -> {'v': acc[s + 1].v + coalesce(
        |                map_extract(sc, substr(w, s + 1, CAST(x[1].v AS INT) - s))[1],
        |                CAST(-1e9 AS DOUBLE)),
        |              'ns': -s})))) AS d
        |  FROM wh, m1),
        |seg1 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'pos': len(w), 'ps': CAST([] AS VARCHAR[])}],
        |      list_transform(range(1, len(w) + 1), i -> [{'pos': 0, 'ps': CAST([] AS VARCHAR[])}])),
        |    (acc, x) -> [CASE WHEN acc[1].pos > 0 THEN
        |        {'pos': -d[acc[1].pos + 1].ns,
        |         'ps': list_prepend(substr(w, -d[acc[1].pos + 1].ns + 1,
        |                  acc[1].pos + d[acc[1].pos + 1].ns), acc[1].ps)}
        |      ELSE acc[1] END]) AS r
        |  FROM dp1),
        |c1 AS (SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
        |    SELECT n, unnest(r[1].ps) AS piece FROM seg1) GROUP BY piece),
        |charsAll AS (SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
        |  FROM wh, unnest(range(1, len(w) + 1)) AS u(i)),
        |v1 AS (SELECT piece, c FROM c1
        |  UNION ALL
        |  SELECT ch.piece, CAST(1 AS BIGINT) AS c FROM charsAll ch ANTI JOIN c1 ON ch.piece = c1.piece),
        |m2 AS (SELECT map(list(piece ORDER BY piece),
        |         list(round(ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM v1)), 9) ORDER BY piece)) AS sc
        |  FROM v1),
        |dp2 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'v': CAST(0 AS DOUBLE), 'ns': 0}],
        |      list_transform(range(1, len(w) + 1), i -> [{'v': CAST(i AS DOUBLE), 'ns': 0}])),
        |    (acc, x) -> list_append(acc,
        |      list_max(list_transform(range(greatest(CAST(x[1].v AS INT) - 4, 0), CAST(x[1].v AS INT)),
        |        s -> {'v': acc[s + 1].v + coalesce(
        |                map_extract(sc, substr(w, s + 1, CAST(x[1].v AS INT) - s))[1],
        |                CAST(-1e9 AS DOUBLE)),
        |              'ns': -s})))) AS d
        |  FROM wh, m2),
        |seg2 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'pos': len(w), 'ps': CAST([] AS VARCHAR[])}],
        |      list_transform(range(1, len(w) + 1), i -> [{'pos': 0, 'ps': CAST([] AS VARCHAR[])}])),
        |    (acc, x) -> [CASE WHEN acc[1].pos > 0 THEN
        |        {'pos': -d[acc[1].pos + 1].ns,
        |         'ps': list_prepend(substr(w, -d[acc[1].pos + 1].ns + 1,
        |                  acc[1].pos + d[acc[1].pos + 1].ns), acc[1].ps)}
        |      ELSE acc[1] END]) AS r
        |  FROM dp2),
        |c2 AS (SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
        |    SELECT n, unnest(r[1].ps) AS piece FROM seg2) GROUP BY piece),
        |v2 AS (SELECT piece, c FROM c2
        |  UNION ALL
        |  SELECT ch.piece, CAST(1 AS BIGINT) AS c FROM charsAll ch ANTI JOIN c2 ON ch.piece = c2.piece),
        |topf AS (SELECT piece, c FROM v2 ORDER BY c DESC, piece LIMIT 40),
        |vf AS (SELECT piece, c FROM topf
        |  UNION ALL
        |  SELECT v.piece, v.c FROM v2 v ANTI JOIN topf t ON v.piece = t.piece
        |  WHERE len(v.piece) = 1)
        |SELECT piece, c AS n,
        |  round(ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM vf)), 9) AS logp
        |FROM vf ORDER BY piece""".stripMargin,
    // unigram ENCODE: the full t31 training chain re-stated, then the
    // final pruned vocab's scores drive one more Viterbi fold per
    // distinct word, joined back to the corpus positionally
    "t32_unigram_encode" ->
      """WITH wh AS (
        |  SELECT w, count(*) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |  GROUP BY w),
        |seedc AS (
        |  SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
        |    SELECT n, unnest(flatten(list_transform(range(1, len(w) + 1),
        |      i -> list_transform(range(1, least(4, len(w) - i + 1) + 1),
        |        l -> substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS piece
        |    FROM wh)
        |  GROUP BY piece),
        |top0 AS (SELECT piece, c FROM seedc ORDER BY c DESC, piece LIMIT 60),
        |v0 AS (SELECT piece, c FROM top0
        |  UNION ALL
        |  SELECT s.piece, s.c FROM seedc s ANTI JOIN top0 t ON s.piece = t.piece
        |  WHERE len(s.piece) = 1),
        |m1 AS (SELECT map(list(piece ORDER BY piece),
        |         list(round(ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM v0)), 9) ORDER BY piece)) AS sc
        |  FROM v0),
        |dp1 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'v': CAST(0 AS DOUBLE), 'ns': 0}],
        |      list_transform(range(1, len(w) + 1), i -> [{'v': CAST(i AS DOUBLE), 'ns': 0}])),
        |    (acc, x) -> list_append(acc,
        |      list_max(list_transform(range(greatest(CAST(x[1].v AS INT) - 4, 0), CAST(x[1].v AS INT)),
        |        s -> {'v': acc[s + 1].v + coalesce(
        |                map_extract(sc, substr(w, s + 1, CAST(x[1].v AS INT) - s))[1],
        |                CAST(-1e9 AS DOUBLE)),
        |              'ns': -s})))) AS d
        |  FROM wh, m1),
        |seg1 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'pos': len(w), 'ps': CAST([] AS VARCHAR[])}],
        |      list_transform(range(1, len(w) + 1), i -> [{'pos': 0, 'ps': CAST([] AS VARCHAR[])}])),
        |    (acc, x) -> [CASE WHEN acc[1].pos > 0 THEN
        |        {'pos': -d[acc[1].pos + 1].ns,
        |         'ps': list_prepend(substr(w, -d[acc[1].pos + 1].ns + 1,
        |                  acc[1].pos + d[acc[1].pos + 1].ns), acc[1].ps)}
        |      ELSE acc[1] END]) AS r
        |  FROM dp1),
        |c1 AS (SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
        |    SELECT n, unnest(r[1].ps) AS piece FROM seg1) GROUP BY piece),
        |charsAll AS (SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
        |  FROM wh, unnest(range(1, len(w) + 1)) AS u(i)),
        |v1 AS (SELECT piece, c FROM c1
        |  UNION ALL
        |  SELECT ch.piece, CAST(1 AS BIGINT) AS c FROM charsAll ch ANTI JOIN c1 ON ch.piece = c1.piece),
        |m2 AS (SELECT map(list(piece ORDER BY piece),
        |         list(round(ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM v1)), 9) ORDER BY piece)) AS sc
        |  FROM v1),
        |dp2 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'v': CAST(0 AS DOUBLE), 'ns': 0}],
        |      list_transform(range(1, len(w) + 1), i -> [{'v': CAST(i AS DOUBLE), 'ns': 0}])),
        |    (acc, x) -> list_append(acc,
        |      list_max(list_transform(range(greatest(CAST(x[1].v AS INT) - 4, 0), CAST(x[1].v AS INT)),
        |        s -> {'v': acc[s + 1].v + coalesce(
        |                map_extract(sc, substr(w, s + 1, CAST(x[1].v AS INT) - s))[1],
        |                CAST(-1e9 AS DOUBLE)),
        |              'ns': -s})))) AS d
        |  FROM wh, m2),
        |seg2 AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'pos': len(w), 'ps': CAST([] AS VARCHAR[])}],
        |      list_transform(range(1, len(w) + 1), i -> [{'pos': 0, 'ps': CAST([] AS VARCHAR[])}])),
        |    (acc, x) -> [CASE WHEN acc[1].pos > 0 THEN
        |        {'pos': -d[acc[1].pos + 1].ns,
        |         'ps': list_prepend(substr(w, -d[acc[1].pos + 1].ns + 1,
        |                  acc[1].pos + d[acc[1].pos + 1].ns), acc[1].ps)}
        |      ELSE acc[1] END]) AS r
        |  FROM dp2),
        |c2 AS (SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
        |    SELECT n, unnest(r[1].ps) AS piece FROM seg2) GROUP BY piece),
        |v2 AS (SELECT piece, c FROM c2
        |  UNION ALL
        |  SELECT ch.piece, CAST(1 AS BIGINT) AS c FROM charsAll ch ANTI JOIN c2 ON ch.piece = c2.piece),
        |topf AS (SELECT piece, c FROM v2 ORDER BY c DESC, piece LIMIT 40),
        |vf AS (SELECT piece, c FROM topf
        |  UNION ALL
        |  SELECT v.piece, v.c FROM v2 v ANTI JOIN topf t ON v.piece = t.piece
        |  WHERE len(v.piece) = 1)
        |,mf AS (SELECT map(list(piece ORDER BY piece),
        |  list(round(ln(CAST(c AS DOUBLE) / (SELECT sum(c) FROM vf)), 9) ORDER BY piece)) AS sc
        | FROM vf),
        |dpf AS (SELECT w, n,
        |  list_reduce(
        |    list_prepend([{'v': CAST(0 AS DOUBLE), 'ns': 0}],
        |      list_transform(range(1, len(w) + 1), i -> [{'v': CAST(i AS DOUBLE), 'ns': 0}])),
        |    (acc, x) -> list_append(acc,
        |      list_max(list_transform(range(greatest(CAST(x[1].v AS INT) - 4, 0), CAST(x[1].v AS INT)),
        |        s -> {'v': acc[s + 1].v + coalesce(
        |                map_extract(sc, substr(w, s + 1, CAST(x[1].v AS INT) - s))[1],
        |                CAST(-1e9 AS DOUBLE)),
        |              'ns': -s})))) AS d
        | FROM wh, mf),
        |segf AS (SELECT w,
        |  list_reduce(
        |    list_prepend([{'pos': len(w), 'ps': CAST([] AS VARCHAR[])}],
        |      list_transform(range(1, len(w) + 1), i -> [{'pos': 0, 'ps': CAST([] AS VARCHAR[])}])),
        |    (acc, x) -> [CASE WHEN acc[1].pos > 0 THEN
        |        {'pos': -d[acc[1].pos + 1].ns,
        |         'ps': list_prepend(substr(w, -d[acc[1].pos + 1].ns + 1,
        |                  acc[1].pos + d[acc[1].pos + 1].ns), acc[1].ps)}
        |      ELSE acc[1] END]) AS r
        | FROM dpf),
        |dt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |occ AS (SELECT doc_id, CAST(i AS INT) AS i, t[CAST(i AS INT)] AS word
        | FROM dt, unnest(range(1, len(t) + 1)) AS u(i))
        |SELECT o.doc_id, o.i - 1 AS pos, o.word,
        |  array_to_string(s.r[1].ps, '|') AS pieces,
        |  CAST(len(s.r[1].ps) AS BIGINT) AS n_pieces
        |FROM occ o JOIN segf s ON s.w = o.word
        |ORDER BY o.doc_id, pos""".stripMargin,
    // the oracle states the GLOBAL-window skyline rule; the Spark plan
    // is the bucket-pruned equivalent (monotone-bucket proof in the
    // skyline2d scaladoc)
    "q43_skyline" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, epoch_us(o_orderdate) AS tus FROM orders),
        |w AS (SELECT o_orderkey, o_totalprice, tus,
        |  min(tus) OVER (ORDER BY o_totalprice, tus, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        | FROM o)
        |SELECT o_orderkey, o_totalprice, tus FROM w
        |WHERE m IS NULL OR m > tus ORDER BY o_orderkey""".stripMargin,
    // same pair CTE as the d8 oracle; triangles via the ordered
    // 2-path join (a<b<c), wedges = sum d*(d-1)//2 over degrees
    "d24_triangles" ->
      """WITH g AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' '))) AS ts
        | FROM documents),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  len(list_intersect(a.ts,b.ts))::DOUBLE/(len(a.ts)+len(b.ts)-len(list_intersect(a.ts,b.ts))) AS jaccard
        | FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        | WHERE jaccard >= CAST(0.1 AS DOUBLE)),
        |e AS (SELECT da, db FROM p),
        |deg AS (SELECT v, COUNT(*) AS d FROM
        |  (SELECT da AS v FROM e UNION ALL SELECT db AS v FROM e) GROUP BY v),
        |tri AS (SELECT COUNT(*) AS n_triangles FROM e x
        |  JOIN e y ON x.db = y.da
        |  JOIN e z ON z.da = x.da AND z.db = y.db)
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        | (SELECT COUNT(*) FROM e) AS n_edges,
        | (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
        | tri.n_triangles,
        | CAST(3 * tri.n_triangles AS DOUBLE) /
        |  CAST((SELECT SUM((d * (d - 1)) // 2) FROM deg) AS DOUBLE) AS global_clustering
        |FROM tri""".stripMargin,
    // corpus-level sum of libm terms: per-term round(9) absorbs ln()
    // ulp differences, the DECIMAL(20,12) cast makes the sum
    // order-independent and exact — double only at the very end
    "t20_kl_drift" ->
      """WITH ta AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS tok
        |  FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS tok
        |  FROM documents WHERE doc_id % 2 <> 0),
        |cca AS (SELECT tok, COUNT(*) AS ca FROM ta GROUP BY tok),
        |ccb AS (SELECT tok, COUNT(*) AS cb FROM tb GROUP BY tok),
        |j AS (SELECT cca.ca, ccb.cb FROM cca FULL OUTER JOIN ccb ON cca.tok = ccb.tok),
        |tot AS (SELECT CAST(SUM(COALESCE(ca,0)) AS BIGINT) AS na,
        |  CAST(SUM(COALESCE(cb,0)) AS BIGINT) AS nb, COUNT(*) AS vocab,
        |  CAST(SUM(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
        |  CAST(SUM(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
        | FROM j),
        |terms AS (SELECT
        |  CAST(COALESCE(ca,0)+1 AS DOUBLE)/CAST(na+vocab AS DOUBLE) AS pa,
        |  CAST(COALESCE(cb,0)+1 AS DOUBLE)/CAST(nb+vocab AS DOUBLE) AS pb,
        |  na, nb, vocab, n_only_a, n_only_b
        | FROM j CROSS JOIN tot)
        |SELECT
        | CAST(SUM(CAST(round(pa*ln(pa/pb),9) AS DECIMAL(20,12))) AS DOUBLE) AS kl_ab,
        | CAST(SUM(CAST(round(pb*ln(pb/pa),9) AS DECIMAL(20,12))) AS DOUBLE) AS kl_ba,
        | MAX(na) AS n_tokens_a, MAX(nb) AS n_tokens_b, MAX(vocab) AS vocab,
        | MAX(n_only_a) AS n_only_a, MAX(n_only_b) AS n_only_b
        |FROM terms""".stripMargin,
    "q44_seq_pattern" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | regexp_matches(array_to_string(list_transform(
        |   list_sort(list({'tus': epoch_us(ts), 'event_id': event_id, 't': event_type})),
        |   z -> z.t), ' '), 'signup.*purchase') AS matched
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // RAKE rebuilt with the islands trick; stopword set = the en marker
    // list; per-phrase score fold sorted + round(6)
    "t21_rake" ->
      """WITH tk AS (SELECT doc_id, unnest(list_zip(
        |    regexp_split_to_array(trim(text), '\s+'),
        |    range(0, len(regexp_split_to_array(trim(text), '\s+'))))) AS z
        |  FROM documents),
        |tok AS (SELECT doc_id, z[1] AS tok, CAST(z[2] AS BIGINT) AS pos FROM tk),
        |ns AS (SELECT doc_id, tok, pos,
        |   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM tok WHERE tok NOT IN ('the','a','of','and','is')),
        |ph AS (SELECT doc_id, isl, string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |   COUNT(*) AS plen, MIN(pos) AS phrase_pos
        |  FROM ns GROUP BY doc_id, isl),
        |w AS (SELECT doc_id, phrase, plen, phrase_pos,
        |   unnest(string_split(phrase, ' ')) AS w FROM ph),
        |st AS (SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
        |  FROM w GROUP BY w),
        |sc AS (SELECT doc_id, phrase, phrase_pos,
        |   round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |     list_sort(list(CAST(deg AS DOUBLE)/CAST(freq AS DOUBLE)))),
        |    (a,b) -> a + b), 6) AS score
        |  FROM w JOIN st ON w.w = st.w GROUP BY doc_id, phrase, phrase_pos),
        |dd AS (SELECT doc_id, phrase, MAX(score) AS score, COUNT(*) AS n_occ,
        |   MIN(phrase_pos) AS first_pos
        |  FROM sc GROUP BY doc_id, phrase),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |   ORDER BY score DESC, phrase) AS rn FROM dd)
        |SELECT doc_id, phrase, score, n_occ, first_pos FROM rk WHERE rn <= 3
        |ORDER BY doc_id, score DESC, phrase""".stripMargin,
    // all-integer micros arithmetic; both windows ordered by the same
    // total (s0, event_id) key on both engines
    "q45_interval_coalesce" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS s0,
        |  epoch_us(ts) + 1800000000 AS e0, event_id FROM events),
        |w AS (SELECT user_id, s0, e0, event_id,
        |  max(e0) OVER (PARTITION BY user_id ORDER BY s0, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        | FROM e),
        |b AS (SELECT *, CASE WHEN maxe IS NULL OR s0 > maxe THEN 1 ELSE 0 END AS brk FROM w),
        |i AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY s0, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM b),
        |m AS (SELECT user_id, isl, MIN(s0) AS ms, MAX(e0) AS me, COUNT(*) AS ne
        | FROM i GROUP BY user_id, isl)
        |SELECT user_id, COUNT(*) AS n_intervals,
        | CAST(SUM(me - ms) AS BIGINT) AS covered_us,
        | CAST(MAX(me - ms) AS BIGINT) AS longest_us,
        | CAST(SUM(ne) AS BIGINT) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the shortlist is integer-exact (hamming, vec_id ties are total);
    // the rerank cosine is the s1 fold, bit-identical on both engines
    "s12_binary_hamming" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |sg AS (SELECT vec_id, v, list_aggregate(list_transform(range(0, 63), i ->
        |   CASE WHEN v[CAST(i AS INT) + 1] > CAST(0 AS DOUBLE)
        |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END),
        |  'bit_or') AS sig FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, sig AS qsig FROM sg WHERE vec_id < 10),
        |ham AS (SELECT qid, vec_id,
        |  CAST(bit_count(xor(qsig, sig)) AS BIGINT) AS hamming
        | FROM q JOIN sg ON qid <> vec_id),
        |short AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |   ORDER BY hamming ASC, vec_id ASC) AS srn FROM ham),
        |rer AS (SELECT s.qid, s.vec_id, s.hamming,
        |  list_reduce(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*e.v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(q.qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(e.v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM short s JOIN e ON s.vec_id = e.vec_id JOIN q ON s.qid = q.qid
        | WHERE s.srn <= 20),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |   ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM rer)
        |SELECT qid, rank, vec_id, hamming, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // the d6 fixed point: probing the persisted index must equal the
    // direct incremental run, so the oracle is d6's SQL verbatim
    "d25_lsh_persisted" ->
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS ts FROM documents),
        |toks AS (SELECT doc_id,
        |  list_reduce(list_transform(range(1, 8),
        |    i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)),
        |    (x, y) -> x * 16 + y) AS h
        |  FROM (SELECT doc_id, unnest(ts) AS tok FROM sh) t),
        |seeds AS (SELECT s, ((2*s + 1) * 2654435761) % 2147483647 AS a, s * 40503 + 1 AS b
        |          FROM (SELECT unnest(range(16)) AS s)),
        |sigs AS (
        |  SELECT doc_id, s, min((a * h + b) % 2147483647) AS mh
        |  FROM toks CROSS JOIN seeds GROUP BY doc_id, s),
        |bands AS (
        |  SELECT doc_id, s // 4 AS band, md5(string_agg(mh::VARCHAR, ',' ORDER BY s)) AS bandsig
        |  FROM sigs GROUP BY doc_id, s // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bandsig = b.bandsig
        |  WHERE a.doc_id < 250 AND b.doc_id >= 250)
        |SELECT da, db,
        |  len(list_intersect(x.ts, y.ts))::DOUBLE /
        |  (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))) AS jaccard
        |FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
        |WHERE jaccard >= CAST(0.5 AS DOUBLE)
        |ORDER BY da, db""".stripMargin,
    // identical md5-prefix window hashing and slicing on both engines;
    // one division at the very end
    "d26_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |b AS (SELECT doc_id, text, len,
        |   list_filter(range(8, greatest(len, 8)), p ->
        |     (TRY_CAST('0x' || substr(md5(substr(text, CAST(p - 7 AS INT), 8)), 1, 8) AS BIGINT) % 64) = 0) AS bs
        |  FROM d),
        |z AS (SELECT doc_id, text, unnest(list_zip(list_prepend(CAST(0 AS BIGINT), bs),
        |   list_append(bs, CAST(len AS BIGINT)))) AS se FROM b),
        |ch AS (SELECT md5(substr(text, CAST(se[1] + 1 AS INT), CAST(se[2] - se[1] AS INT))) AS h,
        |   CAST(se[2] - se[1] AS BIGINT) AS l FROM z),
        |g AS (SELECT h, COUNT(*) AS c, MAX(l) AS l FROM ch GROUP BY h)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_chunks,
        | CAST(COUNT(*) AS BIGINT) AS n_distinct,
        | CAST(SUM(c * l) AS BIGINT) AS total_bytes,
        | CAST(SUM(l) AS BIGINT) AS stored_bytes,
        | CAST(SUM(l) AS DOUBLE) / CAST(SUM(c * l) AS DOUBLE) AS dedup_ratio
        |FROM g""".stripMargin,
    // x10's bucket arithmetic + t20's quantized libm sum; every PSI
    // term is >= 0 (factors share sign) so round(9) has no zero-sign
    // hazard
    "x11_psi" ->
      """WITH w AS (SELECT (CAST(600000 AS DOUBLE) - CAST(0 AS DOUBLE)) / CAST(20 AS DOUBLE) AS width),
        |ba AS (SELECT CAST(least(greatest(
        |   floor((o_totalprice - CAST(0 AS DOUBLE)) / w.width), 0), 19) AS BIGINT) AS bucket
        |  FROM orders CROSS JOIN w WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL),
        |bb AS (SELECT CAST(least(greatest(
        |   floor((o_totalprice - CAST(0 AS DOUBLE)) / w.width), 0), 19) AS BIGINT) AS bucket
        |  FROM orders CROSS JOIN w WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL),
        |ca AS (SELECT bucket, COUNT(*) AS ca FROM ba GROUP BY bucket),
        |cb AS (SELECT bucket, COUNT(*) AS cb FROM bb GROUP BY bucket),
        |j AS (SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
        |   COUNT(*) AS k,
        |   CAST(SUM(CASE WHEN cb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
        |   CAST(SUM(CASE WHEN ca = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
        |  FROM j),
        |terms AS (SELECT CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE) AS pa,
        |   CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE) AS pb,
        |   na, nb, k, n_only_a, n_only_b
        |  FROM j CROSS JOIN tot)
        |SELECT CAST(SUM(CAST(round((pa - pb) * ln(pa / pb), 9) AS DECIMAL(20,12))) AS DOUBLE) AS psi,
        | MAX(na) AS n_a, MAX(nb) AS n_b, MAX(k) AS n_buckets,
        | MAX(n_only_a) AS n_only_a, MAX(n_only_b) AS n_only_b
        |FROM terms""".stripMargin,
    // both windows ordered by the same total (tus, event_id) key;
    // all-integer micros; ties prefer the backward match on both sides
    "q46_nearest_join" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
        |  CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pt,
        |  CASE WHEN event_type = 'purchase' THEN event_id END AS pid
        | FROM events WHERE event_type IN ('error', 'purchase')),
        |c AS (SELECT user_id, tus, event_id, event_type,
        |  last_value(pt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_t,
        |  last_value(pid IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
        |  first_value(pt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_t,
        |  first_value(pid IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id
        | FROM e),
        |r AS (SELECT *, next_t IS NULL OR (prev_t IS NOT NULL
        |   AND (tus - prev_t) <= (next_t - tus)) AS take_prev
        | FROM c WHERE event_type = 'error'
        |   AND (prev_t IS NOT NULL OR next_t IS NOT NULL))
        |SELECT user_id, event_id,
        | CASE WHEN take_prev THEN prev_id ELSE next_id END AS matched_id,
        | CAST(CASE WHEN take_prev THEN prev_t ELSE next_t END - tus AS BIGINT) AS dt_us
        |FROM r ORDER BY event_id""".stripMargin,
    // BM25: every count is an exact integer; the ONE ln is round(9)ed
    // BEFORE entering products (t31 rule); the per-(q,d) sum folds over
    // the SORTED contrib list (d20 pattern); constants mirror the Spark
    // expression OP BY OP — CAST(1.2 AS DOUBLE) + 1.0, never a bare 2.2
    // (the derived-double-constant rule)
    "t33_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
        |vocab AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
        |top6 AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS r
        |  FROM vocab ORDER BY n DESC, tok ASC LIMIT 6),
        |q AS (SELECT CAST((r - 1) % 3 AS BIGINT) AS qid, tok AS term FROM top6),
        |dfreq AS (SELECT tok, COUNT(*) AS dfq FROM tf
        |  WHERE tok IN (SELECT term FROM q) GROUP BY tok),
        |contrib AS (SELECT q.qid, tf.doc_id,
        |  round(ln(1.0 + (n_docs - dfq + CAST(0.5 AS DOUBLE))
        |      / (dfq + CAST(0.5 AS DOUBLE))), 9)
        |   * (tf * (CAST(1.2 AS DOUBLE) + 1.0))
        |   / (tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
        |      + ((CAST(0.75 AS DOUBLE) * dl)
        |         / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS contrib
        | FROM tf JOIN q ON tf.tok = q.term
        | JOIN dfreq ON tf.tok = dfreq.tok
        | JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |scored AS (SELECT qid, doc_id,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(contrib))),
        |    (acc, x) -> acc + x) AS score
        | FROM contrib GROUP BY qid, doc_id),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (
        |  PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rk FROM scored)
        |SELECT qid, doc_id, score FROM ranked WHERE rk <= 5
        |ORDER BY qid, score DESC, doc_id""".stripMargin,
    // Kleinberg bursts: the Viterbi dp restated as the codified
    // list_reduce fold (LIST-of-lists accumulator — struct accumulators
    // mis-fold, the p24 lesson): acc = [[c0, c1], path0, path1]. Every
    // float op mirrors the Spark fold OP BY OP — epoch_ns (the long-
    // nanos contract; epoch_us would change every lambda·gap product),
    // ONE division for lambda0, each ln round(9)ed before the dp sums,
    // ties prefer the base state via <=. The OUTPUT is integer-only, so
    // episode extraction is free-form SQL (islands via row_number).
    "q55_bursts" ->
      """WITH u AS (SELECT user_id, list_sort(list(epoch_ns(ts))) AS tss
        |  FROM events GROUP BY user_id),
        |p AS (SELECT user_id, tss, len(tss) AS n,
        |   tss[len(tss)] - tss[1] AS span
        | FROM u WHERE len(tss) >= 2 AND tss[len(tss)] - tss[1] > 0),
        |c AS (SELECT user_id,
        |  CAST(n - 1 AS DOUBLE) / CAST(span AS DOUBLE) AS lam0,
        |  (CAST(n - 1 AS DOUBLE) / CAST(span AS DOUBLE)) * CAST(2.0 AS DOUBLE) AS lam1,
        |  round(ln(CAST(n - 1 AS DOUBLE)), 9) * CAST(0.5 AS DOUBLE) AS trans,
        |  list_transform(range(1, n), i -> tss[i+1] - tss[i]) AS gaps
        | FROM p),
        |f AS (SELECT user_id,
        |  list_reduce(
        |   list_prepend([[CAST(0.0 AS DOUBLE), 1e18], [], []],
        |     list_transform(gaps, g -> [[CAST(g AS DOUBLE)]])),
        |   (acc, x) -> [
        |    [ ((lam0 * x[1][1]) - round(ln(lam0), 9))
        |       + (CASE WHEN acc[1][1] <= acc[1][2] THEN acc[1][1] ELSE acc[1][2] END),
        |      ((lam1 * x[1][1]) - round(ln(lam1), 9))
        |       + (CASE WHEN (acc[1][1] + trans) <= acc[1][2]
        |          THEN (acc[1][1] + trans) ELSE acc[1][2] END) ],
        |    list_append(CASE WHEN acc[1][1] <= acc[1][2]
        |      THEN acc[2] ELSE acc[3] END, CAST(0.0 AS DOUBLE)),
        |    list_append(CASE WHEN (acc[1][1] + trans) <= acc[1][2]
        |      THEN acc[2] ELSE acc[3] END, CAST(1.0 AS DOUBLE))
        |   ]) AS acc
        | FROM c),
        |st AS (SELECT user_id,
        |  CASE WHEN acc[1][1] <= acc[1][2] THEN acc[2] ELSE acc[3] END AS states
        | FROM f),
        |e AS (SELECT user_id, unnest(states) AS s,
        |  unnest(range(1, len(states)+1)) AS pos FROM st),
        |isl AS (SELECT user_id, pos,
        |  pos - row_number() OVER (PARTITION BY user_id ORDER BY pos) AS grp
        | FROM e WHERE s = 1.0)
        |SELECT user_id, CAST(min(pos) AS BIGINT) AS burst_start,
        | CAST(max(pos) AS BIGINT) AS burst_end,
        | CAST(count(*) AS BIGINT) AS n_gaps,
        | CAST(count(*) + 1 AS BIGINT) AS n_events
        |FROM isl GROUP BY user_id, grp
        |ORDER BY user_id, burst_start""".stripMargin,
    // edit-distance variants: the oracle states the NAIVE quadratic
    // join the symmetric-delete blocking avoids; counts/df are exact
    // integers, the plant mirrors the Spark query op by op (div for
    // integral division, max-merge on term collisions).
    "d33_edit_variants" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |v AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
        |top12 AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS r
        |  FROM (SELECT * FROM v WHERE length(tok) >= 5
        |        ORDER BY n DESC, tok ASC LIMIT 12)),
        |planted AS (SELECT substring(tok, 2) AS term, n // 10 + 1 AS df
        |  FROM top12 WHERE r % 3 = 0),
        |vocab AS (SELECT term, CAST(MAX(df) AS BIGINT) AS df FROM (
        |   SELECT tok AS term, n AS df FROM v
        |   UNION ALL SELECT term, df FROM planted) GROUP BY term),
        |vv AS (SELECT term, df FROM vocab WHERE length(term) >= 3),
        |pairs AS (SELECT a.term AS ta, a.df AS dfa, b.term AS tb, b.df AS dfb
        | FROM vv a JOIN vv b ON a.term < b.term
        | WHERE abs(length(a.term) - length(b.term)) <= 1
        |   AND levenshtein(a.term, b.term) <= 1)
        |SELECT
        | CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb) THEN tb ELSE ta END AS variant,
        | CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb) THEN ta ELSE tb END AS canonical,
        | CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb) THEN dfb ELSE dfa END AS df_variant,
        | CASE WHEN dfa > dfb OR (dfa = dfb AND ta < tb) THEN dfa ELSE dfb END AS df_canonical
        |FROM pairs ORDER BY variant, canonical""".stripMargin,
    // 63-bit SimHash: bits 1-32 from md5(tok) digit parity (the d14
    // derivation), bits 33-63 from a SECOND digest md5(tok || '#') —
    // the same two-digest rule SimHashSig implements; 63 bits keep the
    // folded BIGINT sign-clear on both engines. The maxBucket=10000
    // anti-join is MIRRORED (the `ok` CTE) so oracle and Spark drop the
    // same oversized band buckets at ANY SF (ADVICE r13 — previously
    // uncapped, a latent divergence once a 21-bit bucket overflowed).
    "d34_simhash_wide" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
        |bits AS (SELECT unnest(range(1, 64)) AS b),
        |contrib AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN (CASE WHEN b <= 32 THEN substr(md5(tok), b, 1)
        |          ELSE substr(md5(tok || '#'), b - 32, 1) END)
        |        IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS sgn
        |  FROM toks CROSS JOIN bits GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |  list_reduce(list(CAST(CASE WHEN sgn > 0 THEN 1 ELSE 0 END AS BIGINT) ORDER BY b),
        |    (a, x) -> a * 2 + x) AS sig
        |  FROM contrib GROUP BY doc_id),
        |banded0 AS (SELECT doc_id, sig, band,
        |   (sig >> CAST(63 - 21 * (band + 1) AS INT)) & 2097151 AS bval
        |  FROM sig, (SELECT unnest(range(0, 3)) AS band) bs),
        |ok AS (SELECT band, bval FROM banded0 GROUP BY band, bval HAVING COUNT(*) <= 10000),
        |banded AS (SELECT banded0.* FROM banded0 JOIN ok USING (band, bval)),
        |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sig AS siga, b.sig AS sigb
        |  FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT da, COUNT(*) AS n_pairs,
        |  CAST(SUM(bit_count(xor(siga, sigb))) AS BIGINT) AS sum_hamming,
        |  MIN(db) AS first_db
        |FROM cand WHERE bit_count(xor(siga, sigb)) <= 2
        |GROUP BY da ORDER BY da""".stripMargin,
    // t36: the t34 GD unroll EXTENDED with the 64-bucket hashed-gram
    // feature list — bucket tf are integer-ratio divisions, the z
    // bucket term is an index-ordered list fold from 0.0 (bit-equal to
    // Spark's zip_with/aggregate left fold), bucket gradients are the
    // same round(·,9) DECIMAL(20,9) sums GROUPed by bucket index, and
    // each round's weight list rebuilds with list(… ORDER BY i). The
    // planted equal-length topic tokens mirror the query's derivation.
    "t36_quality_ngram" -> {
      val header =
        """WITH base AS (SELECT doc_id,
          |   substr(text, 1, 64) || CASE WHEN doc_id % 2 = 0
          |     THEN repeat(' zzgoodtopic', 6) ELSE repeat(' zzbadstopic', 6) END AS t,
          |   CASE WHEN doc_id % 2 = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
          |  FROM documents),
          |tk AS (SELECT doc_id, y,
          |   unnest(regexp_split_to_array(trim(t), '\s+')) AS tok FROM base),
          |tc AS (SELECT doc_id, y, tok, COUNT(*) AS c, len(tok) AS tl
          |  FROM tk GROUP BY doc_id, y, tok),
          |raw AS (SELECT doc_id, y,
          |   CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS r1,
          |   CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS r2,
          |   CAST(SUM(c * tl) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS r3
          |  FROM tc GROUP BY doc_id, y),
          |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |   SUM(CAST(round(r1, 9) AS DECIMAL(20,9))) AS sa1,
          |   SUM(CAST(round(r1 * r1, 9) AS DECIMAL(20,9))) AS sb1,
          |   SUM(CAST(round(r2, 9) AS DECIMAL(20,9))) AS sa2,
          |   SUM(CAST(round(r2 * r2, 9) AS DECIMAL(20,9))) AS sb2,
          |   SUM(CAST(round(r3, 9) AS DECIMAL(20,9))) AS sa3,
          |   SUM(CAST(round(r3 * r3, 9) AS DECIMAL(20,9))) AS sb3
          |  FROM raw),
          |sdv AS (SELECT n,
          |   CAST(sa1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
          |   CAST(sa2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
          |   CAST(sa3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3,
          |   sqrt(CAST(sb1 AS DOUBLE) / CAST(n AS DOUBLE)
          |     - (CAST(sa1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa1 AS DOUBLE) / CAST(n AS DOUBLE))) AS d1,
          |   sqrt(CAST(sb2 AS DOUBLE) / CAST(n AS DOUBLE)
          |     - (CAST(sa2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa2 AS DOUBLE) / CAST(n AS DOUBLE))) AS d2,
          |   sqrt(CAST(sb3 AS DOUBLE) / CAST(n AS DOUBLE)
          |     - (CAST(sa3 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa3 AS DOUBLE) / CAST(n AS DOUBLE))) AS d3
          |  FROM st),
          |g3m AS (SELECT doc_id,
          |   unnest(list_transform(range(1, len(t) - 1), i -> substr(t, i, 3))) AS gram FROM base),
          |hb AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
          |    i -> CAST(strpos('0123456789abcdef', substr(md5(gram), i, 1)) - 1 AS BIGINT)),
          |    (x, y) -> x * 16 + y) % 64 AS b FROM g3m),
          |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM hb GROUP BY 1, 2),
          |bm AS (SELECT doc_id, map(list(b ORDER BY b), list(c ORDER BY b)) AS m,
          |   SUM(c) AS tot FROM bc GROUP BY doc_id),
          |fx AS (SELECT doc_id, list_transform(range(0, 64), i ->
          |    CAST(COALESCE(map_extract(m, i)[1], 0) AS DOUBLE) / CAST(tot AS DOUBLE)
          |      * CAST(64 AS DOUBLE)) AS xb
          |  FROM bm),
          |f AS (SELECT r.doc_id, r.y,
          |   (r1 - m1) / d1 AS x1, (r2 - m2) / d2 AS x2, (r3 - m3) / d3 AS x3,
          |   COALESCE(fx.xb, list_transform(range(0, 64), i -> CAST(0 AS DOUBLE))) AS xb
          |  FROM raw r CROSS JOIN sdv LEFT JOIN fx ON fx.doc_id = r.doc_id),
          |u0 AS (SELECT CAST(0 AS DOUBLE) AS a0, CAST(0 AS DOUBLE) AS a1,
          |   CAST(0 AS DOUBLE) AS a2, CAST(0 AS DOUBLE) AS a3),
          |wv0 AS (SELECT list_transform(range(0, 64), i -> CAST(0 AS DOUBLE)) AS wb)""".stripMargin
      def rnd(r: Int): String = {
        val pu = if (r == 1) "u0" else s"u${r - 1}"
        val pw = if (r == 1) "wv0" else s"wv${r - 1}"
        s"""sg$r AS (SELECT y, x1, x2, x3, xb,
           |   CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
           |     + exp(-(((((a0 + a1 * x1) + a2 * x2) + a3 * x3)
           |       + list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |           list_transform(range(0, 64), i -> xb[i + 1] * wb[i + 1])),
           |         (a, x) -> a + x))))) AS ph
           |  FROM f CROSS JOIN $pu CROSS JOIN $pw),
           |gr$r AS (SELECT
           |   SUM(CAST(round(ph - y, 9) AS DECIMAL(20,9))) AS g0,
           |   SUM(CAST(round((ph - y) * x1, 9) AS DECIMAL(20,9))) AS g1,
           |   SUM(CAST(round((ph - y) * x2, 9) AS DECIMAL(20,9))) AS g2,
           |   SUM(CAST(round((ph - y) * x3, 9) AS DECIMAL(20,9))) AS g3,
           |   CAST(SUM(CASE WHEN (ph >= CAST(0.5 AS DOUBLE)) = (y = CAST(1 AS DOUBLE))
           |     THEN 1 ELSE 0 END) AS BIGINT) AS nc FROM sg$r),
           |gb$r AS (SELECT i,
           |   SUM(CAST(round((ph - y) * xb[i + 1], 9) AS DECIMAL(20,9))) AS g
           |  FROM sg$r, unnest(range(0, 64)) AS u(i) GROUP BY i),
           |u$r AS (SELECT
           |   a0 - CAST(2.0 AS DOUBLE) * (CAST(g0 AS DOUBLE) / CAST(n AS DOUBLE)) AS a0,
           |   a1 - CAST(2.0 AS DOUBLE) * (CAST(g1 AS DOUBLE) / CAST(n AS DOUBLE)) AS a1,
           |   a2 - CAST(2.0 AS DOUBLE) * (CAST(g2 AS DOUBLE) / CAST(n AS DOUBLE)) AS a2,
           |   a3 - CAST(2.0 AS DOUBLE) * (CAST(g3 AS DOUBLE) / CAST(n AS DOUBLE)) AS a3
           |  FROM gr$r CROSS JOIN $pu CROSS JOIN sdv),
           |wv$r AS (SELECT list(CAST(p.wb[g.i + 1]
           |     - CAST(2.0 AS DOUBLE) * (CAST(g.g AS DOUBLE) / CAST(sdv.n AS DOUBLE)) AS DOUBLE)
           |   ORDER BY g.i) AS wb
           |  FROM gb$r g CROSS JOIN $pw p CROSS JOIN sdv)""".stripMargin
      }
      def row(r: Int): String =
        s"""SELECT CAST($r AS BIGINT) AS round, nc AS n_correct,
           |  a0 AS w0, a1 AS w1, a2 AS w2, a3 AS w3,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE), wb), (a, x) -> a + x) AS wb_sum
           |FROM u$r CROSS JOIN wv$r CROSS JOIN gr$r""".stripMargin
      header + ",\n" + (1 to 4).map(rnd).mkString(",\n") + "\n" +
        (1 to 4).map(row).mkString("\nUNION ALL\n") + "\nORDER BY round"
    },
    // m15: every decoded field is an analytic function of doc_id (the
    // m1/m3 pattern) — the oracle predicts the box walk's output; the
    // %10==7 rows carry text payloads and must report unknown/null
    "m15_mp4_meta" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 10 = 7 THEN 'unknown' ELSE 'mp4' END AS format,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE 'isom' END AS major_brand,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE doc_id % 5 * 120 + 600 END AS timescale,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE (doc_id % 97 + 1) * 733 END AS duration,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE doc_id % 3 + 1 END AS n_tracks,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE (doc_id % 8 + 1) * 16 END AS width,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE (doc_id % 5 + 1) * 16 END AS height,
        | CASE WHEN doc_id % 10 = 7 THEN NULL
        |   ELSE ((doc_id % 97 + 1) * 733) // (doc_id % 5 * 120 + 600) END AS duration_s
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DoReMi: the 5 multiplicative-weights rounds unrolled in CTEs;
    // the normalizer is a sorted-domain list_reduce fold (exactly the
    // driver's foldLeft order), eta=0.5 and c=1/64 binary-exact, the
    // only libm calls (ln of the loss proxy, exp of eta*excess)
    // round(9)-quantized on both sides.
    "p27_doremi" ->
      """WITH dom AS (SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS docs_d,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tok_d
        | FROM documents GROUP BY source),
        |l AS (SELECT domain,
        |  round(ln(CAST(tok_d AS DOUBLE) / CAST(docs_d AS DOUBLE)), 9) AS loss FROM dom),
        |x AS (SELECT domain, loss - (SELECT MIN(loss) FROM l) AS excess FROM l),
        |e AS (SELECT domain, excess,
        |  round(exp(CAST(0.5 AS DOUBLE) * excess), 9) AS ew,
        |  (SELECT CAST(1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) FROM l) AS u FROM x),
        |r0 AS (SELECT domain, excess, ew, u, u AS w FROM e),
        |r1 AS (SELECT domain, excess, ew, u,
        |  (1 - CAST(0.015625 AS DOUBLE)) * (w * ew /
        |    (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(w * ew ORDER BY domain)), (a, b) -> a + b) FROM r0))
        |  + CAST(0.015625 AS DOUBLE) * u AS w FROM r0),
        |r2 AS (SELECT domain, excess, ew, u,
        |  (1 - CAST(0.015625 AS DOUBLE)) * (w * ew /
        |    (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(w * ew ORDER BY domain)), (a, b) -> a + b) FROM r1))
        |  + CAST(0.015625 AS DOUBLE) * u AS w FROM r1),
        |r3 AS (SELECT domain, excess, ew, u,
        |  (1 - CAST(0.015625 AS DOUBLE)) * (w * ew /
        |    (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(w * ew ORDER BY domain)), (a, b) -> a + b) FROM r2))
        |  + CAST(0.015625 AS DOUBLE) * u AS w FROM r2),
        |r4 AS (SELECT domain, excess, ew, u,
        |  (1 - CAST(0.015625 AS DOUBLE)) * (w * ew /
        |    (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(w * ew ORDER BY domain)), (a, b) -> a + b) FROM r3))
        |  + CAST(0.015625 AS DOUBLE) * u AS w FROM r3),
        |r5 AS (SELECT domain, excess, ew, u,
        |  (1 - CAST(0.015625 AS DOUBLE)) * (w * ew /
        |    (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(w * ew ORDER BY domain)), (a, b) -> a + b) FROM r4))
        |  + CAST(0.015625 AS DOUBLE) * u AS w FROM r4)
        |SELECT round, domain, excess, weight FROM (
        |  SELECT CAST(0 AS BIGINT) AS round, domain, excess, w AS weight FROM r0
        |  UNION ALL SELECT CAST(1 AS BIGINT), domain, excess, w FROM r1
        |  UNION ALL SELECT CAST(2 AS BIGINT), domain, excess, w FROM r2
        |  UNION ALL SELECT CAST(3 AS BIGINT), domain, excess, w FROM r3
        |  UNION ALL SELECT CAST(4 AS BIGINT), domain, excess, w FROM r4
        |  UNION ALL SELECT CAST(5 AS BIGINT), domain, excess, w FROM r5)
        |ORDER BY round, domain""".stripMargin,
    // WordPiece: t12's merge-fold template with the likelihood score
    // c/(cx*cy) — exact BIGINTs, ONE double division (BIGINT→DOUBLE
    // cast is IEEE-identical), argmax ties broken lexicographically.
    "t37_wordpiece" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY w),
        |s0 AS (SELECT array_to_string(list_transform(range(1, length(w)+1),
        |  i -> w[CAST(i AS INT)]), ' ') AS sym, n FROM w0),
        |pc1 AS (SELECT x, y, CAST(SUM(n) AS BIGINT) AS c FROM (
        |  SELECT n, a[i] AS x, a[i+1] AS y
        |  FROM (SELECT n, string_split(sym, ' ') AS a FROM s0),
        |       LATERAL (SELECT unnest(range(1, len(a))) AS i) t) GROUP BY x, y),
        |sc1 AS (SELECT s, CAST(SUM(n) AS BIGINT) AS cs FROM (
        |  SELECT n, unnest(string_split(sym, ' ')) AS s FROM s0) GROUP BY s),
        |b1 AS (SELECT p.x, p.y, p.c, sx.cs AS cx, sy.cs AS cy,
        |  CAST(p.c AS DOUBLE) / CAST(sx.cs * sy.cs AS DOUBLE) AS score
        | FROM pc1 p JOIN sc1 sx ON p.x = sx.s JOIN sc1 sy ON p.y = sy.s
        | ORDER BY score DESC, p.x, p.y LIMIT 1),
        |s1 AS (SELECT n, list_reduce(string_split(sym, ' '), (acc, s) -> CASE
        |  WHEN s = b.y AND acc = b.x THEN b.x || b.y
        |  WHEN s = b.y AND ends_with(acc, ' ' || b.x)
        |    THEN left(acc, length(acc) - length(b.x) - 1) || ' ' || b.x || b.y
        |  ELSE acc || ' ' || s END) AS sym FROM s0, b1 b),
        |pc2 AS (SELECT x, y, CAST(SUM(n) AS BIGINT) AS c FROM (
        |  SELECT n, a[i] AS x, a[i+1] AS y
        |  FROM (SELECT n, string_split(sym, ' ') AS a FROM s1),
        |       LATERAL (SELECT unnest(range(1, len(a))) AS i) t) GROUP BY x, y),
        |sc2 AS (SELECT s, CAST(SUM(n) AS BIGINT) AS cs FROM (
        |  SELECT n, unnest(string_split(sym, ' ')) AS s FROM s1) GROUP BY s),
        |b2 AS (SELECT p.x, p.y, p.c, sx.cs AS cx, sy.cs AS cy,
        |  CAST(p.c AS DOUBLE) / CAST(sx.cs * sy.cs AS DOUBLE) AS score
        | FROM pc2 p JOIN sc2 sx ON p.x = sx.s JOIN sc2 sy ON p.y = sy.s
        | ORDER BY score DESC, p.x, p.y LIMIT 1),
        |s2 AS (SELECT n, list_reduce(string_split(sym, ' '), (acc, s) -> CASE
        |  WHEN s = b.y AND acc = b.x THEN b.x || b.y
        |  WHEN s = b.y AND ends_with(acc, ' ' || b.x)
        |    THEN left(acc, length(acc) - length(b.x) - 1) || ' ' || b.x || b.y
        |  ELSE acc || ' ' || s END) AS sym FROM s1, b2 b),
        |pc3 AS (SELECT x, y, CAST(SUM(n) AS BIGINT) AS c FROM (
        |  SELECT n, a[i] AS x, a[i+1] AS y
        |  FROM (SELECT n, string_split(sym, ' ') AS a FROM s2),
        |       LATERAL (SELECT unnest(range(1, len(a))) AS i) t) GROUP BY x, y),
        |sc3 AS (SELECT s, CAST(SUM(n) AS BIGINT) AS cs FROM (
        |  SELECT n, unnest(string_split(sym, ' ')) AS s FROM s2) GROUP BY s),
        |b3 AS (SELECT p.x, p.y, p.c, sx.cs AS cx, sy.cs AS cy,
        |  CAST(p.c AS DOUBLE) / CAST(sx.cs * sy.cs AS DOUBLE) AS score
        | FROM pc3 p JOIN sc3 sx ON p.x = sx.s JOIN sc3 sy ON p.y = sy.s
        | ORDER BY score DESC, p.x, p.y LIMIT 1),
        |s3 AS (SELECT n, list_reduce(string_split(sym, ' '), (acc, s) -> CASE
        |  WHEN s = b.y AND acc = b.x THEN b.x || b.y
        |  WHEN s = b.y AND ends_with(acc, ' ' || b.x)
        |    THEN left(acc, length(acc) - length(b.x) - 1) || ' ' || b.x || b.y
        |  ELSE acc || ' ' || s END) AS sym FROM s2, b3 b),
        |pc4 AS (SELECT x, y, CAST(SUM(n) AS BIGINT) AS c FROM (
        |  SELECT n, a[i] AS x, a[i+1] AS y
        |  FROM (SELECT n, string_split(sym, ' ') AS a FROM s3),
        |       LATERAL (SELECT unnest(range(1, len(a))) AS i) t) GROUP BY x, y),
        |sc4 AS (SELECT s, CAST(SUM(n) AS BIGINT) AS cs FROM (
        |  SELECT n, unnest(string_split(sym, ' ')) AS s FROM s3) GROUP BY s),
        |b4 AS (SELECT p.x, p.y, p.c, sx.cs AS cx, sy.cs AS cy,
        |  CAST(p.c AS DOUBLE) / CAST(sx.cs * sy.cs AS DOUBLE) AS score
        | FROM pc4 p JOIN sc4 sx ON p.x = sx.s JOIN sc4 sy ON p.y = sy.s
        | ORDER BY score DESC, p.x, p.y LIMIT 1)
        |SELECT rank, x, y, c, cx, cy, score FROM (
        |  SELECT CAST(1 AS BIGINT) AS rank, x, y, c, cx, cy, score FROM b1
        |  UNION ALL SELECT CAST(2 AS BIGINT), x, y, c, cx, cy, score FROM b2
        |  UNION ALL SELECT CAST(3 AS BIGINT), x, y, c, cx, cy, score FROM b3
        |  UNION ALL SELECT CAST(4 AS BIGINT), x, y, c, cx, cy, score FROM b4)
        |ORDER BY rank""".stripMargin,
    // Gopher rules: every ratio stated as integer cross-multiplication
    // (engine-bit-exact booleans); the sole double is one division.
    "t38_gopher_rules" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(length(w)) AS BIGINT) AS sum_len,
        |  CAST(SUM(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
        |  CAST(SUM(CASE WHEN w IN ('#', '...', '…') THEN 1 ELSE 0 END) AS BIGINT) AS n_sym,
        |  CAST(COUNT(DISTINCT CASE WHEN w IN ('the', 'a')
        |    THEN w END) AS BIGINT) AS n_stop
        | FROM w GROUP BY doc_id),
        |li AS (SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(string_split(text, chr(10)), l ->
        |    starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '•'))) AS BIGINT) AS n_bullet,
        |  CAST(len(list_filter(string_split(text, chr(10)), l ->
        |    ends_with(l, '...') OR ends_with(l, '…'))) AS BIGINT) AS n_ellipsis
        | FROM documents)
        |SELECT doc_id, n_words, mean_word_len, f_word_count, f_mean_len, f_symbol,
        |  f_alpha, f_stopwords, f_bullet, f_ellipsis,
        |  (f_word_count AND f_mean_len AND f_symbol AND f_alpha AND f_stopwords
        |    AND f_bullet AND f_ellipsis) AS keep
        |FROM (SELECT a.doc_id,
        |  n_words,
        |  CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
        |  (n_words >= 50 AND n_words <= 100000) AS f_word_count,
        |  (sum_len >= 3 * n_words AND sum_len <= 10 * n_words) AS f_mean_len,
        |  (10 * n_sym <= n_words) AS f_symbol,
        |  (5 * n_alpha >= 4 * n_words) AS f_alpha,
        |  (n_stop >= 2) AS f_stopwords,
        |  (10 * n_bullet <= 9 * n_lines) AS f_bullet,
        |  (10 * n_ellipsis <= 3 * n_lines) AS f_ellipsis
        | FROM agg a JOIN li ON a.doc_id = li.doc_id)
        |ORDER BY doc_id""".stripMargin,
    // chunk dedup: canonical = MIN over the packed (doc_id, idx) long;
    // kept chunks reassemble via ORDER BY idx inside the list agg
    // (Spark: sort_array over structs); COALESCE because DuckDB
    // array_to_string([]) is NULL while Spark concat_ws is '' (d32).
    "d36_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
        |c AS (SELECT doc_id, i AS idx,
        |   array_to_string(list_slice(a, CAST(i*3+1 AS BIGINT), CAST(i*3+3 AS BIGINT)), ' ') AS chunk
        | FROM d, LATERAL (SELECT unnest(range(0, GREATEST(
        |   CAST(ceil(CAST(len(a) AS DOUBLE) / CAST(3 AS DOUBLE)) AS BIGINT), 1))) AS i) t),
        |k AS (SELECT chunk, MIN(doc_id * 1048576 + idx) AS canon FROM c GROUP BY chunk),
        |j AS (SELECT c.doc_id, c.idx, c.chunk,
        |   (c.doc_id * 1048576 + c.idx = k.canon) AS keep
        | FROM c JOIN k USING (chunk))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | COALESCE(array_to_string(list(chunk ORDER BY idx) FILTER (WHERE keep), ' '), '') AS new_text
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // CCNet buckets: t18's perplexity CTEs + per-language interpolated
    // terciles via the q48/q49 ROW_NUMBER construction, every
    // interpolation op mirrored.
    "p28_ppl_buckets" ->
      """WITH ts AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
        |  SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM ts)),
        |bi AS (SELECT w1, w2, COUNT(*) AS c FROM bg WHERE doc_id % 5 <> 0 GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c_ctx FROM bi GROUP BY w1),
        |lm AS (SELECT bi.w1, bi.w2,
        |  ln(CAST(bi.c AS DOUBLE) / CAST(ctx.c_ctx AS DOUBLE)) AS lnp
        | FROM bi JOIN ctx ON bi.w1 = ctx.w1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_train FROM bi),
        |sc AS (SELECT bg.doc_id,
        |  COALESCE(lm.lnp, -ln(CAST(tot.n_train + 1 AS DOUBLE))) AS lnp_eff
        | FROM bg LEFT JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2 CROSS JOIN tot),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(lnp_eff))),
        |   (a, b) -> a + b) AS s
        | FROM sc GROUP BY doc_id),
        |h AS (SELECT doc_id,
        |  round(greatest(CAST(0 AS DOUBLE),
        |    (CAST(0 AS DOUBLE) - s) / CAST(n_bigrams AS DOUBLE)), 6) AS cross_entropy
        | FROM agg),
        |pl AS (SELECT h.doc_id, d.lang, round(exp(h.cross_entropy), 6) AS perplexity
        | FROM h JOIN documents d ON h.doc_id = d.doc_id),
        |r1 AS (SELECT lang, doc_id, perplexity,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY perplexity) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n FROM pl),
        |m1 AS (SELECT lang,
        |  MAX(CASE WHEN rn = floor(CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE) * (n-1)) THEN perplexity END) AS lo1,
        |  MAX(CASE WHEN rn = ceil(CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE) * (n-1)) THEN perplexity END) AS hi1,
        |  MAX(CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE) * (n-1)) AS pos1,
        |  MAX(CASE WHEN rn = floor(CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE) * (n-1)) THEN perplexity END) AS lo2,
        |  MAX(CASE WHEN rn = ceil(CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE) * (n-1)) THEN perplexity END) AS hi2,
        |  MAX(CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE) * (n-1)) AS pos2
        | FROM r1 GROUP BY lang),
        |th AS (SELECT lang, lo1 + (hi1 - lo1) * (pos1 - floor(pos1)) AS t1,
        |  lo2 + (hi2 - lo2) * (pos2 - floor(pos2)) AS t2 FROM m1)
        |SELECT pl.doc_id, pl.lang, pl.perplexity,
        | CASE WHEN pl.perplexity <= th.t1 THEN 'head'
        |      WHEN pl.perplexity <= th.t2 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM pl JOIN th ON pl.lang = th.lang ORDER BY pl.doc_id""".stripMargin,
    // filtered search: the oracle is exact brute force over the
    // PRE-filtered corpus — same candidate set the operator ranks.
    "s18_filtered_topk" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |c AS (SELECT vec_id, v FROM e WHERE label % 3 = 0),
        |scored AS (
        | SELECT qid, vec_id,
        |  list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i]*v[i]), (x,y) -> x+y) /
        |   (sqrt(list_reduce(list_transform(qv, x -> x*x), (x,y) -> x+y)) *
        |    sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))) AS cosine
        | FROM q JOIN c ON qid <> vec_id),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank FROM scored)
        |SELECT qid, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // Flesch: exact integer counts, two divisions, CAST-literal
    // constants, left-assoc arithmetic mirrored — no libm, no round().
    "t39_readability" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(len(regexp_extract_all(lower(w), '[aeiouy]+'))) AS BIGINT) AS raw_syl,
        |  CAST(SUM(CASE WHEN len(regexp_extract_all(lower(w), '[aeiouy]+')) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS no_vowel
        | FROM w GROUP BY doc_id),
        |st AS (SELECT doc_id,
        |  CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences
        | FROM documents)
        |SELECT a.doc_id, n_words, n_sentences,
        |  raw_syl + no_vowel AS n_syllables,
        |  CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - CAST(84.6 AS DOUBLE) * (CAST(raw_syl + no_vowel AS DOUBLE) / CAST(n_words AS DOUBLE)) AS reading_ease,
        |  CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + CAST(11.8 AS DOUBLE) * (CAST(raw_syl + no_vowel AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - CAST(15.59 AS DOUBLE) AS fk_grade
        |FROM a JOIN st ON a.doc_id = st.doc_id ORDER BY a.doc_id""".stripMargin,
    // frame plan: every field analytic in doc_id (the m15 synthesizer),
    // all-integer timestamps, non-MP4 docs plan zero rows.
    "m16_frame_plan" ->
      """WITH v AS (SELECT doc_id,
        |   doc_id % 5 * 120 + 600 AS timescale,
        |   ((doc_id % 97 + 1) * 733) // (doc_id % 5 * 120 + 600) AS duration_s
        | FROM documents WHERE doc_id % 10 <> 7),
        |n AS (SELECT doc_id, timescale,
        |   LEAST(duration_s // 10 + 1, 16) AS n_frames FROM v)
        |SELECT doc_id, i AS frame_idx, i * 10 AS t_seconds,
        |  i * 10 * timescale AS t_units
        |FROM n, LATERAL (SELECT unnest(range(0, n_frames)) AS i) t
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // data-constrained card: exact longs, one exp round(9)'d, every
    // other op pinned-order IEEE; budget and R* CAST-literal mirrored.
    "p29_data_constrained" ->
      """WITH u AS (SELECT source AS key,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS u_tokens
        | FROM documents GROUP BY source),
        |t_ AS (SELECT CAST(SUM(u_tokens) AS BIGINT) AS u_total FROM u),
        |c AS (SELECT key, u_tokens,
        |  CAST(1000000 AS DOUBLE) / CAST(u_total AS DOUBLE) AS epochs FROM u, t_),
        |d AS (SELECT key, u_tokens, epochs,
        |  round(exp((CAST(1 AS DOUBLE) - epochs) / CAST(15.4 AS DOUBLE)), 9) AS decay FROM c)
        |SELECT key, u_tokens, epochs,
        |  CAST(u_tokens AS DOUBLE) * epochs AS trained_tokens,
        |  CAST(u_tokens AS DOUBLE) + CAST(u_tokens AS DOUBLE) * CAST(15.4 AS DOUBLE)
        |    * (CAST(1 AS DOUBLE) - decay) AS effective_tokens,
        |  (CAST(u_tokens AS DOUBLE) + CAST(u_tokens AS DOUBLE) * CAST(15.4 AS DOUBLE)
        |    * (CAST(1 AS DOUBLE) - decay))
        |   / (CAST(u_tokens AS DOUBLE) * epochs) AS efficiency
        |FROM d ORDER BY key""".stripMargin,
    // blocked linkage: the oracle mirrors the block-size cap (the d34
    // asymmetry lesson) and the exact levenshtein verify.
    "d37_name_linkage" ->
      """WITH b AS (SELECT c_custkey AS id, c_name AS nm,
        |  substring(c_name, 1, 16) AS blk FROM customer),
        |sz AS (SELECT blk FROM (SELECT blk, COUNT(*) AS n FROM b GROUP BY blk)
        |  WHERE n <= 10000),
        |kept AS (SELECT b.* FROM b JOIN sz USING (blk))
        |SELECT a.id AS ida, c.id AS idb, CAST(levenshtein(a.nm, c.nm) AS BIGINT) AS dist
        |FROM kept a JOIN kept c ON a.blk = c.blk AND a.id < c.id
        |WHERE levenshtein(a.nm, c.nm) <= 1
        |ORDER BY ida, idb""".stripMargin,
    // Exif: every field analytic in doc_id (the m17 synthesizer);
    // byte order alternates so both TIFF layouts are oracle-checked.
    "m17_exif_meta" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 10 = 7 THEN 'unknown' ELSE 'jpeg-exif' END AS format,
        | CASE WHEN doc_id % 10 = 7 THEN NULL
        |   WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE doc_id % 8 + 1 END AS orientation,
        | CASE WHEN doc_id % 10 = 7 THEN NULL
        |   ELSE 'g' || CAST(doc_id % 10 AS VARCHAR) END AS make,
        | CASE WHEN doc_id % 10 = 7 THEN NULL ELSE CAST(2 AS BIGINT) END AS n_entries
        |FROM documents ORDER BY doc_id""".stripMargin,
    // chi-square: every double op mirrored; the fold order is the
    // sorted (a,b) cell order on both sides.
    "x16_chi2" ->
      """WITH cells AS (SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM documents GROUP BY lang, source),
        |rm AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY a),
        |cm AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY b),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |terms AS (SELECT a, b,
        |  (CAST(o AS DOUBLE) - CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE))
        |  * (CAST(o AS DOUBLE) - CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(ra * cb AS DOUBLE) / CAST(n AS DOUBLE)) AS term
        | FROM cells JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN tot)
        |SELECT
        | (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(term ORDER BY a, b)), (x, y) -> x + y) FROM terms) AS chi2,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM terms) AS n_cells,
        | (SELECT CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
        |    FROM cells) AS dof""".stripMargin,
    // percentile_disc: exact order statistic at max(0, ceil(q*n)-1) —
    // value straight from the data, BIGINT both sides.
    "q56_percentile_disc" ->
      """WITH ranked AS (
        | SELECT lang, n_chars AS v,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) - 1 AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM documents),
        |qs(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
        |  (CAST(0.75 AS DOUBLE)), (CAST(0.95 AS DOUBLE)))
        |SELECT lang, q,
        | MAX(CASE WHEN rn = GREATEST(CAST(ceil(q * n) AS BIGINT) - 1, 0)
        |   THEN v END) AS pct
        |FROM ranked CROSS JOIN qs GROUP BY lang, q ORDER BY lang, q""".stripMargin,
    // trigram KN: t25's template one order up — lower orders from
    // continuation (type) counts, every double op mirrored, D binary-
    // exact; the GREATEST slice guard keeps 1-token docs off DuckDB's
    // negative-index slicing.
    "t40_trigram_kn" ->
      """WITH ts AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |tg AS (SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3 FROM (
        |  SELECT unnest(list_zip(t[1:GREATEST(len(t)-2, 0)], t[2:len(t)-1],
        |    t[3:len(t)])) AS z FROM ts)),
        |tri AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tg GROUP BY w1, w2, w3),
        |ctx12 AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c12, COUNT(*) AS nf12
        |  FROM tri GROUP BY w1, w2 HAVING SUM(c) >= 5),
        |cstar AS (SELECT w2, w3, COUNT(*) AS cp FROM tri GROUP BY w2, w3),
        |ctx2 AS (SELECT w2, CAST(SUM(cp) AS BIGINT) AS cpt, COUNT(*) AS nf2
        |  FROM cstar GROUP BY w2),
        |cont3 AS (SELECT w3, COUNT(*) AS np3 FROM cstar GROUP BY w3),
        |tot AS (SELECT COUNT(*) AS n_types FROM cstar),
        |sc AS (SELECT tri.w1, tri.w2, tri.w3, tri.c, ctx12.c12, ctx12.nf12,
        |  cstar.cp, ctx2.cpt, ctx2.nf2, cont3.np3,
        |  greatest(CAST(tri.c AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        |      / CAST(ctx12.c12 AS DOUBLE)
        |    + ((CAST(0.75 AS DOUBLE) * CAST(ctx12.nf12 AS DOUBLE))
        |      / CAST(ctx12.c12 AS DOUBLE))
        |      * (greatest(CAST(cstar.cp AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
        |          / CAST(ctx2.cpt AS DOUBLE)
        |        + ((CAST(0.75 AS DOUBLE) * CAST(ctx2.nf2 AS DOUBLE))
        |          / CAST(ctx2.cpt AS DOUBLE))
        |          * (CAST(cont3.np3 AS DOUBLE) / CAST(tot.n_types AS DOUBLE))) AS p_kn,
        |  ROW_NUMBER() OVER (PARTITION BY tri.w1, tri.w2
        |    ORDER BY tri.c DESC, tri.w3 ASC) AS rn
        | FROM tri JOIN ctx12 ON tri.w1 = ctx12.w1 AND tri.w2 = ctx12.w2
        |  JOIN cstar ON tri.w2 = cstar.w2 AND tri.w3 = cstar.w3
        |  JOIN ctx2 ON tri.w2 = ctx2.w2
        |  JOIN cont3 ON tri.w3 = cont3.w3
        | CROSS JOIN tot)
        |SELECT w1, w2, w3, c, c12, nf12, cp, cpt, nf2, np3, p_kn
        |FROM sc WHERE rn <= 3
        |ORDER BY w1, w2, c DESC, w3""".stripMargin,
  )
}
