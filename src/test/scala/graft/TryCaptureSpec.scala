package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.TryEval
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.core.ErrorFrame
import graft.functions.TryCapture

class TryCaptureSpec extends SparkSpec {
  import spark.implicits._

  test("success rows carry value, error fields null") {
    val df = Seq("1", "2").toDF("s")
      .select(TryCapture(expr("cast(s as int)")).as("c"))
      .select($"c.value", $"c.error_class")
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSet == Set(1, 2))
    assert(rows.forall(_.isNullAt(1)))
  }

  test("failing rows carry error_class/message/stack_trace, value null") {
    val df = Seq("1", "boom").toDF("s")
      .select($"s", TryCapture(expr("cast(s as int)")).as("c"))
    val bad = df.filter($"c.error_class".isNotNull).select($"s", $"c.*").collect()
    assert(bad.length == 1)
    val r = bad.head
    assert(r.getString(0) == "boom")
    assert(r.isNullAt(1)) // value
    assert(r.getString(2) == "org.apache.spark.SparkNumberFormatException")
    assert(r.getString(3).contains("boom"))   // message mentions input
    assert(r.getString(4).contains("at "))    // stack trace frames
  }

  test("interpreted eval matches codegen results") {
    val data = Seq("7", "x", "42").toDF("s")
    val capture = TryCapture(expr("100 div cast(s as int)")).as("c")
    val viaCodegen = data.select(capture).select($"c.value", $"c.error_class").collect()
    // force interpreted path by evaluating through a non-codegen context:
    val viaFilterEval = data.select(capture)
      .select($"c.value", $"c.error_class").where(lit(true)).collect()
    assert(viaCodegen.map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq ==
      viaFilterEval.map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq)
  }

  test("direct interpreted eval matches DataFrame (codegen) results") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.IntegerType
    // interpreted path: eval() directly, no codegen involved
    val ok = TryCapture(Cast(Literal("7"), IntegerType, ansiEnabled = true))
      .eval(InternalRow.empty).asInstanceOf[InternalRow]
    assert(ok.getInt(0) == 7 && ok.isNullAt(1))
    val bad = TryCapture(Cast(Literal("nope"), IntegerType, ansiEnabled = true))
      .eval(InternalRow.empty).asInstanceOf[InternalRow]
    assert(bad.isNullAt(0))
    assert(bad.getUTF8String(1).toString == "org.apache.spark.SparkNumberFormatException")
    assert(bad.getUTF8String(3).toString.contains("at "))
  }

  test("withStackTrace=false leaves stack_trace null but keeps class/message") {
    val df = Seq("boom").toDF("s")
      .select(TryCapture(expr("cast(s as int)"), withStackTrace = false).as("c"))
      .select($"c.error_class", $"c.stack_trace").collect().head
    assert(df.getString(0) == "org.apache.spark.SparkNumberFormatException")
    assert(df.isNullAt(1))
  }

  test("foldable failing child is captured, not thrown at planning time") {
    Graft.register(spark)
    // child is a constant-foldable expression that throws under ANSI:
    // ConstantFolding must not evaluate it outside the capture.
    val r = spark.sql("SELECT try_capture(cast('xx' as int)) AS c")
      .select($"c.value", $"c.error_class").collect().head
    assert(r.isNullAt(0))
    assert(r.getString(1) == "org.apache.spark.SparkNumberFormatException")
  }

  test("null input propagates as null value, not error") {
    val df = Seq(Some("3"), None).toDF("s")
      .select(TryCapture(expr("cast(s as int)")).as("c"))
      .select($"c.value", $"c.error_class").collect()
    assert(df.count(_.isNullAt(0)) == 1)
    assert(df.forall(_.isNullAt(1)))
  }

  // ---- subexpressions shared between captured columns

  /** Rows of `s`/`t` over two partitions, so capture runs in generated
    * code rather than being folded over a local relation at planning.
    */
  private def rows(values: (String, String)*): DataFrame =
    values.toDF("s", "t").repartition(2)

  private type Outcomes = Map[(String, String, String), (String, String)]

  /** (error_class, error_message) per row (s, t) and column of
    * `results`, captured together; [[alone]] captures each by itself.
    */
  private def together(in: DataFrame, results: Map[String, Column]): Outcomes = {
    val ef = ErrorFrame.captureErrors(in, results, input = col("s"))
    results.keys.flatMap { n =>
      ef.df.select(col("s"), col("t"), col(ErrorFrame.capturedCol(n) + ".error_class"),
          col(ErrorFrame.capturedCol(n) + ".error_message"))
        .as[(String, String, String, String)].collect()
        .map { case (s, t, c, m) => (s, t, n) -> (c, m) }
    }.toMap
  }

  private def alone(in: DataFrame, results: Map[String, Column]): Outcomes =
    results.flatMap { case (n, c) => together(in, Map(n -> c)) }

  private def sharedColumns(ef: ErrorFrame): Seq[String] =
    ef.df.columns.filter(_.startsWith(ErrorFrame.capturedCol("shared_"))).toSeq

  test("shared subexpression: each column reports the class and message it reports alone") {
    val in = rows(("7", "1"), ("x", "1"), ("14", "1"))
    val results = Map("v" -> expr("cast(s as int)"), "inv" -> expr("100 div (cast(s as int) % 7)"))
    assert(sharedColumns(ErrorFrame.captureErrors(in, results, col("s"))).size == 1)
    val got = together(in, results)
    assert(got == alone(in, results))
    assert(got(("x", "1", "inv"))._1 == "org.apache.spark.SparkNumberFormatException")
    // the message names the column's own SQL fragment, as it does alone
    assert(got(("x", "1", "inv"))._2.contains("100 div"))
    assert(got(("14", "1", "inv"))._1 == "org.apache.spark.SparkArithmeticException")
  }

  test("shared subexpression: a column whose own earlier operand throws first keeps that error") {
    val in = rows(("x", "0"), ("x", "2"), ("3", "0"))
    val results = Map("v" -> expr("cast(s as int)"),
      "w" -> expr("(10 div cast(t as int)) + cast(s as int)"))
    assert(sharedColumns(ErrorFrame.captureErrors(in, results, col("s"))).size == 1)
    val got = together(in, results)
    assert(got == alone(in, results))
    assert(got(("x", "0", "w"))._1 == "org.apache.spark.SparkArithmeticException")
    assert(got(("x", "2", "w"))._1 == "org.apache.spark.SparkNumberFormatException")
    assert(got(("x", "0", "v"))._1 == "org.apache.spark.SparkNumberFormatException")
  }

  test("shared subexpression: a use inside an untaken CASE branch raises nothing") {
    val in = rows(("x", "0"), ("5", "1"))
    // b reaches cast(s) only when t = 1; a always evaluates it twice but
    // swallows its failure, so it is shared and fails on "x" unseen
    val swallowed = ColumnBridge.column(TryEval(ColumnBridge.expression(
      expr("cast(s as int) + cast(s as int)"))))
    val results = Map("a" -> swallowed,
      "b" -> expr("CASE WHEN t = '1' THEN cast(s as int) * 2 ELSE -1 END"))
    val ef = ErrorFrame.captureErrors(in, results, col("s"))
    assert(sharedColumns(ef).size == 1)
    assert(ef.errors.count() == 0)
    assert(ef.values.select($"s", $"a", $"b").as[(String, Option[Int], Int)].collect().toSet ==
      Set(("x", None, -1), ("5", Some(10), 10)))
    assert(together(in, results) == alone(in, results))
  }

  test("shared subexpression: nothing containing rand() is shared") {
    val in = rows(("1", "1"), ("2", "1"))
    val ef = ErrorFrame.captureErrors(in,
      Map("a" -> expr("cast(s as double) + rand(7)"), "b" -> expr("cast(s as double) + rand(7)")),
      col("s"))
    val shared = ef.df.queryExecution.analyzed.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p.projectList
    }.flatten.filter(a => sharedColumns(ef).contains(a.name))
    assert(shared.nonEmpty, "the deterministic cast(s as double) is shared")
    assert(shared.forall(_.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Rand]).isEmpty))
    assert(ef.values.count() == 2)
  }

  test("a subexpression repeated inside one capture is captured, not hoisted out of it") {
    val ef = ErrorFrame.captureErrors(rows(("x", "1"), ("4", "1")),
      Map("v" -> expr("cast(s as int) + cast(s as int)")), col("s"))
    assert(ef.errors.select($"error_class").as[String].collect().toSeq ==
      Seq("org.apache.spark.SparkNumberFormatException"))
    assert(ef.values.select($"v").as[Int].collect().toSeq == Seq(8))
  }

  test("shared capture and its replay run in generated code only") {
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val in = rows(("{\"k\": 3}", "1"), ("{\"k\": \"x\"}", "1"), ("{\"k\": 7}", "1"))
      val k = "CAST(get_json_object(s, '$.k') AS BIGINT)"
      val ef = ErrorFrame.captureErrors(in,
        Map("k_num" -> expr(k), "score" -> expr(s"300 DIV ($k % 7)")), col("s"))
      assert(sharedColumns(ef).size == 1)
      assert(ef.values.select($"k_num", $"score").as[(Long, Long)].collect().toSeq == Seq((3L, 100L)))
      assert(ef.errors.select($"error_class").as[String].collect().sorted.toSeq ==
        Seq("org.apache.spark.SparkArithmeticException", "org.apache.spark.SparkNumberFormatException"))
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
