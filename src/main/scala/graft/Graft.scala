package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.TryCapture

/** `SparkSessionExtensions` hook: registers graft's native functions so
  * they are usable from SQL (`spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Graft.allFns.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.ErrorTeeStrategy)
  }
}

object Graft {
  private type FnReg = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression): FnReg =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  /** SQL literal-int argument of a function call (`simhash_sig(ts, 32)`). */
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  /** SQL literal-string argument (`normalize_text(s, 'NFC')`). */
  private def litString(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }

  val tryCaptureFn: FnReg =
    fn("try_capture", classOf[TryCapture])(children => TryCapture(children.head))

  /** Every native graft expression, SQL-callable: capture, the hashing/
    * shingling primitives behind dedup, the cosine fold and its exact
    * integer twin, and the evaluate-once fence.
    */
  val allFns: Seq[FnReg] = Seq(
    tryCaptureFn,
    fn("fence", classOf[graft.functions.Fence])(c => graft.functions.Fence(c.head)),
    fn("word_ngrams", classOf[graft.functions.WordNGrams])(c =>
      graft.functions.WordNGrams(c(0), litInt(c(1), "word_ngrams n"))),
    fn("minhash_sig", classOf[graft.functions.MinHashSig])(c =>
      graft.functions.MinHashSig(c(0), litInt(c(1), "minhash_sig numHashes"))),
    fn("simhash_sig", classOf[graft.functions.SimHashSig])(c =>
      graft.functions.SimHashSig(c(0), litInt(c(1), "simhash_sig nBits"))),
    fn("vector_dot", classOf[graft.functions.VectorDot])(c =>
      graft.functions.VectorDot(c(0), c(1))),
    fn("vector_dot_long", classOf[graft.functions.VectorDotLong])(c =>
      graft.functions.VectorDotLong(c(0), c(1))),
    fn("count_by_value", classOf[graft.functions.CountByValue])(c =>
      graft.functions.CountByValue(c.head).toAggregateExpression()),
    fn("normalize_text", classOf[graft.functions.NormalizeText])(c =>
      graft.functions.NormalizeText(c(0),
        litString(c(1), "normalize_text form"))),
    // hilbert_index(c1, c2, ..., bits) — coords first, literal bits last
    fn("hilbert_index", classOf[graft.functions.HilbertIndex])(c =>
      graft.functions.HilbertIndex(c.init, litInt(c.last, "hilbert_index bits"))))

  /** Runtime registration for sessions built without the extensions conf. */
  def register(spark: SparkSession): Unit = {
    allFns.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
    registerStrategies(spark)
  }

  /** Install graft's planner strategies (idempotent). */
  def registerStrategies(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    val missing = Seq(graft.plans.TopKPerKeyStrategy, graft.plans.ErrorTeeStrategy)
      .filterNot(cur.contains)
    if (missing.nonEmpty) spark.experimental.extraStrategies = cur ++ missing
  }
}

/** Test-data table loaders. */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The events table's `ts` contract downstream is LONG NANOS.
    * Testdata generations have shipped it both as TIMESTAMP(NANOS)
    * (already a long under `spark.sql.legacy.parquet.nanosAsLong`) and
    * as TIMESTAMP(MICROS); normalize any timestamp variant to long
    * nanos here so every consumer sees one type. Micros→nanos is exact
    * (×1000, no precision at stake); all graft sessions pin the UTC
    * session time zone, so the NTZ→LTZ cast is the identity.
    */
  def withNanosTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
      case _ => df
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") withNanosTs(df) else df
  }

  def views(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
