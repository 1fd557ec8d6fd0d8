package graft.sources

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{BlockCount, SinkTaskSize}

import graft.SparkSpec
import graft.streaming.EpochStore

/** graft's sink writer ([[LocalFiles.writeParquet]],
  * [[LocalFiles.writeRouted]]) leaves what Spark's
  * `df.write.mode("overwrite").parquet(dir)` leaves: rows, footers,
  * markers and files, on empty and failing writes too.
  */
class SinkWriterSpec extends SparkSpec {
  import spark.implicits._

  /** Nested struct, array, map, decimal, timestamp and null columns. */
  private def typed(partitions: Int): DataFrame =
    spark.range(0, 40, 1, partitions).select(
      $"id",
      struct($"id".as("a"), struct(($"id" * 2).as("b"), lit("s").as("c")).as("inner")).as("nested"),
      array($"id", $"id" + 1).as("arr"),
      map($"id".cast("string"), array($"id")).as("m"),
      ($"id" / 7).cast("decimal(20,4)").as("dec"),
      timestamp_seconds($"id" * 3600).as("ts"),
      lit(null).cast("string").as("nothing"),
      when($"id" % 3 === 0, lit(null)).otherwise($"id".cast("string")).as("sometimes"),
      lit(null).as("void"))

  private def rows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted

  private def files(dir: String): Seq[String] =
    Option(new File(dir).list()).map(_.toSeq.sorted).getOrElse(Nil)

  /** Each part file's parquet schema and key-value metadata. */
  private def footers(dir: String): Set[(String, Map[String, String])] =
    files(dir).filter(_.startsWith("part-")).map { f =>
      val in = HadoopInputFile.fromPath(new Path(s"$dir/$f"),
        spark.sessionState.newHadoopConf())
      val reader = ParquetFileReader.open(in)
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema.toString, meta.getKeyValueMetaData.asScala.toMap)
      } finally reader.close()
    }.toSet

  /** The files of `dir` with the write's job id taken out. */
  private def shape(dir: String): Seq[String] =
    files(dir).map(_.replaceAll("-[0-9a-f]{8}-[0-9a-f-]{27}", "-<job>"))

  test("rows, footer schema and Spark row metadata equal df.write.parquet's at 1 and 4 partitions") {
    val tmp = Files.createTempDirectory("graft-sink-writer-types")
    Seq(1, 4).foreach { n =>
      val df = typed(n)
      df.write.mode("overwrite").parquet(s"$tmp/spark$n")
      LocalFiles.writeParquet(df, s"$tmp/graft$n")
      assert(rows(s"$tmp/graft$n") == rows(s"$tmp/spark$n"), s"$n partitions")
      assert(spark.read.parquet(s"$tmp/graft$n").schema == spark.read.parquet(s"$tmp/spark$n").schema)
      assert(footers(s"$tmp/graft$n") == footers(s"$tmp/spark$n"), s"$n partitions")
      assert(shape(s"$tmp/graft$n") == shape(s"$tmp/spark$n"), s"$n partitions")
    }
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a routed write sends each row to every sink whose column is set, with its footer and _SUCCESS") {
    val tmp = Files.createTempDirectory("graft-sink-writer-routed")
    val df = typed(4)
    val routed = df.select(
      when($"id" % 2 === 0, struct(df.columns.map(col).toSeq: _*)).as("even"),
      when($"id" % 5 === 0, struct($"id", $"nested")).as("fives"),
      when($"id" < 0, struct($"id")).as("never"))
    LocalFiles.writeRouted(routed, s"$tmp/even", s"$tmp/fives", s"$tmp/never")
    df.filter($"id" % 2 === 0).write.parquet(s"$tmp/spark-even")
    df.filter($"id" % 5 === 0).select($"id", $"nested").write.parquet(s"$tmp/spark-fives")
    assert(rows(s"$tmp/even") == rows(s"$tmp/spark-even"))
    assert(rows(s"$tmp/fives") == rows(s"$tmp/spark-fives"))
    assert(footers(s"$tmp/even") == footers(s"$tmp/spark-even"))
    assert(footers(s"$tmp/fives") == footers(s"$tmp/spark-fives"))
    Seq("even", "fives", "never").foreach { s =>
      assert(files(s"$tmp/$s").contains("_SUCCESS"), s)
      assert(!files(s"$tmp/$s").exists(_.startsWith(".spark-staging")), s)
    }
    // a sink that never got a row still gets partition 0's schema-only file
    assert(files(s"$tmp/never").count(_.startsWith("part-")) == 1)
    assert(rows(s"$tmp/never").isEmpty)
    assert(spark.read.parquet(s"$tmp/never").columns.toSeq == Seq("id"))
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("an overwrite replaces the prior contents, and an empty frame leaves what Spark's writer leaves") {
    val tmp = Files.createTempDirectory("graft-sink-writer-empty")
    LocalFiles.writeParquet(spark.range(0, 10, 1, 3).toDF("v"), s"$tmp/graft")
    LocalFiles.writeParquet(spark.range(100, 102, 1, 1).toDF("v"), s"$tmp/graft")
    assert(rows(s"$tmp/graft") == Seq("[100]", "[101]"))
    assert(files(s"$tmp/graft").count(_.startsWith("part-")) == 1)
    Seq("empty-rdd" -> Seq.empty[Long].toDF("v"),
        "empty-partitions" -> spark.range(0, 10, 1, 3).toDF("v").filter($"v" < 0)).foreach {
      case (name, empty) =>
        empty.write.mode("overwrite").parquet(s"$tmp/spark-$name/epoch=0")
        LocalFiles.writeParquet(empty, s"$tmp/graft-$name/epoch=0")
        assert(shape(s"$tmp/graft-$name/epoch=0") == shape(s"$tmp/spark-$name/epoch=0"), name)
        assert(rows(s"$tmp/graft-$name/epoch=0").isEmpty, name)
        def read(side: String) = EpochStore(spark, s"$tmp/$side-$name").before(1L)
          .map(_.collect().toSeq)
        assert(read("graft") == read("spark"), name)
    }
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a task that throws leaves no part file and no _temporary after the job aborts") {
    val tmp = Files.createTempDirectory("graft-sink-writer-abort")
    val failing = spark.range(0, 40, 1, 4).select(expr("10 div (id - 33)").as("q"))
    intercept[Exception](LocalFiles.writeParquet(failing, s"$tmp/one"))
    intercept[Exception](LocalFiles.writeRouted(
      failing.select(struct($"q").as("a"), struct($"q").as("b")), s"$tmp/a", s"$tmp/b"))
    Seq("one", "a", "b").foreach { s =>
      assert(!files(s"$tmp/$s").exists(f => f.startsWith("part-") || f == "_SUCCESS"),
        s"$s: ${files(s"$tmp/$s")}")
      assert(!files(s"$tmp/$s").exists(f => f == "_temporary" || f.startsWith(".spark-staging")),
        s"$s: ${files(s"$tmp/$s")}")
    }
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("200 writes leave no broadcast block behind after a GC") {
    val tmp = Files.createTempDirectory("graft-sink-writer-broadcasts")
    val df = spark.range(0, 40, 1, 2).toDF()
    // broadcast ids count up: a probe broadcast's id bounds the writes'
    def nextId(): Long = { val b = spark.sparkContext.broadcast(0); b.destroy(); b.id }
    val from = nextId()
    (1 to 200).foreach(_ => LocalFiles.writeParquet(df, s"$tmp/out"))
    val until = nextId()
    // each write broadcast its conf and its job's task binary
    assert(until - from > 200)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (BlockCount.broadcasts(from, until) > 0 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(BlockCount.broadcasts(from, until) == 0)
    assert(rows(s"$tmp/out").size == 40)
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("the write task's function serializes to under 32 KB") {
    val tmp = Files.createTempDirectory("graft-sink-writer-size")
    val size = SinkTaskSize(typed(2), s"$tmp/out")
    assert(size < 32 * 1024, s"$size bytes")
    assert(rows(s"$tmp/out").size == 40)
    FileUtils.deleteDirectory(tmp.toFile)
  }
}
