package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.streaming.{StreamAggState, StreamErrorHandling}

/** graft's local file I/O ([[LocalFiles]]) leaves the same files,
  * modes and checkpoints as Hadoop's and Spark's default path, and a
  * streaming trigger forks no `chmod` or `readlink`.
  */
class LocalFilesSpec extends SparkSpec {
  import spark.implicits._

  private val SparkDefault =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
  private val Results = Map("v" -> expr("cast(value as int)"))

  private def initialized[T <: org.apache.hadoop.fs.FileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** Adds one text file holding `lines` to the stream under `root`. */
  private def drop(root: JPath, name: String, lines: Seq[String]): Unit = {
    val staged = Files.createDirectories(root.resolve("staging")).resolve(s"$name.txt")
    Files.write(staged, lines.asJava)
    Files.move(staged, Files.createDirectories(root.resolve("in")).resolve(s"$name.txt"),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def captureToDlq(root: JPath): StreamingQuery =
    StreamErrorHandling.captureToDlq(spark.readStream.text(s"$root/in"), Results,
      col("value"), "local", s"$root/values", s"$root/dlq", s"$root/ckpt")

  test("files and dirs get the same mode bits as through Hadoop's default path") {
    val tmp = Files.createTempDirectory("graft-local-modes")
    val sides = Seq("nio" -> initialized(new LocalFileSystem),
      "default" -> initialized(new org.apache.hadoop.fs.LocalFileSystem))
    sides.foreach { case (side, fs) =>
      fs.mkdirs(new Path(s"$tmp/$side/a/b"))
      val out = fs.create(new Path(s"$tmp/$side/a/f.bin"), true)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      fs.mkdirs(new Path(s"$tmp/$side/m"), new FsPermission(Integer.parseInt("750", 8).toShort))
      // explicit modes: the nine rwx bits, and a sticky dir the parent sets
      Seq("777", "755", "644", "600", "400", "1777").foreach { m =>
        val p = new Path(s"$tmp/$side/${if (m.length == 4) "d" else "f"}$m")
        if (m.length == 4) fs.mkdirs(p) else fs.create(p, true).close()
        fs.setPermission(p, new FsPermission(Integer.parseInt(m, 8).toShort))
      }
    }
    def modes(side: String): Map[String, Int] = {
      val root = tmp.resolve(side)
      Files.walk(root).iterator.asScala.filter(_ != root)
        .map(p => root.relativize(p).toString -> mode(p)).toMap
    }
    val (nio, default) = (modes("nio"), modes("default"))
    assert(Seq("a/b", "a/f.bin", "a/.f.bin.crc", "m", "f400", ".f400.crc").forall(nio.contains), nio)
    assert(nio == default)
    assert(nio("f644") == Integer.parseInt("644", 8) && nio("d1777") == Integer.parseInt("1777", 8))
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("only local paths on a filesystem nobody chose are routed") {
    val conf = spark.sessionState.newHadoopConf()
    assert(LocalFiles.routes(new Path("/tmp/x"), conf))
    assert(LocalFiles.routes(new Path("file:///tmp/x"), conf))
    assert(!LocalFiles.routes(new Path("hdfs://nn:8020/x"), conf))
    assert(LocalFiles.writerOptions(spark, "s3a://bucket/x").isEmpty)
    assert(LocalFiles.writerOptions(spark, "/tmp/x") ==
      Map("fs.file.impl" -> classOf[LocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true"))
    val chosen = new Configuration(conf)
    chosen.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    assert(!LocalFiles.routes(new Path("/tmp/x"), chosen))
    assert(LocalFiles.routed(new Path("/tmp/x"), chosen) eq chosen)
    assert(LocalFiles.fileSystem(spark, new Path("/tmp/x")).isInstanceOf[LocalFileSystem])
  }

  test("symlink status is unchanged") {
    val tmp = Files.createTempDirectory("graft-local-links")
    val target = Files.write(tmp.resolve("target.txt"), "x".getBytes(UTF_8))
    Files.createSymbolicLink(tmp.resolve("link"), target)
    Files.createSymbolicLink(tmp.resolve("dangling"), tmp.resolve("nowhere"))
    Files.createDirectories(tmp.resolve("dir"))
    val (nio, default) = (initialized(new RawLocalNioFileSystem), initialized(new RawLocalFileSystem))
    // the status, or the class of what the call throws
    def view(fs: RawLocalFileSystem, p: Path) = scala.util.Try(fs.getFileLinkStatus(p))
      .map(st => (st.getPath, st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
        st.isDirectory, st.getLen))
      .toEither.left.map(_.getClass)
    for (name <- Seq("target.txt", "link", "dangling", "dir", "missing"); qualified <- Seq(false, true)) {
      val p = if (qualified) new Path(tmp.resolve(name).toUri) else new Path(tmp.resolve(name).toString)
      assert(view(nio, p) == view(default, p), p)
    }
    assert(nio.getFileLinkStatus(new Path(tmp.resolve("link").toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(tmp.resolve("dangling").toString)).isSymlink)
    intercept[java.io.FileNotFoundException](
      nio.getFileLinkStatus(new Path(tmp.resolve("missing").toString)))
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("createAtomic without overwrite refuses an existing file, and cancel leaves none") {
    val tmp = Files.createTempDirectory("graft-local-atomic")
    val dir = new Path(tmp.toUri)
    val mgr = new LocalCheckpointFileManager(dir, spark.sessionState.newHadoopConf())
    val first = new Path(dir, "log/0")
    val out = mgr.createAtomic(first, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.close()
    intercept[FileAlreadyExistsException] {
      val again = mgr.createAtomic(first, overwriteIfPossible = false)
      again.write("v2".getBytes(UTF_8))
      again.close()
    }
    val in = mgr.open(first)
    try assert(new String(in.readAllBytes(), UTF_8) == "v1") finally in.close()
    def listing = Files.list(tmp.resolve("log")).iterator.asScala.map(_.getFileName.toString).toSet
    val before = listing
    val cancelled = mgr.createAtomic(new Path(dir, "log/1"), overwriteIfPossible = false)
    cancelled.write("never".getBytes(UTF_8))
    cancelled.cancel()
    assert(!mgr.exists(new Path(dir, "log/1")))
    assert(listing == before)
    FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a captureToDlq checkpoint restarts across graft's and Spark's default checkpoint manager") {
    def run(root: JPath, manager: Option[String], name: String, lines: Seq[String]): Unit = {
      manager match {
        case Some(m) => spark.conf.set(LocalFiles.CheckpointManagerKey, m)
        case None => spark.conf.unset(LocalFiles.CheckpointManagerKey)
      }
      drop(root, name, lines)
      val q = captureToDlq(root)
      try q.processAllAvailable() finally q.stop()
      // eachTrigger installs graft's manager only where none is set
      assert(spark.conf.get(LocalFiles.CheckpointManagerKey) ==
        manager.getOrElse(classOf[LocalCheckpointFileManager].getName))
    }
    try {
      for (order <- Seq(Seq(None, Some(SparkDefault), None), Seq(Some(SparkDefault), None, Some(SparkDefault)))) {
        val tmp = Files.createTempDirectory("graft-local-ckpt")
        order.zipWithIndex.foreach { case (m, i) =>
          run(tmp, m, s"t$i", Seq(s"${10 * i + 1}", s"x$i", s"${10 * i + 2}"))
        }
        val values = spark.read.parquet(s"$tmp/values").select($"batch_id", $"v")
          .as[(Int, Int)].collect().sorted.toSeq
        assert(values == Seq((0, 1), (0, 2), (1, 11), (1, 12), (2, 21), (2, 22)), order)
        val letters = spark.read.parquet(s"$tmp/dlq").select($"batch_id", $"input_value")
          .as[(Int, String)].collect().sorted.toSeq
        assert(letters == Seq((0, "x0"), (1, "x1"), (2, "x2")), order)
        FileUtils.deleteDirectory(tmp.toFile)
      }
    } finally spark.conf.unset(LocalFiles.CheckpointManagerKey)
  }

  test("three triggers fork no chmod or readlink") {
    val tmp = Files.createTempDirectory("graft-local-forks")
    drop(tmp, "warm", Seq("1", "x"))
    val q1 = captureToDlq(tmp)
    val q2 = StreamAggState.maintainAggState(
      spark.readStream.text(s"$tmp/in").select(length($"value").as("k"), lit(1L).as("n")),
      Seq("k"), Seq("n"), s"$tmp/state", s"$tmp/ckpt-agg")
    val recording = new jdk.jfr.Recording()
    try {
      q1.processAllAvailable()
      q2.processAllAvailable()
      recording.enable("jdk.ProcessStart")
      recording.start()
      (1 to 3).foreach { i =>
        drop(tmp, s"t$i", Seq(s"$i", s"y$i", s"${i * 7}"))
        q1.processAllAvailable()
        q2.processAllAvailable()
      }
      recording.stop()
    } finally { q1.stop(); q2.stop() }
    val file = tmp.resolve("forks.jfr")
    recording.dump(file)
    recording.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(5).mkString("; ")}")
    val values = spark.read.parquet(s"$tmp/values")
    assert(values.count() == 7 && values.select("batch_id").distinct().count() == 4)
    assert(StreamAggState.readState(spark, s"$tmp/state").map(_.count()).contains(2L))
    FileUtils.deleteDirectory(tmp.toFile)
  }
}
