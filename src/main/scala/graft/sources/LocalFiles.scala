package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.graftshim.SinkWriter

/** graft's local file I/O without a forked process per call.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks a `chmod` for
  * every file it creates and every directory it makes, and the
  * `FileContext` behind Spark's default checkpoint manager forks two
  * `readlink`s for every rename — about 5 ms each, against tens of
  * microseconds through `java.nio`. A micro-batch pays them in its
  * offset, commit and source logs and in every parquet file, marker
  * and epoch it writes.
  *
  * graft routes its own local I/O through [[LocalFileSystem]]:
  *  - checkpoints, through [[LocalCheckpointFileManager]], which
  *    `eachTrigger` installs as the session's
  *    `spark.sql.streaming.checkpointFileManagerClass` unless the user
  *    set one ([[installCheckpointManager]]);
  *  - parquet sinks and epoch stores, through the Hadoop conf of
  *    graft's sink writer ([[writeParquet]], [[writeRouted]]), writer
  *    options ([[writerOptions]]) and [[fileSystem]].
  *
  * Paths of any other scheme, and sessions whose Hadoop conf already
  * names a `file:` filesystem, are left as they were.
  */
object LocalFiles {

  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val FileImpl = "fs.file.impl"
  private val NoCache = "fs.file.impl.disable.cache"

  /** Whether graft puts `path` on [[LocalFileSystem]]: it is local under
    * `conf`, and `conf` names no other `file:` filesystem.
    */
  def routes(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file" &&
      Option(conf.get(FileImpl)).forall(_ == classOf[LocalFileSystem].getName)

  /** The Hadoop settings that put a routed path on [[LocalFileSystem]].
    * The filesystem cache is keyed by scheme, not class, so it is
    * bypassed.
    */
  private def settings(path: Path, conf: Configuration): Map[String, String] =
    if (!routes(path, conf)) Map.empty
    else Map(FileImpl -> classOf[LocalFileSystem].getName, NoCache -> "true")

  /** `conf`, with `path` on [[LocalFileSystem]] when graft [[routes]] it. */
  def routed(path: Path, conf: Configuration): Configuration = {
    val extra = settings(path, conf)
    if (extra.isEmpty) conf
    else {
      val copy = new Configuration(conf)
      extra.foreach { case (k, v) => copy.set(k, v) }
      copy
    }
  }

  /** Writer options that route a write to `dir` ([[routed]]). */
  def writerOptions(spark: SparkSession, dir: String): Map[String, String] =
    settings(new Path(dir), spark.sessionState.newHadoopConf())

  /** The filesystem graft reads and writes `path` through. */
  def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(routed(path, spark.sessionState.newHadoopConf()))

  /** Overwrite `dir` with `df` as parquet, through graft's sink writer
    * ([[SinkWriter]]), on [[LocalFileSystem]] when graft [[routes]] it.
    */
  def writeParquet(df: DataFrame, dir: String): Unit =
    SinkWriter.write(df, dir, routed(new Path(dir), df.sparkSession.sessionState.newHadoopConf()))

  /** Overwrite `dirs(i)` with the non-null values of `rows`' struct
    * column `i` as parquet, for every `i`, in one job
    * ([[SinkWriter.writeRouted]]).
    */
  def writeRouted(rows: DataFrame, dirs: String*): Unit = {
    val conf = dirs.foldLeft(rows.sparkSession.sessionState.newHadoopConf()) { (c, d) =>
      routed(new Path(d), c)
    }
    SinkWriter.writeRouted(rows, dirs, conf)
  }

  /** Make [[LocalCheckpointFileManager]] the session's checkpoint manager
    * unless one is set. It stays set: a file source builds its log from
    * the session on the stream thread, after `start()` has returned.
    */
  def installCheckpointManager(spark: SparkSession): Unit =
    if (!spark.sessionState.conf.contains(CheckpointManagerKey))
      spark.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
}

/** `RawLocalFileSystem` whose `setPermission` and `getFileLinkStatus`
  * use `java.nio` instead of forking `chmod` and `readlink`. A mode
  * outside the nine rwx bits and a path that is a symlink go to the
  * parent class; every other call is the parent's.
  */
class RawLocalNioFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner rwx, group rwx, others rwx:
      // bit 8 of the mode down to bit 0
      val perms = PosixFilePermission.values.toSeq.zipWithIndex
        .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      ()
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` filesystem over [[RawLocalNioFileSystem]].
  * Set `spark.hadoop.fs.file.impl` to this class (and
  * `spark.hadoop.fs.file.impl.disable.cache` to true) to route every
  * local write of a session through it.
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalNioFileSystem)

/** Checkpoint manager that serves `file:` checkpoints with Spark's
  * `FileSystemBasedCheckpointFileManager` over [[LocalFileSystem]], and
  * every other path (and a `file:` filesystem the user chose) with the
  * manager Spark would choose by default.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val delegate: CheckpointFileManager =
    if (LocalFiles.routes(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, LocalFiles.routed(path, hadoopConf))
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalFiles.CheckpointManagerKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
