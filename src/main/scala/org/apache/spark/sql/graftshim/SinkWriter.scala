package org.apache.spark.sql.graftshim

import java.io.IOException
import java.util.{Date, UUID}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.{FileOutputCommitter, FileOutputFormat}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec, SparkHadoopWriterUtils}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.shuffle.FetchFailedException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{SerializableConfiguration, Utils}

/** graft's parquet sink writer: Spark's file write (`FileFormatWriter`
  * under `df.write.mode("overwrite").parquet(dir)`) without its
  * per-task fixed cost, and with a routed form that writes several
  * sinks in one job.
  *
  * Spark's write task carries its Hadoop conf in its closure, twice
  * (about 1100 properties, 112 KB a copy), so every task deserializes
  * a ~236 KB binary. Here the frame is planned once, the conf is
  * broadcast once per write, and each task copies it and sets its own
  * MapReduce task ids. Everything else is Spark's: the commit protocol
  * (`spark.sql.sources.commitProtocolClass`), the parquet write support
  * and its conf keys, the written schema (every parquet column
  * optional, the frame's own nullability in Spark's row metadata),
  * file names, `_SUCCESS` markers, partition 0's
  * schema-only file when a sink gets no row, task abort and job abort,
  * task output metrics and the cache refresh by path.
  *
  * One job commits through one protocol: the output-commit coordinator
  * authorizes one task commit per task attempt, and denies a second
  * one forever. The first sink's dir is the protocol's output path;
  * the other sinks' files are staged like Spark's custom partition
  * locations (`newTaskTempFileAbsPath`) and moved on job commit, and
  * their `_SUCCESS` markers are written here.
  */
object SinkWriter {

  /** A sink: the frame's rows (`column` None) or the non-null values of
    * its struct column `column`, written to `dir` with `schema` through
    * `factory`; `conf` holds the Hadoop settings in which this sink's
    * conf differs from the job's (its row schema, for all but the
    * first sink).
    */
  private[graftshim] final case class Sink(column: Option[Int], dir: String,
      schema: StructType, factory: OutputWriterFactory, conf: Map[String, String])

  /** Overwrite `dir` with `df` as parquet, with `hadoopConf` as the
    * write's Hadoop conf.
    */
  def write(df: DataFrame, dir: String, hadoopConf: Configuration): Unit =
    prepare(df, Seq(None -> dir), hadoopConf).run()

  /** Overwrite `dirs(i)` with the non-null values of `df`'s struct
    * column `i` as parquet, for every `i`, in one job. A row goes to
    * every sink whose column is not null in it.
    */
  def writeRouted(df: DataFrame, dirs: Seq[String], hadoopConf: Configuration): Unit = {
    require(dirs.size == df.schema.size, s"${df.schema.size} columns for ${dirs.size} sinks")
    prepare(df, dirs.indices.map(Some(_)).zip(dirs), hadoopConf).run()
  }

  /** Plans `df`, clears the sinks' dirs, sets the job up and
    * broadcasts its conf; [[Prepared.run]] writes, and must follow.
    */
  private[graftshim] def prepare(df: DataFrame, sinks: Seq[(Option[Int], String)],
      hadoopConf: Configuration): Prepared = {
    require(!df.isStreaming, "a streaming frame cannot be written as a batch")
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val spark = ds.sparkSession
    val format = new ParquetFileFormat
    val schemas = sinks.map {
      case (None, _) => df.schema
      case (Some(i), _) => df.schema(i).dataType match {
        case s: StructType => s
        case t => throw new IllegalArgumentException(
          s"sink column ${df.schema(i).name} is $t, not a struct")
      }
    }
    schemas.foreach { s =>
      DataSourceUtils.verifySchema(format, s)
      DataSourceUtils.checkFieldNames(format, s)
    }
    val paths = sinks.map { case (_, dir) =>
      val p = new Path(dir)
      p.getFileSystem(hadoopConf).makeQualified(p)
    }
    val uuid = UUID.randomUUID.toString
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass, uuid, paths.head.toString)
    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, paths.head)
    val jobConf = job.getConfiguration
    val factory = format.prepareWrite(spark, job, Map.empty, schemas.head)
    // prepareWrite records its schema in the job's conf: each further
    // sink keeps the settings its own prepareWrite makes differently
    val described = sinks.indices.map { i =>
      if (i == 0) Sink(sinks(i)._1, paths(i).toString, schemas(i), factory, Map.empty)
      else {
        val own = Job.getInstance(jobConf)
        val f = format.prepareWrite(spark, own, Map.empty, schemas(i))
        val differs = own.getConfiguration.iterator.asScala.map(e => e.getKey -> e.getValue)
          .filter { case (k, v) => jobConf.getRaw(k) != v }.toMap
        Sink(sinks(i)._1, paths(i).toString, schemas(i), f, differs)
      }
    }
    // overwrite: clear every sink first; a sink dir that cannot be made
    // fails the write before its job starts
    paths.foreach { p =>
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p) && !committer.deleteWithJob(fs, p, true))
        throw QueryExecutionErrors.cannotClearOutputDirectoryError(p)
    }
    paths.tail.foreach { p =>
      if (!p.getFileSystem(hadoopConf).mkdirs(p)) throw new IOException(s"cannot make $p")
    }
    jobConf.set("spark.sql.sources.writeJobUUID", uuid)
    committer.setupJob(job)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(jobConf))
    val task = new SinkTask(conf, committer, SparkHadoopWriterUtils.createJobTrackerID(new Date),
      described.toArray, spark.sessionState.conf.maxRecordsPerFile)
    new Prepared(ds, job, committer, conf, task, paths)
  }

  /** A write whose job is set up: [[run]] runs `task` over the frame,
    * commits the job and refreshes what the session caches of its
    * dirs, or aborts the job.
    */
  private[graftshim] final class Prepared(ds: ClassicDataset[_], job: Job,
      committer: FileCommitProtocol, conf: Broadcast[SerializableConfiguration],
      val task: SinkTask, paths: Seq[Path]) {

    def run(): Unit = {
      val spark = ds.sparkSession
      val sc = spark.sparkContext
      try SQLExecution.withNewExecutionId(ds.queryExecution, Some("graft sink write")) {
        val rows = ds.queryExecution.toRdd
        // an empty plan still writes partition 0's schema-only files
        val rdd = if (rows.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rows
        val commits = new Array[TaskCommitMessage](rdd.partitions.length)
        try {
          sc.runJob(rdd, task, rdd.partitions.indices, (i: Int, m: TaskCommitMessage) => {
            committer.onTaskCommit(m)
            commits(i) = m
          })
          committer.commitJob(job, commits.toSeq)
          if (job.getConfiguration.getBoolean(
              FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, true))
            paths.tail.foreach { p =>
              val marker = new Path(p, FileOutputCommitter.SUCCEEDED_FILE_NAME)
              marker.getFileSystem(job.getConfiguration).create(marker, true).close()
            }
        } catch {
          case t: Throwable =>
            committer.abortJob(job)
            throw t
        }
      } finally conf.destroy()
      paths.foreach { p =>
        spark.sharedState.cacheManager.recacheByPath(spark, p,
          p.getFileSystem(job.getConfiguration))
      }
    }
  }

  /** A write task: copies the broadcast conf, sets its task ids, writes
    * each row to every sink that takes it and commits, or aborts.
    * Partition 0 opens every sink's file up front, so a sink that gets
    * no row still gets a schema-only file; other partitions open a file
    * at a sink's first row.
    */
  private[graftshim] final class SinkTask(conf: Broadcast[SerializableConfiguration],
      committer: FileCommitProtocol, jobTrackerId: String, sinks: Array[Sink],
      maxRecordsPerFile: Long)
      extends ((TaskContext, Iterator[InternalRow]) => TaskCommitMessage) with Serializable {

    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): TaskCommitMessage = {
      val jobId = SparkHadoopWriterUtils.createJobID(jobTrackerId, ctx.stageId())
      val attemptId = new TaskAttemptID(
        new TaskID(jobId, TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
      val hadoopConf = new Configuration(conf.value.value)
      hadoopConf.set("mapreduce.job.id", jobId.toString)
      hadoopConf.set("mapreduce.task.id", attemptId.getTaskID.toString)
      hadoopConf.set("mapreduce.task.attempt.id", attemptId.toString)
      hadoopConf.setBoolean("mapreduce.task.ismap", true)
      hadoopConf.setInt("mapreduce.task.partition", 0)
      val attempt = new TaskAttemptContextImpl(hadoopConf, attemptId)
      committer.setupTask(attempt)
      val outputs = sinks.map(new Output(_, attempt))
      try Utils.tryWithSafeFinallyAndFailureCallbacks(block = {
        if (ctx.partitionId() == 0) outputs.foreach(_.open())
        while (rows.hasNext) {
          val row = rows.next()
          var i = 0
          while (i < outputs.length) { outputs(i).offer(row); i += 1 }
        }
        outputs.foreach(_.close())
        // every file of the task is staged under the first sink's dir
        val fs = new Path(sinks.head.dir).getFileSystem(hadoopConf)
        val bytes = outputs.iterator.flatMap(_.files)
          .map(f => fs.getFileStatus(new Path(f)).getLen).sum
        val commit = committer.commitTask(attempt)
        val metrics = ctx.taskMetrics().outputMetrics
        metrics.setRecordsWritten(outputs.map(_.rows).sum)
        metrics.setBytesWritten(bytes)
        commit
      })(catchBlock = {
        try outputs.foreach(_.close()) finally committer.abortTask(attempt)
      }, finallyBlock = outputs.foreach(_.close()))
      catch {
        case e: FetchFailedException => throw e
        case t: Throwable =>
          throw QueryExecutionErrors.taskFailedWhileWritingRowsError(sinks.head.dir, t)
      }
    }

    /** One sink's files within a task. */
    private final class Output(sink: Sink, attempt: TaskAttemptContext) {
      private val context =
        if (sink.conf.isEmpty) attempt
        else {
          val c = new Configuration(attempt.getConfiguration)
          sink.conf.foreach { case (k, v) => c.set(k, v) }
          new TaskAttemptContextImpl(c, attempt.getTaskAttemptID)
        }
      private val first = sink eq sinks.head
      private val width = sink.schema.size
      val files = ArrayBuffer.empty[String]
      private var writer: OutputWriter = _
      private var inFile = 0L
      var rows = 0L

      def open(): Unit = {
        val spec = FileNameSpec("", f"-c${files.size}%03d" + sink.factory.getFileExtension(context))
        val path =
          if (first) committer.newTaskTempFile(context, None, spec)
          else committer.newTaskTempFileAbsPath(context, sink.dir, spec)
        writer = sink.factory.newInstance(path, sink.schema, context)
        files += path
        inFile = 0
      }

      def offer(row: InternalRow): Unit = sink.column match {
        case None => write(row)
        case Some(i) => if (!row.isNullAt(i)) write(row.getStruct(i, width))
      }

      private def write(row: InternalRow): Unit = {
        if (writer == null || (maxRecordsPerFile > 0 && inFile >= maxRecordsPerFile)) {
          close()
          open()
        }
        writer.write(row)
        inFile += 1
        rows += 1
      }

      def close(): Unit = if (writer != null) try writer.close() finally writer = null
    }
  }
}
