package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.LocalFiles

/** The epoch-keyed state store every stateful streaming member keeps:
  * trigger `N` reads the newest `epoch=M` with `M < N` ([[before]]) and
  * overwrites `epoch=N` ([[commit]]). A trigger replayed after a crash
  * therefore recomputes against the untouched prior epoch and rewrites
  * its own — never appends, never double counts (D-Streams' recovery
  * by recomputation from immutable prior state; StoreReplayPropertySpec
  * proves it for every member and every crash point).
  *
  * GC is the one policy: after a commit of `N`, only the newest epoch
  * below `N` is replay-reachable, so every older one is deleted — a
  * store holds at most two epochs between triggers, never one per
  * trigger. Epochs above `N` are never touched.
  *
  * An epoch that exists but holds no readable rows (a trigger that
  * committed an empty frame writes a dir with no parquet footer, a torn
  * write lacks its `_SUCCESS` marker) reads as "none" — the same as no
  * epoch at all; it never falls back to an older epoch.
  *
  * A commit records the frame's schema beside its parquet files, and a
  * read uses it, so reading state costs no schema-inference job. An
  * epoch without the record (written before it existed) still reads,
  * by inference.
  */
private[graft] final case class EpochStore(spark: SparkSession, path: String) {

  private val root = new Path(path)
  private lazy val fs = LocalFiles.fileSystem(spark, root)
  private def dir(n: Long): Path = new Path(root, s"epoch=$n")
  // file name of a blob epoch — named for its one user, the Bloom dedup
  // filter, so stores written before this class stay readable
  private val Blob = "bloom.bin"
  // Spark's file listing skips names starting with `_`
  private val SchemaFile = "_graft_schema.json"

  /** Epoch ids present, ascending; names that do not parse are ignored. */
  def epochs: Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case n if n.startsWith("epoch=") => n.drop(6).toLongOption
        case _ => None
      })
      .sorted

  private def newestBelow(n: Long): Option[Long] = epochs.filter(_ < n).lastOption

  /** The state a trigger `n` consumes: the newest epoch below `n`. */
  def before(n: Long): Option[DataFrame] =
    newestBelow(n).flatMap { m =>
      val names = fs.listStatus(dir(m)).map(_.getPath.getName).toSet
      if (!names("_SUCCESS") || !names.exists(_.startsWith("part-"))) None
      else {
        val schema = Option.when(names(SchemaFile))(
          DataType.fromJson(new String(readAll(new Path(dir(m), SchemaFile)), "UTF-8"))
            .asInstanceOf[StructType])
        try Some(schema.fold(spark.read)(spark.read.schema).parquet(dir(m).toString))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      }
    }

  /** Overwrite `epoch=n` with `df`, record its schema, then GC. */
  def commit(n: Long, df: DataFrame): Unit = {
    LocalFiles.writeParquet(df, dir(n).toString)
    write(new Path(dir(n), SchemaFile), df.schema.json.getBytes("UTF-8"))
    gc(n)
  }

  /** [[before]] for a store whose epochs hold one opaque blob. */
  def bytesBefore(n: Long): Option[Array[Byte]] =
    newestBelow(n).map(m => new Path(dir(m), Blob)).filter(fs.exists).map(readAll)

  /** [[commit]] for a store whose epochs hold one opaque blob. */
  def commitBytes(n: Long, bytes: Array[Byte]): Unit = {
    write(new Path(dir(n), Blob), bytes)
    gc(n)
  }

  private def readAll(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def write(p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def gc(n: Long): Unit =
    epochs.filter(_ < n).dropRight(1).foreach { e => fs.delete(dir(e), true); () }
}
