package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * committed an empty frame writes a dir with no parquet footer) reads
  * as "none" — the same as no epoch at all; it never falls back to an
  * older epoch.
  */
private[graft] final case class EpochStore(spark: SparkSession, path: String) {

  private val root = new Path(path)
  private lazy val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
  private def dir(n: Long): Path = new Path(root, s"epoch=$n")
  // file name of a blob epoch — named for its one user, the Bloom dedup
  // filter, so stores written before this class stay readable
  private val Blob = "bloom.bin"

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
      try Some(spark.read.parquet(dir(m).toString))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    }

  /** Overwrite `epoch=n` with `df`, then GC. */
  def commit(n: Long, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(dir(n).toString)
    gc(n)
  }

  /** [[before]] for a store whose epochs hold one opaque blob. */
  def bytesBefore(n: Long): Option[Array[Byte]] =
    newestBelow(n).map(m => new Path(dir(m), Blob)).filter(fs.exists).map { p =>
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }

  /** [[commit]] for a store whose epochs hold one opaque blob. */
  def commitBytes(n: Long, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(dir(n), Blob), true)
    try out.write(bytes) finally out.close()
    gc(n)
  }

  private def gc(n: Long): Unit =
    epochs.filter(_ < n).dropRight(1).foreach { e => fs.delete(dir(e), true); () }
}
