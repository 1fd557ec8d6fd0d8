package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BasePredicate, Expression, Predicate, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.BlockBridge
import org.apache.spark.storage.StorageLevel

/** The error rows one values execution left behind: a persisted RDD
  * with the rows of `output`, derived from that execution's capture
  * RDD. A partition whose block is missing recomputes through that
  * lineage, so the rows are complete whether or not the values action
  * finished.
  */
final case class ErrorRows(output: Seq[Attribute], rdd: RDD[InternalRow],
    stats: Option[Statistics])

/** One ErrorFrame's hand-off point between its values branch and its
  * error branch. Holds only the latest execution's rows: a replaced
  * RDD stays alive while an errors frame reads it, and Spark's
  * ContextCleaner drops its blocks once nothing does.
  */
final class ErrorRowsSlot {
  @volatile private var latest: Option[ErrorRows] = None

  private[graft] def offer(rows: ErrorRows): Unit = latest = Some(rows)

  /** The latest rows, if they carry every attribute in `needed`. */
  def rowsWith(needed: Seq[Attribute]): Option[ErrorRows] = latest.filter { r =>
    needed.forall(a => r.output.exists(o => o.exprId == a.exprId && o.dataType == a.dataType))
  }

  override def toString: String = "error rows"
}

/** Passes every row of `child` through, and copies the rows for which
  * `isError` holds into `slot` for the error branch. It sits under the
  * values branch's `!isError` filter, which the optimizer cannot push
  * through it, so the tee sees the error rows the filter drops.
  */
case class ErrorTeePlan(isError: Expression, slot: ErrorRowsSlot, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): ErrorTeePlan =
    copy(child = newChild)
}

object ErrorTeePlan {
  /** Per-partition cap on teed error rows: a partition over it
    * leaves no block, and the error branch recomputes it.
    */
  val MaxBufferedBytes: Long = 64L << 20
}

/** Physical [[ErrorTeePlan]]. Each execution derives a persisted
  * errors RDD from its input RDD and offers it to the slot. A task
  * that reads its input to the end stores the partition's error rows
  * as that RDD's block; a task cut short (a limit, a failure) stores
  * nothing, and the error branch recomputes the partition. The slot
  * stays on the driver when generated code ships the plan to tasks.
  */
case class ErrorTeeExec(isError: Expression, @transient slot: ErrorRowsSlot, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def nodeName: String = "ErrorTee"
  override protected def stringArgs: Iterator[Any] = Iterator(isError)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numErrorRows" -> SQLMetrics.createMetric(sparkContext, "number of error rows teed"),
    "teedPartitions" -> SQLMetrics.createMetric(sparkContext, "partitions teed"))

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.execute()
    val attrs = child.output
    val cond = isError
    val errors = in.mapPartitionsWithIndex { (i, it) =>
      val p = ErrorTeeExec.predicate(cond, attrs, i)
      it.filter(p.eval).map(_.copy())
    }.setName("graft error rows").persist(StorageLevel.MEMORY_AND_DISK)
    slot.offer(ErrorRows(attrs, errors, logicalLink.map(_.stats)))
    val errorsId = errors.id
    val numErrorRows = longMetric("numErrorRows")
    val teedPartitions = longMetric("teedPartitions")
    in.mapPartitionsWithIndex({ (i, it) =>
      val p = ErrorTeeExec.predicate(cond, attrs, i)
      new Iterator[InternalRow] {
        private var teed = new ArrayBuffer[InternalRow]
        private var bytes = 0L
        override def hasNext: Boolean = {
          val more = it.hasNext
          if (!more && teed != null) {
            BlockBridge.putRddBlock(errorsId, i, teed.iterator, StorageLevel.MEMORY_AND_DISK)
            numErrorRows += teed.size
            teedPartitions += 1
            teed = null
          }
          more
        }
        override def next(): InternalRow = {
          val row = it.next()
          if (teed != null && p.eval(row)) {
            val c = row.copy()
            teed += c
            bytes += (c match { case u: UnsafeRow => u.getSizeInBytes.toLong; case _ => 64L })
            if (bytes > ErrorTeePlan.MaxBufferedBytes) teed = null
          }
          row
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ErrorTeeExec =
    copy(child = newChild)
}

object ErrorTeeExec {
  private def predicate(cond: Expression, attrs: Seq[Attribute], index: Int): BasePredicate = {
    val p = Predicate.create(cond, attrs)
    p.initialize(index)
    p
  }
}

object ErrorTeeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ErrorTeePlan(isError, slot, child) => ErrorTeeExec(isError, slot, planLater(child)) :: Nil
    case _ => Nil
  }
}
