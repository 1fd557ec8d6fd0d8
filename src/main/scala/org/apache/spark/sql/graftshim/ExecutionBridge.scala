package org.apache.spark.sql.graftshim

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.ThreadUtils

/** Bridge to Spark's private[spark] thread helpers: run a body on a
  * pool thread that carries the calling thread's active session and
  * local properties (job group, job tags, SQL execution ids), the way
  * broadcast and subquery execution hand work to their pools.
  */
object ExecutionBridge {
  /** An unbounded pool of daemon threads named `prefix-N`; idle threads
    * exit after a minute.
    */
  def daemonPool(prefix: String): ExecutorService =
    ThreadUtils.newDaemonCachedThreadPool(prefix)

  def withThreadLocalCaptured[T](spark: SparkSession, pool: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[ClassicSparkSession], pool)(body)
}
