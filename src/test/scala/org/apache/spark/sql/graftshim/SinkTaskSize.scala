package org.apache.spark.sql.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame

/** The size of the function a [[SinkWriter]] write task runs, as
  * Spark's closure serializer writes it into the task binary.
  */
object SinkTaskSize {
  /** Overwrites `dir` with `df` and returns its task function's size. */
  def apply(df: DataFrame, dir: String): Int = {
    val write = SinkWriter.prepare(df, Seq(None -> dir),
      df.sparkSession.sessionState.newHadoopConf())
    val size = SparkEnv.get.closureSerializer.newInstance().serialize(write.task).limit()
    write.run()
    size
  }
}
