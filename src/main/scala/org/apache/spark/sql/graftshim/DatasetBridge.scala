package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the private[sql] Dataset.ofRows — builds a DataFrame from a
  * custom LogicalPlan node.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed

  /** A DataFrame over `rdd` whose rows have the layout of `output`
    * (same attributes, so columns resolved against the plan `output`
    * came from still resolve).
    */
  def ofRdd(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
      stats: Option[Statistics]): DataFrame = {
    val session = spark.asInstanceOf[ClassicSparkSession]
    ClassicDataset.ofRows(session, LogicalRDD(output, rdd)(session, originStats = stats))
  }
}
