package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` `Dataset.ofRows` factory, for operators
  * that wrap a DataFrame's analyzed plan in their own logical node. */
object DatasetBridge {
  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(like.sparkSession.asInstanceOf[classic.SparkSession], plan)
}
