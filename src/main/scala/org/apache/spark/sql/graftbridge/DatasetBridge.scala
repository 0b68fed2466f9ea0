package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** Bridge to the `private[sql]` `Dataset.ofRows` factory, for operators
  * that wrap a DataFrame's analyzed plan in their own logical node, and
  * to tracked executions that hand Catalyst rows to driver-side folds
  * without a generated deserializer. */
object DatasetBridge {
  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(like.sparkSession.asInstanceOf[classic.SparkSession], plan)

  private def execution(df: DataFrame): QueryExecution =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution

  /** `df`'s rows as Catalyst rows, collected in one SQL execution named
    * `name` (as `collect()` runs one, so listeners see it the same way). */
  def collectInternal(df: DataFrame, name: String): Array[InternalRow] = {
    val qe = execution(df)
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.executedPlan.executeCollect())
  }

  /** `f` applied to each partition of `df`'s Catalyst rows, in one SQL
    * execution named `name`; one result per partition, in partition
    * order. The rows are reused buffers: `f` copies what it keeps. */
  def foldPartitions[T: ClassTag](df: DataFrame, name: String)(
      f: Iterator[InternalRow] => T): Array[T] = {
    val qe = execution(df)
    SQLExecution.withNewExecutionId(qe, Some(name))(
      qe.toRdd.mapPartitions(rows => Iterator.single(f(rows))).collect())
  }
}
