package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, LocalRelation, Sort}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** The two ends of a driver-side fold: bring bounded state to the
  * driver, and hand a result built there back as a DataFrame.
  *
  *  - [[collectBounded]] collects a frame that must stay small (model
  *    state, per-type series, count matrices) and fails by name past
  *    its bound, so an input that outgrows the fold's assumption
  *    stops with a named error instead of exhausting the driver.
  *  - [[sortedLocal]] orders a result that is already on the driver.
  *    A global `orderBy` over a local relation plans as a range
  *    exchange and a sort, which Spark 4.1 runs as three jobs (a
  *    sampling job, the exchange, the sort) over a few thousand rows
  *    at most. Sorting the relation's rows on the driver with
  *    Catalyst's own ordering gives the same order, and the result
  *    stays a local relation: collecting it launches no job.
  *
  * Both stay off Spark's generated-class cache where they can: the
  * rows a fold collects are converted by Catalyst's interpreted
  * converters, not a per-schema generated deserializer, since a few
  * hundred rows never repay a compile and every class a query adds
  * competes for the cache's 100 entries. */
object DriverResults {

  /** The named error of a driver-side fold whose input outgrew it. */
  def pastBound(what: String, maxRows: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$what: more than $maxRows rows, past the bound of this driver-side fold")

  /** `df`'s rows, or an IllegalArgumentException naming `what` when
    * `df` has more than `maxRows` rows. One job: every partition
    * stops after `maxRows + 1` rows, so at most that many per
    * partition ever reach the driver. */
  def collectBounded(df: DataFrame, maxRows: Int, what: String): Array[Row] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue, s"$what: bad row bound $maxRows")
    val capped = DatasetBridge.ofRows(df,
      LocalLimit(Literal(maxRows + 1), df.queryExecution.analyzed))
    val rows = DatasetBridge.collectInternal(capped, what)
    if (rows.length > maxRows) throw pastBound(what, maxRows)
    val toRow = CatalystTypeConverters.createToScalaConverter(capped.schema)
    rows.map(r => toRow(r).asInstanceOf[Row])
  }

  /** `df` ordered by `cols`, exactly as `df.orderBy(cols: _*)` orders
    * it (the same sort orders, bound by Catalyst and compared with its
    * interpreted ordering: UTF-8 byte order for strings, nulls first
    * ascending and last descending, NaN above every number, −0.0
    * equal to 0.0, ties kept in input order as the stable sort keeps
    * them), as a local relation. `df` must already be on the driver:
    * its optimized plan must be a LocalRelation, such as a `toDF` or
    * `createDataFrame` of driver rows followed by projections. Any
    * other input fails with an IllegalArgumentException naming its
    * plan. */
  def sortedLocal(df: DataFrame, cols: Column*): DataFrame = {
    val local = df.queryExecution.optimizedPlan match {
      case r: LocalRelation => r
      case other => throw new IllegalArgumentException(
        "sortedLocal needs a result already on the driver (a LocalRelation); got " +
          other.treeString.linesIterator.map(_.trim).mkString(" <- ").take(500))
    }
    val order = df.orderBy(cols: _*).queryExecution.analyzed match {
      case Sort(o, true, _, _) => o
      case other => throw new IllegalArgumentException(
        s"sortedLocal sorts by output columns only; got ${other.simpleString(8)}")
    }
    val ordering = new InterpretedOrdering(order, local.output)
    DatasetBridge.ofRows(df, local.copy(data = local.data.sorted(ordering)))
  }
}
