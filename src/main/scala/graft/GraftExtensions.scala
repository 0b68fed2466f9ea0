package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions.{CosineSimilarity, IntDotProduct}

/** Session extension wiring (SURVEY.md §7): registers the engine's
  * custom Catalyst pieces so `spark.sql("... cosine_similarity(a,b)")`
  * works alongside the Column API.
  *
  * Also surfaces Spark's own runtime-filter bloom expressions
  * (`bloom_filter_agg` / `might_contain`) as user-callable SQL
  * functions: Catalyst ships them for InjectRuntimeFilter but does
  * not register them publicly, and the explicit semi-join-reduction
  * admission ([[graft.ops.CurationOps.bloomGatedAdmission]]) needs
  * them addressable from SQL — the bloom side of might_contain must
  * be a scalar subquery (or constant), a shape only the SQL path can
  * express.
  *
  * Install with `spark.sql.extensions=graft.GraftExtensions` or the
  * session builder's `withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => CosineSimilarity(children.head, children(1))))
    e.injectFunction((
      new FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "int_dot"),
      (children: Seq[Expression]) => IntDotProduct(children.head, children(1))))
    e.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
      GraftExtensions.bloomAggBuilder))
    e.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
      GraftExtensions.mightContainBuilder))
  }
}

object GraftExtensions {
  private[graft] val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(c)       => new BloomFilterAggregate(c)
    case Seq(c, n)    => new BloomFilterAggregate(c, n)
    case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
    case other => throw new IllegalArgumentException(
      s"bloom_filter_agg takes 1-3 arguments, got ${other.size}")
  }

  private[graft] val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(bf, v) => BloomFilterMightContain(bf, v)
    case other => throw new IllegalArgumentException(
      s"might_contain takes 2 arguments, got ${other.size}")
  }

  /** Register the bloom functions on a LIVE session (idempotent) —
    * the same bindings the injected path provides, for sessions built
    * without `withExtensions` (Verify/Bench construct plain
    * sessions). Temp-function registration is the supported hook for
    * an already-constructed session. */
  def registerBloomFunctions(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_filter_agg", bloomAggBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "might_contain", mightContainBuilder, "built-in")
  }
}
