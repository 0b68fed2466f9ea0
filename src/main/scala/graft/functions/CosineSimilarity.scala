package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity between two
  * `array<float>` embedding columns, computed in double precision.
  *
  * This is the engine's one custom scalar (SURVEY.md §2c / §7.4): a
  * codegen'd `Expression` rather than a Scala UDF so the similarity
  * kernel stays inside WholeStageCodegen — no boxing, no
  * serialization, no codegen fence around the hot loop. At 100 TB the
  * brute-force rerank step is exactly this expression over millions of
  * candidate pairs per executor, so the kernel being a tight primitive
  * loop is what makes the rerank affordable.
  *
  * Semantics: null if either side is null, lengths differ, or either
  * norm is zero (accumulation in double; float inputs upcast exactly).
  * The DuckDB oracle mirrors this exact formula — sequential
  * index-order double accumulation — so results hash-match bit-exactly.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi: Double = x.getFloat(i)
      val yi: Double = y.getFloat(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  // locals via ctx.freshName, as in IntDotProduct: fixed identifiers
  // collide when two calls land in one generated method (Janino
  // "Redefinition of local variable" → interpreted fallback).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val Seq(n, dot, na, nb, i, x, y, denom) =
        Seq("n", "dot", "na", "nb", "i", "x", "y", "denom").map(ctx.freshName)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.getFloat($i);
         |    double $y = $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point. */
  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
