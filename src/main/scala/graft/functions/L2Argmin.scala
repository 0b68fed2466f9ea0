package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Native Catalyst expression: nearest-centroid argmin of squared L2
  * distance against a TRAINED model (driver-side k×d matrix), emitting
  * `struct<d2: double, cl: bigint>`.
  *
  * This is the Lloyd-assignment hot loop (SimilarityOps.lloydAssign —
  * q150/q162/q202/q210/q218/q238 all pass through it; each training
  * round runs its grouped sibling [[GroupedL2Argmin]]). The
  * previous form folded a broadcast `array<struct>` model column with
  * interpreted higher-order functions: HOFs are CodegenFallback, so
  * the n×k×d kernel ran boxed AND was evaluated once per getField
  * consumer — profiled at ~1.2 s per Lloyd round at sf0.1 (the whole
  * of q162's bench dominance). As a codegen'd expression the kernel is
  * a tight primitive double loop inside WholeStageCodegen, and
  * subexpression elimination evaluates it once per row.
  *
  * The model lands in the generated class via `addReferenceObj`, NOT
  * as plan literals: literal centroids change the generated source
  * every training round and Janino-recompile costs more than the
  * arithmetic (measured 25+ s at sf0.1 — the trap the old broadcast
  * form existed to avoid). A reference object keeps the source —
  * hence the codegen cache key — byte-identical across rounds; only
  * the references array changes. The matrix ships with the stage's
  * task binary (one broadcast per stage), the same distribution cost
  * as the data-column form. k here is model state (bounded by the
  * lloydCentroids collect rule), so the reference stays executor-safe
  * at 100 TB for the same reason the collect does.
  *
  * Exactness (oracle parity): per centroid, d2 accumulates (x−w)² in
  * ASCENDING dim order in double (float inputs upcast exactly — the
  * identical IEEE op sequence as the old zip_with+aggregate fold);
  * centroids scan in the given (cl-ascending) order keeping the
  * STRICTLY smaller d2, so ties break to the lowest cl — the oracle's
  * `ORDER BY d2, cl` row_number rule. A length-mismatched centroid is
  * skipped, matching the old fold where a null-padded zip_with made
  * that centroid's d2 null and never better than the accumulator
  * (no such model exists in practice). Empty model ⇒ (MaxValue, −1),
  * as before. */
case class L2Argmin(child: Expression, cls: Array[Long],
                    cents: Array[Array[Double]]) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cl", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable

  private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (cls.length == cents.length) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"l2_argmin model mismatch: ${cls.length} labels vs ${cents.length} centroids")
    case other => TypeCheckResult.TypeCheckFailure(
      s"l2_argmin expects array<float> or array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var bestD = Double.MaxValue
    var bestC = -1L
    var j = 0
    while (j < cents.length) {
      val w = cents(j)
      if (w.length == n) {
        var s = 0.0
        var i = 0
        while (i < n) {
          val xi: Double = if (childIsFloat) x.getFloat(i) else x.getDouble(i)
          val d = xi - w(i)
          s += d * d
          i += 1
        }
        if (s < bestD) { bestD = s; bestC = cls(j) }
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val clsRef = ctx.addReferenceObj("cls", cls, "long[]")
    val getter = if (childIsFloat) "getFloat" else "getDouble"
    // Every local via freshName: with a non-nullable child,
    // nullSafeCodeGen emits no scoping block, so two kernel instances
    // in one generated function (e.g. subexpressionElimination off)
    // would otherwise collide in Janino and silently fall back to
    // interpreted execution.
    val n = ctx.freshName("n"); val bestD = ctx.freshName("bestD")
    val bestC = ctx.freshName("bestC"); val j = ctx.freshName("j")
    val w = ctx.freshName("w"); val s = ctx.freshName("s")
    val i = ctx.freshName("i"); val x = ctx.freshName("x")
    val d = ctx.freshName("d")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $n = $a.numElements();
         |double $bestD = Double.MAX_VALUE;
         |long $bestC = -1L;
         |for (int $j = 0; $j < $centsRef.length; $j++) {
         |  double[] $w = $centsRef[$j];
         |  if ($w.length == $n) {
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $x = (double) $a.$getter($i);
         |      double $d = $x - $w[$i];
         |      $s += $d * $d;
         |    }
         |    if ($s < $bestD) { $bestD = $s; $bestC = $clsRef[$j]; }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ java.lang.Double.valueOf($bestD), java.lang.Long.valueOf($bestC) });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): L2Argmin =
    copy(child = newChild)
}

object L2Argmin {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point: `emb` scored against a driver-side
    * (cl, centroid) model, cl-ascending order = tie order. */
  def l2Argmin(emb: Column, model: Seq[(Long, Array[Double])]): Column =
    ColumnBridge.column(L2Argmin(ColumnBridge.expression(emb),
      model.map(_._1).toArray, model.map(_._2).toArray))

  /** Column-API entry point for [[L2Scored]]. */
  def l2Scored(emb: Column, model: Seq[(Long, Array[Double])]): Column =
    ColumnBridge.column(L2Scored(ColumnBridge.expression(emb),
      model.map(_._1).toArray, model.map(_._2).toArray))

  /** Column-API entry point for [[GroupedL2Argmin]]: model rows
    * (g, cl, centroid), scanned in the GIVEN order within each group
    * (callers pass (g, cl)-ascending — the tie order). */
  def groupedL2Argmin(g: Column, emb: Column,
                      model: Seq[(Long, Long, Array[Double])]): Column =
    ColumnBridge.column(GroupedL2Argmin(
      ColumnBridge.expression(g), ColumnBridge.expression(emb),
      model.map(_._1).toArray, model.map(_._2).toArray, model.map(_._3).toArray))
}

/** [[L2Argmin]]'s ALL-DISTANCES sibling: the full scored array
  * `array<struct<d2: double, cl: bigint>>` in model (cl-ascending)
  * order — what the simplified-silhouette pass (q218: a = own
  * centroid, b = nearest other) and the in-plan IVF probe selection
  * (`sort_array` + slice to nprobe: the elements are non-null structs,
  * so `sort_array` orders them as `array_sort` would, with no lambda)
  * consume. Same IEEE accumulation
  * order, same reference-object model, same length-mismatch → null-d2
  * omission as the old zip_with fold's null cell (mismatched
  * centroids are emitted with d2 = +Infinity rather than dropped so
  * the array KEEPS model arity — no such model exists in practice;
  * +Infinity loses every strict-< and sorts last, matching the old
  * null semantics under the q218 filters). */
case class L2Scored(child: Expression, cls: Array[Long],
                    cents: Array[Array[Double]]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cl", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable

  private lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (cls.length == cents.length) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"l2_scored model mismatch: ${cls.length} labels vs ${cents.length} centroids")
    case other => TypeCheckResult.TypeCheckFailure(
      s"l2_scored expects array<float> or array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Any](cents.length)
    var j = 0
    while (j < cents.length) {
      val w = cents(j)
      var s = Double.PositiveInfinity
      if (w.length == n) {
        s = 0.0
        var i = 0
        while (i < n) {
          val xi: Double = if (childIsFloat) x.getFloat(i) else x.getDouble(i)
          val d = xi - w(i)
          s += d * d
          i += 1
        }
      }
      out(j) = new GenericInternalRow(Array[Any](s, cls(j)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val clsRef = ctx.addReferenceObj("cls", cls, "long[]")
    val getter = if (childIsFloat) "getFloat" else "getDouble"
    // freshName every local — see L2Argmin.doGenCode.
    val n = ctx.freshName("n"); val out = ctx.freshName("out")
    val j = ctx.freshName("j"); val w = ctx.freshName("w")
    val s = ctx.freshName("s"); val i = ctx.freshName("i")
    val x = ctx.freshName("x"); val d = ctx.freshName("d")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$centsRef.length];
         |for (int $j = 0; $j < $centsRef.length; $j++) {
         |  double[] $w = $centsRef[$j];
         |  double $s = Double.POSITIVE_INFINITY;
         |  if ($w.length == $n) {
         |    $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $x = (double) $a.$getter($i);
         |      double $d = $x - $w[$i];
         |      $s += $d * $d;
         |    }
         |  }
         |  $out[$j] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{ java.lang.Double.valueOf($s), java.lang.Long.valueOf($clsRef[$j]) });
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): L2Scored =
    copy(child = newChild)
}

/** [[L2Argmin]]'s GROUPED sibling for the Lloyd trainer
  * (SimilarityOps.groupedAssign; q224/q234 train one group per
  * subspace, every other model one group): each row carries a group
  * id and folds only ITS group's codebook slice. The model ships as
  * parallel reference arrays pre-sorted by (g, cl); per row the
  * group's contiguous slice is located by linear scan (Σ groups is
  * model state — single digits here, bounded like every codebook), and
  * the argmin within the slice is [[L2Argmin]]'s exact kernel: strict
  * < in cl-ascending order, (x−w)² accumulated in ascending dim order.
  * An unknown group id (impossible by construction — groups come from
  * posexplode over the model's own arity) yields the (MaxValue, −1)
  * sentinel, matching the old filter-then-fold's empty-slice result. */
case class GroupedL2Argmin(left: Expression, right: Expression,
                           gs: Array[Long], cls: Array[Long],
                           cents: Array[Array[Double]]) extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cl", LongType, nullable = false)))
  override def nullable: Boolean = left.nullable || right.nullable

  private lazy val childIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, ArrayType(FloatType, _) | ArrayType(DoubleType, _)) =>
        if (gs.length == cls.length && cls.length == cents.length)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"grouped_l2_argmin model arity mismatch: ${gs.length}/${cls.length}/${cents.length}")
      case other => TypeCheckResult.TypeCheckFailure(
        s"grouped_l2_argmin expects (bigint, array<float|double>), got $other")
    }

  override def nullSafeEval(g: Any, a: Any): Any = {
    val gid = g.asInstanceOf[Long]
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var bestD = Double.MaxValue
    var bestC = -1L
    var j = 0
    while (j < cents.length) {
      if (gs(j) == gid) {
        val w = cents(j)
        if (w.length == n) {
          var s = 0.0
          var i = 0
          while (i < n) {
            val xi: Double = if (childIsFloat) x.getFloat(i) else x.getDouble(i)
            val d = xi - w(i)
            s += d * d
            i += 1
          }
          if (s < bestD) { bestD = s; bestC = cls(j) }
        }
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val clsRef = ctx.addReferenceObj("cls", cls, "long[]")
    val gsRef = ctx.addReferenceObj("gs", gs, "long[]")
    val getter = if (childIsFloat) "getFloat" else "getDouble"
    // freshName every local — see L2Argmin.doGenCode.
    val n = ctx.freshName("n"); val bestD = ctx.freshName("bestD")
    val bestC = ctx.freshName("bestC"); val j = ctx.freshName("j")
    val w = ctx.freshName("w"); val s = ctx.freshName("s")
    val i = ctx.freshName("i"); val x = ctx.freshName("x")
    val d = ctx.freshName("d")
    nullSafeCodeGen(ctx, ev, (g, a) => {
      s"""
         |int $n = $a.numElements();
         |double $bestD = Double.MAX_VALUE;
         |long $bestC = -1L;
         |for (int $j = 0; $j < $centsRef.length; $j++) {
         |  if ($gsRef[$j] == $g) {
         |    double[] $w = $centsRef[$j];
         |    if ($w.length == $n) {
         |      double $s = 0.0;
         |      for (int $i = 0; $i < $n; $i++) {
         |        double $x = (double) $a.$getter($i);
         |        double $d = $x - $w[$i];
         |        $s += $d * $d;
         |      }
         |      if ($s < $bestD) { $bestD = $s; $bestC = $clsRef[$j]; }
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ java.lang.Double.valueOf($bestD), java.lang.Long.valueOf($bestC) });
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GroupedL2Argmin =
    copy(left = newLeft, right = newRight)
}
