package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native minimum-distance classifier over a multiband tile stack —
  * one fused codegen loop per tile.
  *
  * The composable form (`transform(sequence(...), i => pmod(least(
  * <class distances over nested element_at>), 16))`) is a higher-order
  * function: Spark evaluates the lambda's expression tree INTERPRETED
  * per cell (HOFs never enter whole-stage codegen), which costs ~20 us
  * per cell against this loop's nanoseconds (r21; q_classify_mindist
  * carried ~1.3 s of pure lambda interpretation at sf0.1).
  *
  * Arithmetic is stated exactly as the old expression tree so results
  * are bit-identical:
  *   d_c   = ((v_0 - m_0)^2 + (v_1 - m_1)^2) + ...   (left fold)
  *   p_c   = d_c * 16.0 + cid
  *   best  = least(p_0 .. p_k)   (Spark least: NaN only if ALL NaN)
  *   out   = pmod(best, 16.0)    (NaN propagates)
  *
  * Signatures arrive as JVM literals (cids + flattened means), so the
  * expression is Column-API-only (the TileMaskExpr precedent — no SQL
  * registration; see GraftExtensions).
  */
final case class ClassifyMinDistExpr(child: Expression, cids: Array[Int],
    means: Array[Double], bands: Int, size: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ArrayType(DoubleType)))

  /** A null cell would read as 0.0 and classify as a real value, so
    * band tiles that can hold nulls are refused at analysis (NoData is
    * NaN in this engine, never null). */
  override def checkInputDataTypes(): TypeCheckResult = super.checkInputDataTypes() match {
    case TypeCheckResult.TypeCheckSuccess => child.dataType match {
      case ArrayType(ArrayType(_, true), _) => TypeCheckResult.TypeCheckFailure(
        "classify_mindist: band tiles must not contain nulls (containsNull = false); " +
          "a null cell would classify as 0.0")
      case _ => TypeCheckResult.TypeCheckSuccess
    }
    case failure => failure
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "classify_mindist"

  override protected def nullSafeEval(v: Any): Any = {
    val stack = v.asInstanceOf[ArrayData]
    val bs = Array.tabulate(bands)(b => stack.getArray(b))
    new GenericArrayData(ClassifyMinDistExpr.kernel(bs, cids, means, bands, size))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    val meansRef = ctx.addReferenceObj("means", means, "double[]")
    nullSafeCodeGen(ctx, ev, stack => {
      val bs = ctx.freshName("bs")
      val b = ctx.freshName("b")
      val out = ctx.freshName("out")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData[] $bs =
         |  new org.apache.spark.sql.catalyst.util.ArrayData[$bands];
         |for (int $b = 0; $b < $bands; $b++) { $bs[$b] = $stack.getArray($b); }
         |double[] $out = org.apache.spark.sql.graft.ClassifyMinDistExpr.kernel(
         |  $bs, $cidsRef, $meansRef, $bands, $size);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ClassifyMinDistExpr =
    copy(child = newChild)
}

object ClassifyMinDistExpr {
  /** Shared interpreted/codegen kernel (static call from generated
    * Java, like the TextHash kernels). */
  def kernel(bs: Array[ArrayData], cids: Array[Int], means: Array[Double],
             bands: Int, size: Int): Array[Double] = {
    val out = new Array[Double](size)
    var i = 0
    while (i < size) {
      var best = Double.NaN
      var c = 0
      while (c < cids.length) {
        var d = 0.0 // +0.0 + t0 == t0 exactly (squares are never -0.0)
        var b = 0
        while (b < bands) {
          val v0 = bs(b).getDouble(i)
          val m = means(c * bands + b)
          d += (v0 - m) * (v0 - m)
          b += 1
        }
        val packed = d * 16.0 + cids(c)
        // Spark least: NaN compares greatest, so it wins only when
        // every candidate is NaN
        if (!packed.isNaN && (best.isNaN || packed < best)) best = packed
        c += 1
      }
      out(i) =
        if (best.isNaN) Double.NaN
        else { // pmod(best, 16.0); packed values are non-negative here
          val r = best % 16.0
          if (r < 0) (r + 16.0) % 16.0 else r
        }
      i += 1
    }
    out
  }

  def classifyMinDist(stack: Column, cids: Array[Int], means: Array[Double],
                      bands: Int, size: Int): Column =
    ExpressionUtils.column(ClassifyMinDistExpr(
      ExpressionUtils.expression(stack), cids, means, bands, size))
}
