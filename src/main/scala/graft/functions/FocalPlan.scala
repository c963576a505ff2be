package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

import graft.raster.{Focal, FocalOp, LayerMetadata, Neighborhood, RasterLayer}

/** Logical placeholder for a focal (halo-gather stencil) step over a
  * tiled layer. `RasterLayer.focal()` emits one of these instead of
  * eagerly building the gather pipeline, so CATALYST — not the caller
  * — decides when two adjacent stencils share one exchange:
  *
  *   layer.focal(A).focal(B)
  *     analyzed:  FocalPlan(B, FocalPlan(A, child))
  *     optimized: FocalPlan(A then B, child)      (FuseFocalRule)
  *     lowered:   ONE halo gather over radius rA+rB through the
  *                one TileExchange shuffle        (LowerFocalRule)
  *
  * This generalizes the explicit focalChain API (SURVEY §8 candidate
  * 2): users compose focal ops naturally and still ship one halo
  * exchange. Fusion is semantics-preserving by the focalChain
  * argument: the fused kernel replays each step on the progressively
  * shrinking padded window, bit-identical to sequential execution.
  *
  * The node never reaches the physical planner: LowerFocalRule
  * (operator-optimization batch, after FuseFocalRule) expands it into
  * the analyzed plan of [[Focal.focalChainEager]] — the existing
  * Tungsten-encoded Dataset pipeline — and re-aliases the expansion's
  * output to the node's original attribute ids so parent references
  * stay bound. A planner-strategy marker ([[FocalMarkerStrategy]])
  * lets the API detect sessions carrying GraftExtensions; sessions
  * without it fall back to eager construction.
  */
case class FocalPlan(steps: Seq[(Neighborhood, FocalOp)],
                     meta: LayerMetadata,
                     child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // the gather consumes every child column (key + tile); without this
  // ColumnPruning sees an expression-free node and strips col/row out
  // of the child before lowering runs
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): FocalPlan =
    copy(child = newChild)
}

/** Collapse directly-nested focal steps over the same layout into one
  * multi-step gather (outer step runs after inner, so inner steps come
  * first in the fused sequence). */
object FuseFocalRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case FocalPlan(outer, metaO, FocalPlan(inner, metaI, child)) if metaO == metaI =>
      FocalPlan(inner ++ outer, metaO, child)
  }
}

/** Expand any remaining FocalPlan into the eager gather pipeline. Runs
  * in the same optimizer batch as FuseFocalRule but after it, so
  * adjacent nodes fuse before the first expansion. */
case class LowerFocalRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case fp: FocalPlan =>
      val cs = session.asInstanceOf[classic.SparkSession]
      val childDf = classic.Dataset.ofRows(cs, fp.child)
      val lowered = Focal.focalChainEager(new RasterLayer(childDf, fp.meta), fp.steps)
        .df.queryExecution.analyzed
      // the expansion mints fresh attribute ids; re-alias them to the
      // node's ids (matched by name) so parent references stay bound
      val byName = lowered.output.map(a => a.name -> a).toMap
      val aliases: Seq[NamedExpression] = fp.output.map { oldA =>
        Alias(byName(oldA.name), oldA.name)(exprId = oldA.exprId)
      }
      Project(aliases, lowered)
  }
}

/** Inert planner strategy whose presence marks a GraftExtensions
  * session (planner.strategies is the one extension surface that is
  * publicly introspectable). */
case class FocalMarkerStrategy() extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
}

/** API bridge for graft.raster (Column/Dataset internals live behind
  * private[sql]). */
object FocalPlanApi {
  /** Is the FocalPlan machinery (rules + marker) active on this
    * session? */
  def enabled(spark: SparkSession): Boolean =
    spark.sessionState.planner.strategies.exists(_.isInstanceOf[FocalMarkerStrategy])

  def focalDf(df: DataFrame, steps: Seq[(Neighborhood, FocalOp)],
              meta: LayerMetadata): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val child = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed
    classic.Dataset.ofRows(cs, FocalPlan(steps, meta, child))
  }
}
