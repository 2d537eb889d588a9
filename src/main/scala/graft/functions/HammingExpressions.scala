package graft.functions

import graft.operators.Coded
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd fused nearest-mode assignment: one pass over the k centers
  * computing argmin + min distance together. The composed Column form
  * (`struct(argminIndex(d), array_min(d))`) duplicates the distance
  * array expression (computed twice per row) and every piece of it is a
  * CodegenFallback higher-order function — this expression is the inner
  * loop of `KModesModel.transform` and every cost pass, so it gets the
  * native treatment like [[DotProduct]].
  *
  * Distance semantics = the built-in tree [[Distances.hamming]]:
  * position-wise simple matching, null-safe (null == null matches),
  * length difference counts one mismatch per missing position. Ties go to
  * the LOWEST center index (numpy-argmin first-wins, SURVEY §3.1 R6).
  *
  * The centers are coded as one dictionary ([[Coded.Centers]]) — literal
  * (foldable) centers once per task, a centers column once per row — and
  * each row is coded against it and assigned by the engine's one int
  * Hamming kernel, [[Coded.nearest]]. With `nullsAsSentinel` a null
  * feature element reads as K-modes' null category
  * (`ArrayModeAggregator.NullSentinel`), so K-modes callers pass the raw
  * features column instead of a null-normalized copy.
  */
case class HammingAssign(left: Expression, right: Expression,
    nullsAsSentinel: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("prediction", IntegerType, nullable = false),
    StructField("min_dist", IntegerType, nullable = false)))
  override def prettyName: String = "graft_hamming_assign"

  @transient private lazy val foldedCenters =
    new Coded.Centers(right.eval().asInstanceOf[ArrayData])

  private def nullAs =
    if (nullsAsSentinel) graft.operators.ArrayModeAggregator.NullSentinelUtf8 else null

  /** struct(prediction, min_dist) of the nearest of `centers`. */
  def assign(features: ArrayData, centers: ArrayData): InternalRow = {
    val cs = if (right.foldable) foldedCenters else new Coded.Centers(centers)
    val r = cs.nearest(features, nullAs)
    new GenericInternalRow(Array[Any](Coded.prediction(r), Coded.minDist(r)))
  }

  override def nullSafeEval(f: Any, c: Any): Any =
    assign(f.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hammingAssign", this)
    nullSafeCodeGen(ctx, ev, (f, c) => s"${ev.value} = $self.assign($f, $c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingAssign =
    copy(left = newLeft, right = newRight)
}
