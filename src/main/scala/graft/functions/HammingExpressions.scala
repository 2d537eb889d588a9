package graft.functions

import graft.operators.Coded
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-center assignment, struct(prediction, min_dist), in one pass
  * over the k centers: the native form of [[Distances.assignComposed]],
  * whose interpreted higher-order functions build the distance array
  * twice per row. Distance semantics = [[Distances.hamming]]: simple
  * matching, null == null matches, one mismatch per missing position;
  * ties go to the LOWEST center index (numpy-argmin first-wins, SURVEY
  * §3.1 R6).
  *
  * The centers are coded as one dictionary ([[Coded.Centers]]) — literal
  * centers once per task, a centers column once per row — and each row is
  * assigned by the engine's Hamming kernel, [[Coded.nearest]]. With
  * `nullsAsSentinel` a null feature element reads as K-modes' null
  * category, so K-modes callers pass the raw features column.
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

/** struct(prediction, min_dist) of the nearest of `centers` under the
  * frequency-weighted kernel [[Coded.nearestWeighted]] with the match
  * costs `cost`, a null feature element read as K-modes' null category:
  * [[graft.operators.FrequencyAssign]]'s second pass. Null for a null
  * array.
  */
case class WeightedAssign(child: Expression, centers: Coded.Centers,
    cost: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("prediction", IntegerType, nullable = false),
    StructField("min_dist", DoubleType, nullable = false)))
  override def prettyName: String = "graft_weighted_assign"
  override def flatArguments: Iterator[Any] = Iterator(child)

  /** struct(prediction, min_dist) of the nearest of the centers. */
  def assign(features: ArrayData): InternalRow = {
    val row = centers.code(features, graft.operators.ArrayModeAggregator.NullSentinelUtf8)
    val p = Coded.nearestWeighted(row, 0, row.length, centers.rows, cost)
    new GenericInternalRow(Array[Any](p,
      Coded.weighted(row, 0, row.length, centers.rows(p), cost(p))))
  }

  override def nullSafeEval(f: Any): Any = assign(f.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("weightedAssign", this)
    nullSafeCodeGen(ctx, ev, f => s"${ev.value} = $self.assign($f);")
  }

  override protected def withNewChildInternal(newChild: Expression): WeightedAssign =
    copy(child = newChild)
}
