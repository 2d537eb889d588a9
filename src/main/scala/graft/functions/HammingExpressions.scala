package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for nearest-mode assignment, shared by interpreted and
  * generated paths. Distance semantics = the built-in tree
  * [[Distances.hamming]]: position-wise simple matching, null-safe
  * (null == null matches), length difference counts one mismatch per
  * missing position. Ties go to the LOWEST center index (numpy-argmin
  * first-wins, SURVEY §3.1 R6).
  *
  * The assignment kernel reads decoded values: the centers are decoded
  * once (per pass or per task) and each row once, and a center stops
  * counting as soon as it reaches the best distance so far — under the
  * strict `<` it can no longer win, so the lowest-id tie rule and the
  * exact min distance are kept.
  */
object HammingKernels {
  def hamming(a: ArrayData, b: ArrayData): Int = {
    val la = a.numElements(); val lb = b.numElements()
    val n = math.min(la, lb)
    var d = math.abs(la - lb)
    var i = 0
    while (i < n) {
      val na = a.isNullAt(i); val nb = b.isNullAt(i)
      if (na != nb) d += 1
      else if (!na && !a.getUTF8String(i).equals(b.getUTF8String(i))) d += 1
      i += 1
    }
    d
  }

  /** The elements of `a`, a null element read as `nullAs` (which may be
    * null itself, keeping the null ⇔ null match).
    */
  def values(a: ArrayData, nullAs: UTF8String): Array[UTF8String] = {
    val out = new Array[UTF8String](a.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = if (a.isNullAt(i)) nullAs else a.getUTF8String(i)
      i += 1
    }
    out
  }

  /** A center list in the form [[nearest]] reads. */
  def decode(centers: ArrayData): Array[Array[UTF8String]] =
    Array.tabulate(centers.numElements())(c => values(centers.getArray(c), null))

  /** The nearest center to `row`, packed as `prediction << 32 | min_dist`
    * (see [[prediction]], [[minDist]]).
    */
  def nearest(row: Array[UTF8String], centers: Array[Array[UTF8String]]): Long = {
    var best = 0
    var bestD = Int.MaxValue
    var c = 0
    while (c < centers.length) {
      val center = centers(c)
      val n = math.min(row.length, center.length)
      var d = math.abs(row.length - center.length)
      var i = 0
      while (i < n && d < bestD) {
        val x = row(i)
        if (if (x == null) center(i) != null else !x.equals(center(i))) d += 1
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best.toLong << 32) | bestD
  }

  def prediction(nearest: Long): Int = (nearest >>> 32).toInt
  def minDist(nearest: Long): Int = nearest.toInt
}

/** Codegen'd fused nearest-mode assignment: one pass over the k centers
  * computing argmin + min distance together. The composed Column form
  * (`struct(argminIndex(d), array_min(d))`) duplicates the distance
  * array expression (computed twice per row) and every piece of it is a
  * CodegenFallback higher-order function — this expression is the inner
  * loop of `KModesModel.transform` and every cost pass, so it gets the
  * native treatment like [[DotProduct]].
  *
  * Literal (foldable) centers are decoded once per task. With
  * `nullsAsSentinel` a null feature element reads as K-modes' null
  * category (`ArrayModeAggregator.NullSentinel`), so K-modes callers pass
  * the raw features column instead of a null-normalized copy.
  */
case class HammingAssign(left: Expression, right: Expression,
    nullsAsSentinel: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("prediction", IntegerType, nullable = false),
    StructField("min_dist", IntegerType, nullable = false)))
  override def prettyName: String = "graft_hamming_assign"

  @transient private lazy val foldedCenters: Array[Array[UTF8String]] =
    HammingKernels.decode(right.eval().asInstanceOf[ArrayData])

  private def nullAs: UTF8String =
    if (nullsAsSentinel) graft.operators.ArrayModeAggregator.NullSentinelUtf8 else null

  /** struct(prediction, min_dist) of the nearest of `centers`. */
  def assign(features: ArrayData, centers: ArrayData): InternalRow = {
    val r = HammingKernels.nearest(HammingKernels.values(features, nullAs),
      if (right.foldable) foldedCenters else HammingKernels.decode(centers))
    new GenericInternalRow(Array[Any](HammingKernels.prediction(r), HammingKernels.minDist(r)))
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

object HammingFunctions {
  /** struct(prediction int, min_dist int) — nearest center by Hamming. */
  def assign(features: Column, centers: Column): Column =
    Bridge.column(HammingAssign(Bridge.expression(features), Bridge.expression(centers)))
}
