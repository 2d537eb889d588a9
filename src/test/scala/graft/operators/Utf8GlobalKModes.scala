package graft.operators

import graft.functions.{Distances, HammingKernels}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** The `UTF8String` form of the global Lloyd loop: every row's values
  * as `UTF8String`s (a null element read as the null category), assigned
  * by the brute-force argmin [[HammingKernels.nearest]] and counted into
  * [[ModeCounts]] tables, with the init and the empty-cluster reseed as
  * `distinct().orderBy(keys).limit(n)`. It is the readable specification
  * the coded global fit of [[KModes]] is checked against (KModesSpec); the
  * engine itself never runs it.
  */
object Utf8GlobalKModes {

  final case class Fit(centers: Seq[Seq[String]], cost: Double, iterations: Int, reseeds: Int)

  def fit(df: DataFrame, k: Int, maxIter: Int, seed: Long, initHash: String): Fit = {
    val rows = df.where(col("features").isNotNull)
    val ranked = rows.select(transform(col("features"),
      x => coalesce(x, lit(ArrayModeAggregator.NullSentinel))).as("f"))
    val keys = initOrderKeys(initHash, seed)
    var centers = ranked.distinct().orderBy(keys: _*).limit(k).collect()
      .map(_.getSeq[String](0))
    require(centers.nonEmpty, "Utf8GlobalKModes.fit: no rows")
    val data: Array[ArrayData] = ranked.queryExecution.toRdd.map(_.getArray(0).copy()).collect()
    def decoded: Seq[ArrayData] =
      centers.map(c => new GenericArrayData(c.map(UTF8String.fromString).toArray[Any])).toSeq

    var iter = 0
    var converged = false
    var cost = 0.0
    var reseeds = 0
    while (iter < maxIter && !converged) {
      val cs = decoded
      val n = new Array[Long](cs.length)
      val dist = new Array[Long](cs.length)
      val tables = Array.fill(cs.length)(Array.empty[ModeCounts])
      data.foreach { v =>
        val (c, d) = HammingKernels.nearest(v, cs)
        n(c) += 1
        dist(c) += d
        tables(c) = ModeCounts.add(tables(c), v)
      }
      cost = if (n.sum == 0) 0.0 else dist.sum.toDouble / n.sum

      val next = centers.indices.map { i =>
        if (n(i) == 0) centers(i) else ModeCounts.modes(tables(i)).map(_.toString).toSeq
      }.toArray
      val emptyIds = centers.indices.filter(n(_) == 0)
      if (emptyIds.nonEmpty) {
        // farthest rows from their center: (min_dist DESC, keys ASC), distinct
        val d = Distances.assign(col("f"), typedlit(centers.toSeq)).getField("min_dist")
        val far = ranked.select(col("f"), d.as("d")).distinct()
          .orderBy(col("d").desc +: keys: _*).limit(emptyIds.size).collect()
        emptyIds.zip(far).foreach { case (id, r) => next(id) = r.getSeq[String](0) }
        reseeds += emptyIds.size
      }
      converged = next.toSeq == centers.toSeq
      centers = next
      iter += 1
    }
    if (!converged) {
      val cs = decoded
      cost = data.map(v => HammingKernels.nearest(v, cs)._2.toLong).sum.toDouble / data.length
    }
    Fit(centers.toSeq, cost, iter, reseeds)
  }

  /** Init/reseed ranking keys over the null-normalized features column
    * `f` (see [[KModesParams.initHash]]): md5 of chr(1)-joined
    * `seed, f₁, …, fₙ` in portable mode, else xxhash64(f, seed). The md5
    * tie-break key is the same joined string (not the array), so an
    * external replay compares plain strings — equivalent for fixed-arity
    * features.
    */
  def initOrderKeys(initHash: String, seed: Long): Seq[Column] =
    initHash match {
      case "md5" =>
        val joined = concat_ws("\u0001", lit(seed.toString), col("f"))
        Seq(md5(joined), concat_ws("\u0001", col("f")))
      case _ => Seq(xxhash64(col("f"), lit(seed)), col("f"))
    }

  /** The rows of `df.distinct().orderBy(order: _*).limit(n)`, in one job
    * with no exchange: each partition keeps its n smallest distinct rows
    * with the `order` keys projected next to its columns, under Spark's
    * own ordering of `order` (so ties, directions and nulls sort as in
    * `orderBy`) and then the rows' own columns, ascending; the driver
    * merges the P×n rows. Exact, because the union of every partition's n
    * smallest distinct rows holds the n smallest of all.
    */
  def smallestDistinct(df: DataFrame, order: Seq[Column], n: Int): Array[Row] =
    if (n <= 0) Array.empty
    else {
      val width = df.columns.length
      val sorts = df.orderBy(order: _*).queryExecution.analyzed
        .collectFirst { case s: Sort => s.order }.get
      val keyed = df.select(df.columns.toSeq.map(col) ++
        sorts.zipWithIndex.map { case (s, i) => Bridge.column(s.child).as(s"__order$i") }: _*)
      val schema = keyed.schema
      def ref(i: Int) = BoundReference(i, schema(i).dataType, schema(i).nullable)
      val ord: Ordering[InternalRow] = new LazilyGeneratedOrdering(
        sorts.zipWithIndex.map { case (s, i) =>
          SortOrder(ref(width + i), s.direction, s.nullOrdering, Seq.empty)
        } ++ (0 until width).map(i => SortOrder(ref(i), Ascending)))
      def smallest(rows: Iterator[InternalRow]) = LocalKModes.smallest(rows.map(_.copy()), n, ord)
      val picks = keyed.queryExecution.toRdd.mapPartitions(rows => smallest(rows).iterator).collect()
      val toScala = (0 until width).map(i =>
        (schema(i).dataType, CatalystTypeConverters.createToScalaConverter(schema(i).dataType)))
      smallest(picks.iterator).map(r =>
        Row.fromSeq(toScala.zipWithIndex.map { case ((t, conv), i) => conv(r.get(i, t)) }))
    }
}
