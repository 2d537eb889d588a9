package graft.operators

import graft.functions.WeightedAssign
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge

/** One frequency-weighted assignment step against FIXED centers: R5's
  * frequency dissimilarity, the kernel [[Coded.nearestWeighted]] that
  * ensemble stage 2 runs. A mismatching or missing position costs 1, a
  * matching one `1 − freq(value)/|cluster|`; at a match the row's value IS
  * the center's, so that cost depends only on (cluster, position).
  *   1. One job with no exchange Hamming-assigns every row to the centers
  *      ([[Coded.Centers]], [[Coded.nearest]]) — the populations of
  *      [[LocalKModes.fit]]'s previous pass — and counts each cluster's
  *      size and k×n match counts.
  *   2. A narrow expression ([[WeightedAssign]]) re-assigns every row by
  *      the frequency distance, ties to the lowest id; a center the
  *      Hamming pass left EMPTY costs its Hamming distance.
  * A null array is left out of the populations and gets a null prediction
  * and min_dist; a null element is the null category.
  */
object FrequencyAssign {

  /** Returns `df` plus `prediction` (frequency-weighted argmin, ties →
    * lowest id) and `min_dist` (the frequency distance, DOUBLE).
    */
  def assign(
      df: DataFrame,
      featuresCol: String,
      centers: Array[Array[String]]): DataFrame = {
    require(centers.nonEmpty, "FrequencyAssign: no centers")
    val cs = KModes.coded(centers.toSeq.map(_.toSeq))
    val cc = cs.rows // the centers as codes

    // pass 1: per cluster, its size, then its match count per position
    val counts = df.select(col(featuresCol)).queryExecution.toRdd
      .aggregate(cc.map(c => new Array[Long](1 + c.length)))(
        (acc, r) => {
          if (!r.isNullAt(0)) {
            val row = cs.code(r.getArray(0), ArrayModeAggregator.NullSentinelUtf8)
            val p = Coded.prediction(Coded.nearest(row, 0, row.length, cc))
            acc(p)(0) += 1
            for (i <- 0 until math.min(row.length, cc(p).length) if row(i) == cc(p)(i))
              acc(p)(1 + i) += 1
          }
          acc
        },
        (a, b) => { for (c <- a.indices; i <- a(c).indices) a(c)(i) += b(c)(i); a })
    val cost = counts.map { n =>
      if (n(0) == 0) null else n.tail.map(m => 1.0 - m.toDouble / n(0))
    }

    // pass 2: the weighted kernel per row
    val a = "__frequency_assign"
    df.withColumn(a, Bridge.column(WeightedAssign(Bridge.expression(col(featuresCol)), cs, cost)))
      .withColumn("prediction", col(s"$a.prediction"))
      .withColumn("min_dist", col(s"$a.min_dist"))
      .drop(a)
  }
}
