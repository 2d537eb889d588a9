package graft.operators

import graft.functions.Distances
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One frequency-weighted assignment step against FIXED centers — the
  * distributed front door for R5's frequency dissimilarity (the coded
  * kernel `nearestWeighted` of [[LocalKModes]], ensemble paper stage
  * 2): a mismatching position costs 1; a matching position costs
  * `1 − freq(value)/|cluster|`, so matches on weak (low-consensus)
  * center values still cost something.
  *
  * Key reduction (what makes this one narrow pass + one bounded
  * shuffle): at a MATCHING position the row's value IS the center's
  * value, so the match cost depends only on (cluster, position) —
  * `w(c,i) = freq of center_c[i] within cluster c`. The step is:
  *   1. Hamming-assign rows to the fixed centers (defines the cluster
  *      populations, exactly [[LocalKModes.fit]]'s previous-iteration
  *      tables);
  *   2. one groupBy(prediction) computing the k×n match counts and
  *      sizes (driver collect is O(k·n), never O(rows));
  *   3. re-assign every row by the frequency distance with the k×n
  *      weights folded in as literals — ties to the lowest cluster id.
  * A cluster the Hamming pass left EMPTY falls back to plain Hamming
  * distance for that center, mirroring [[LocalKModes.fit]]'s
  * `prevSizes(c) > 0` guard.
  *
  * At 100 TB: two scans of the input (one per assignment) and one
  * k×n-bounded shuffle — the same shape as a single Lloyd iteration.
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
    val k = centers.length
    val n = centers(0).length
    val cLit = typedlit(centers.map(_.toSeq).toSeq)
    val f = transform(col(featuresCol),
      x => coalesce(x, lit(ArrayModeAggregator.NullSentinel)))

    // pass 1: Hamming populations + per-(cluster, position) match counts
    val p0 = Distances.assign(f, cLit).getField("prediction")
    val matchCols = (0 until n).map { i =>
      sum(when(element_at(f, i + 1) ===
        element_at(element_at(cLit, p0 + 1), i + 1), 1L).otherwise(0L))
        .as(s"m$i")
    }
    val stats = df
      .groupBy(p0.as("p"))
      .agg(count(lit(1)).as("sz"), matchCols: _*)
      .collect()
    val bySize = stats.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weights: Array[Array[Double]] = Array.tabulate(k, n) { (c, i) =>
      bySize.get(c) match {
        case Some(sz) if sz > 0 =>
          stats.find(_.getInt(0) == c).get.getLong(2 + i).toDouble / sz.toDouble
        case _ => Double.NaN // empty cluster → Hamming fallback below
      }
    }

    // pass 2: literal-folded frequency distances, left-to-right sums so
    // an external replay adds in the identical IEEE order
    def distTo(c: Int): Column = {
      val terms = (0 until n).map { i =>
        val cv = lit(centers(c)(i))
        if (weights(c)(i).isNaN)
          when(element_at(f, i + 1) =!= cv, 1.0).otherwise(0.0)
        else
          when(element_at(f, i + 1) =!= cv, 1.0)
            .otherwise(lit(1.0) - lit(weights(c)(i)))
      }
      terms.reduceLeft(_ + _)
    }
    val ds = (0 until k).map(distTo)
    val pred = (0 until k - 1).foldRight(lit(k - 1): Column) { (c, rest) =>
      when((c until k).drop(1).map(j => ds(c) <= ds(j)).reduce(_ && _), c)
        .otherwise(rest)
    }
    df.withColumn("prediction", pred)
      .withColumn("min_dist", least(ds: _*))
  }
}
