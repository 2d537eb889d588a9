package graft.operators

import org.apache.spark.sql.Column

/** One-pass multi-column mode aggregation (SURVEY.md §5 "custom pieces",
  * §8.2 M3).
  *
  * Reference semantics [UP pyspark_kmodes/pyspark_kmodes.py Cluster
  * frequencies + get_max_value_key ~L15-80 | conf=H]: a cluster keeps one
  * value→count table per attribute; its mode is the per-attribute argmax.
  * The reference tie-breaks by Python dict iteration order
  * (nondeterministic); we define the deterministic rule
  * **(count DESC, value ASC)** so results are oracle-hashable (SURVEY §2).
  * The tables and the rule are [[ModeCounts]].
  */
object ArrayModeAggregator {
  val NullSentinel = "∅" // "∅" — null is its own category (SURVEY §2)
  val NullSentinelUtf8: org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(NullSentinel)

  /** Column form: `modeArray(featuresCol)` usable in `groupBy(...).agg`;
    * the native [[ModeArrayAgg]].
    */
  def modeArray(features: Column): Column = ModeArrayAgg.modeArray(features)
}
