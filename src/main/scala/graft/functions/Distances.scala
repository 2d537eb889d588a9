package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Categorical dissimilarity kernels (SURVEY.md §3.1 R4-R6).
  *
  * Reference semantics [UP pyspark_kmodes/pyspark_kmodes.py hamming_dissim
  * ~L85-105 | conf=H]: simple-matching (Hamming) distance between one record
  * and each of k modes; nearest-mode assignment is the argmin over those k
  * distances. Every kernel is a Catalyst `Column` expression — no UDF —
  * with the centers as a literal array (k ≤ 64 rows, the "broadcast small
  * side" of SURVEY.md §3.2 folded into the expression): no shuffle.
  */
object Distances {

  /** Hamming (simple-matching) distance between two string arrays.
    * Null-safe: positions compare with <=> so a null sentinel that survived
    * assembly still counts as its own category. Each position one array
    * lacks counts as one mismatch: the positions both hold are compared
    * on their own, since `zip_with` would pad the shorter array with
    * nulls that match a null element of the longer one.
    */
  def hamming(a: Column, b: Column): Column = {
    val common = greatest(least(size(a), size(b)), lit(0))
    aggregate(
      zip_with(slice(a, lit(1), common), slice(b, lit(1), common),
        (x, y) => when(x <=> y, 0).otherwise(1)),
      lit(0),
      (acc, x) => acc + x) + abs(size(a) - size(b))
  }

  /** Distances from `features` to each center in a literal center list:
    * returns `array<int>` of length k.
    */
  def hammingToCenters(features: Column, centers: Column): Column =
    transform(centers, c => hamming(features, c))

  /** argmin over a distance array → cluster index (0-based). Deterministic:
    * `array_position` returns the FIRST position of the min, so ties go to
    * the lowest cluster id (the reference inherits numpy argmin's same
    * first-wins rule [UP ...py ~L130-145 | conf=H]).
    */
  def argminIndex(dists: Column): Column =
    (array_position(dists, array_min(dists)) - 1).cast("int")

  /** Assignment + min-distance in one pass, as a struct column: the
    * native [[HammingAssign]], ~5× faster than [[assignComposed]].
    */
  def assign(features: Column, centers: Column): Column =
    Bridge.column(HammingAssign(Bridge.expression(features), Bridge.expression(centers)))

  /** [[assign]] from built-ins; tests cross-check the two. */
  def assignComposed(features: Column, centers: Column): Column = {
    val d = hammingToCenters(features, centers)
    struct(argminIndex(d).as("prediction"), array_min(d).as("min_dist"))
  }
}
