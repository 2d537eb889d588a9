package graft

import graft.operators.LocalKModes
import graft.operators.LocalKModes.{Result, rowHash}
import scala.collection.mutable

/** The String form of the local Lloyd loop: per-(cluster, position)
  * frequency maps, modes by (count DESC, value ASC) under `String`
  * order, a full sort for the init. It is the readable specification
  * the dictionary-coded [[LocalKModes]] is cross-checked against
  * (LocalKModesSpec); the engine itself never runs it.
  */
object StringLocalKModes {

  /** Simple matching, a missing position costs 1. */
  def hamming(a: Array[String], b: Array[String]): Int = {
    var d = 0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      if (a(i) != b(i)) d += 1
      i += 1
    }
    d + math.abs(a.length - b.length)
  }

  /** Frequency-weighted dissimilarity (SURVEY §3.1 R5, conf=M): matching
    * positions contribute `1 - freq(center_value)/cluster_size` instead of
    * 0, so matches against "weak" (low-consensus) mode values still cost
    * something; a missing position costs 1. Used for stage-2
    * meta-clustering per the ensemble paper.
    */
  def frequencyDissim(
      a: Array[String],
      center: Array[String],
      freqs: Array[collection.Map[String, Long]],
      size: Long): Double = {
    var d = 0.0
    var i = 0
    val n = math.min(a.length, center.length)
    while (i < n) {
      if (a(i) != center(i)) d += 1.0
      else if (size > 0) d += 1.0 - freqs(i).getOrElse(a(i), 0L).toDouble / size
      i += 1
    }
    d + math.abs(a.length - center.length)
  }

  /** Deterministic seeded init: k distinct rows in murmur-hash order. */
  def initCenters(data: Array[Array[String]], k: Int, seed: Long): Array[Array[String]] =
    data.distinctBy(_.toSeq)
      .sortBy(r => (rowHash(r, seed), r.toSeq))(
        Ordering.Tuple2(Ordering.Int, Ordering.Implicits.seqOrdering[Seq, String]))
      .take(k)

  /** The fit, and how many empty clusters it reseeded. */
  def fit(
      data: Array[Array[String]],
      k: Int,
      maxIter: Int,
      seed: Long,
      useFrequency: Boolean = false): (Result, Int) = {
    require(data.nonEmpty, "StringLocalKModes.fit on empty data")
    val nf = data.map(_.length).max
    val centers = initCenters(data, k, seed)
    val kEff = centers.length // may be < k when distinct rows < k
    val assign = Array.fill(data.length)(-1)
    var reseeds = 0

    var iter = 0
    var moved = true
    // frequency tables of the PREVIOUS iteration (first pass: Hamming)
    var prevFreqs: Array[Array[collection.Map[String, Long]]] = null
    var prevSizes: Array[Long] = null
    while (iter < maxIter && moved) {
      moved = false
      val freqs = Array.fill(kEff, nf)(mutable.Map.empty[String, Long])
      val sizes = new Array[Long](kEff)
      val longest = new Array[Int](kEff)
      for ((row, r) <- data.zipWithIndex) {
        var best = 0
        var bestD = Double.MaxValue
        for (c <- 0 until kEff) {
          val d =
            if (useFrequency && prevFreqs != null && prevSizes(c) > 0)
              frequencyDissim(row, centers(c), prevFreqs(c), prevSizes(c))
            else hamming(row, centers(c)).toDouble
          if (d < bestD) { bestD = d; best = c }
        }
        if (best != assign(r)) { moved = true; assign(r) = best }
        sizes(best) += 1
        longest(best) = math.max(longest(best), row.length)
        // each position counts the rows that reach it
        row.indices.foreach(f => freqs(best)(f)(row(f)) = freqs(best)(f).getOrElse(row(f), 0L) + 1L)
      }
      // update pass, in cluster order: a reseed measures distances to the
      // centers updated before it
      for (c <- 0 until kEff) {
        if (sizes(c) == 0) {
          val far = data.zipWithIndex.maxBy { case (row, i) =>
            (hamming(row, centers(assign(i))), -rowHash(row, seed + c))
          }._1
          centers(c) = far.clone()
          reseeds += 1
          moved = true
        } else {
          val nc = Array.tabulate(longest(c)) { f =>
            freqs(c)(f).minBy { case (v, cnt) => (-cnt, v) }._1
          }
          if (nc.toSeq != centers(c).toSeq) {
            centers(c) = nc
            moved = true
          }
        }
      }
      prevFreqs = freqs.map(_.map(m => m: collection.Map[String, Long]))
      prevSizes = sizes
      iter += 1
    }
    // final assignment against final centers (so cost matches centers)
    var cost = 0.0
    for ((row, r) <- data.zipWithIndex) {
      val ds = centers.map(hamming(row, _))
      assign(r) = ds.indexOf(ds.min)
      cost += ds.min
    }
    (Result(centers, assign, cost / data.length, iter), reseeds)
  }
}

/** The coded [[LocalKModes]]' init, decoded: its centers before any pass. */
object LocalKModesInit {
  /** Deterministic seeded init: k distinct rows in murmur-hash order. */
  def initCenters(data: Array[Array[String]], k: Int, seed: Long): Array[Array[String]] =
    LocalKModes.fit(data, k, 0, seed).centers
}
