package graft

import graft.operators.LocalKModes
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Unit + property tests for the driver-local K-modes (SURVEY §6 tiers
  * 1-2) — also the brute-force oracle for the distributed fit.
  * (Property tests are seed loops: the scalatest⇄scalacheck bridge
  * artifact is not in the offline cache.)
  */
class LocalKModesSpec extends AnyFunSuite {

  private def planted(n: Int, f: Int, groups: Int, seed: Int): Array[Array[String]] = {
    val rnd = new Random(seed)
    Array.tabulate(n) { i =>
      val g = i % groups
      Array.tabulate(f) { j =>
        // each group has its own dominant value per attribute, 10% noise
        if (rnd.nextDouble() < 0.9) s"g${g}v$j" else s"n${rnd.nextInt(3)}"
      }
    }
  }

  test("hamming: simple matching distance, length-diff padded") {
    assert(StringLocalKModes.hamming(Array("a", "b"), Array("a", "b")) == 0)
    assert(StringLocalKModes.hamming(Array("a", "b"), Array("a", "c")) == 1)
    assert(StringLocalKModes.hamming(Array("a"), Array("a", "c")) == 1)
  }

  test("initCenters: deterministic, distinct, independent of input order") {
    val data = planted(100, 4, 3, 7)
    val a = LocalKModesInit.initCenters(data, 5, 42L)
    val b = LocalKModesInit.initCenters(new Random(1).shuffle(data.toSeq).toArray, 5, 42L)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.map(_.toSeq).distinct.length == a.length)
  }

  test("fit recovers planted groups with high purity") {
    val data = planted(600, 6, 3, 11)
    val r = LocalKModes.fit(data, 3, 20, 42L)
    assert(r.centers.length == 3)
    // purity: majority true-group per cluster
    val byCluster = data.indices.groupBy(r.assignments)
    val purity = byCluster.values.map { idxs =>
      idxs.groupBy(_ % 3).values.map(_.size).max.toDouble / idxs.size
    }.sum / byCluster.size
    assert(purity > 0.9, s"purity $purity")
  }

  test("fitted centers are per-attribute modes of their clusters") {
    val data = planted(300, 4, 3, 13)
    val r = LocalKModes.fit(data, 3, 20, 42L)
    val byCluster = data.indices.groupBy(r.assignments)
    byCluster.foreach { case (c, idxs) =>
      val rows = idxs.map(data)
      (0 until 4).foreach { f =>
        val freq = rows.groupBy(_(f)).map { case (v, rs) => v -> rs.size }
        val mode = freq.minBy { case (v, cnt) => (-cnt, v) }._1
        assert(r.centers(c)(f) == mode, s"cluster $c attr $f")
      }
    }
  }

  test("predict(center_i) == i (centers are their own nearest mode)") {
    val data = planted(300, 4, 3, 17)
    val r = LocalKModes.fit(data, 3, 20, 42L)
    r.centers.zipWithIndex.foreach { case (ctr, i) =>
      val dists = r.centers.map(StringLocalKModes.hamming(ctr, _))
      assert(dists.indexOf(dists.min) == i)
    }
  }

  test("cost non-increasing with more iterations") {
    val data = planted(400, 5, 4, 19)
    val costs = (1 to 6).map(mi => LocalKModes.fit(data, 4, mi, 42L).cost)
    costs.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9, costs.toString) }
  }

  test("k > distinct rows degrades gracefully") {
    val data = Array(Array("x", "y"), Array("x", "y"), Array("a", "b"))
    val r = LocalKModes.fit(data, 5, 10, 42L)
    assert(r.centers.length == 2) // only 2 distinct rows
    assert(r.cost == 0.0)
  }

  test("property: fit is permutation-invariant") {
    val data = planted(120, 3, 2, 23)
    val a = LocalKModes.fit(data, 2, 10, 42L)
    (0 until 25).foreach { shuffleSeed =>
      val shuffled = new Random(shuffleSeed).shuffle(data.toSeq).toArray
      val b = LocalKModes.fit(shuffled, 2, 10, 42L)
      assert(a.centers.map(_.toSeq).toSeq == b.centers.map(_.toSeq).toSeq)
      assert(math.abs(a.cost - b.cost) < 1e-12)
    }
  }

  test("metaCluster handles P×k mode matrix") {
    val modes = planted(12, 4, 3, 29)
    val r = LocalKModes.metaCluster(modes, 3, 10, 42L)
    assert(r.centers.length == 3)
  }

  /** Rows of `f` features over a `vocab`-value alphabet with `groups`
    * planted modes and `1 - signal` noise.
    */
  private def noisy(n: Int, f: Int, groups: Int, vocab: Int, signal: Double,
      seed: Int): Array[Array[String]] = {
    val rnd = new Random(seed)
    Array.tabulate(n) { i =>
      Array.tabulate(f) { j =>
        if (rnd.nextDouble() < signal) s"g${i % groups}v$j" else s"n${rnd.nextInt(vocab)}"
      }
    }
  }

  /** Asserts the coded fit equals the String oracle; the oracle's reseeds. */
  private def sameAsOracle(data: Array[Array[String]], k: Int, maxIter: Int, seed: Long,
      useFrequency: Boolean = false): Int = {
    val got = LocalKModes.fit(data, k, maxIter, seed, useFrequency)
    val (want, reseeds) = StringLocalKModes.fit(data, k, maxIter, seed, useFrequency)
    val what = s"k $k, maxIter $maxIter, seed $seed, frequency $useFrequency"
    assert(got.centers.map(_.toSeq).toSeq == want.centers.map(_.toSeq).toSeq, what)
    assert(got.assignments.toSeq == want.assignments.toSeq, what)
    assert(got.cost == want.cost, what)
    assert(got.iterations == want.iterations, what)
    assert(LocalKModesInit.initCenters(data, k, seed).map(_.toSeq).toSeq ==
      StringLocalKModes.initCenters(data, k, seed).map(_.toSeq).toSeq, what)
    reseeds
  }

  test("coded core equals the String oracle on 1/4/16-way random partitions, " +
      "through empty-cluster reseeds") {
    var reseeds = 0
    for (seed <- 1 to 4; parts <- Seq(1, 4, 16)) {
      val data = noisy(480, 6, 4, 5, signal = 0.6, seed)
      val split = new Random(seed).shuffle(data.toSeq).grouped(data.length / parts)
      for (part <- split; k <- Seq(3, 8); maxIter <- Seq(1, 3, 20))
        reseeds += sameAsOracle(part.toArray, k, maxIter, seed + parts)
    }
    assert(reseeds > 0, "no case reseeded an empty cluster")
  }

  test("coded core equals the String oracle when k exceeds the distinct rows") {
    val data = Array.tabulate(40)(i => Array(s"a${i % 3}", s"b${i % 2}", "c"))
    assert(data.map(_.toSeq).distinct.length == 6)
    for (k <- Seq(6, 7, 12); seed <- 1L to 5L) sameAsOracle(data, k, 10, seed)
    assert(LocalKModes.fit(data, 12, 10, 1L).centers.length == 6)
  }

  test("coded metaCluster equals the String oracle with and without " +
      "frequency weighting") {
    for (seed <- 1 to 6; useFrequency <- Seq(false, true)) {
      // a P×k matrix of noisy local modes
      val modes = noisy(16 * 8, 8, 8, 3, signal = 0.5, seed)
      val got = LocalKModes.metaCluster(modes, 8, 10, seed, useFrequency)
      val (want, _) = StringLocalKModes.fit(modes, 8, 10, seed, useFrequency)
      assert(got.centers.map(_.toSeq).toSeq == want.centers.map(_.toSeq).toSeq)
      assert(got.assignments.toSeq == want.assignments.toSeq)
      assert(got.cost == want.cost && got.iterations == want.iterations)
    }
  }

  test("mode ties go to the smaller value in Java String order, " +
      "not UTF-8 byte order") {
    val supplementary = "\uD83D\uDE00" // U+1F600: UTF-8 F0 9F 98 80
    val privateUse = "\uE000" // UTF-8 EE 80 80: smaller as bytes
    assert(supplementary < privateUse)
    val data = Array(Array(privateUse, "x"), Array(supplementary, "x"),
      Array(supplementary, "y"), Array(privateUse, "y"))
    for (seed <- 1L to 5L) {
      sameAsOracle(data, 1, 10, seed)
      assert(LocalKModes.fit(data, 1, 10, seed).centers.head.toSeq == Seq(supplementary, "x"))
    }
  }

  test("rows of different lengths: both row orders fit the same centers, " +
      "each position counted over the rows that reach it") {
    val longFirst = Array(Array("a", "b", "c"), Array("a", "b"),
      Array("x", "y", "z"), Array("x", "y", "z"))
    val shortFirst = Array(Array("a", "b"), Array("a", "b", "c"),
      Array("x", "y", "z"), Array("x", "y", "z"))
    for (seed <- 1L to 8L) {
      val a = LocalKModes.fit(longFirst, 2, 10, seed)
      val b = LocalKModes.fit(shortFirst, 2, 10, seed)
      assert(a.centers.map(_.toSeq).toSeq == b.centers.map(_.toSeq).toSeq, s"seed $seed")
      assert(a.cost == b.cost)
      sameAsOracle(longFirst, 2, 10, seed)
      sameAsOracle(shortFirst, 2, 10, seed)
    }
    val centers = LocalKModes.fit(longFirst, 2, 10, 42L).centers.map(_.toSeq).toSet
    assert(centers == Set(Seq("a", "b", "c"), Seq("x", "y", "z")))
    // a missing position costs 1, also under frequency weighting
    assert(StringLocalKModes.frequencyDissim(Array("a", "b"), Array("a", "b", "c"),
      Array.fill(3)(Map("a" -> 2L, "b" -> 2L, "c" -> 1L)), 2L) == 1.0)
    assert(StringLocalKModes.frequencyDissim(Array("a", "b", "c"), Array("a"),
      Array.fill(3)(Map("a" -> 1L)), 2L) == 2.5)
  }

  test("coded frequency-weighted fit equals the String oracle on ragged rows") {
    // rows of 2 to 6 positions: a position only one side has costs 1 in
    // every weighted pass
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val data = noisy(200, 6, 4, 4, signal = 0.6, seed).map(_.take(2 + rnd.nextInt(5)))
      for (k <- Seq(3, 6); maxIter <- Seq(2, 10))
        sameAsOracle(data, k, maxIter, seed, useFrequency = true)
    }
  }
}
