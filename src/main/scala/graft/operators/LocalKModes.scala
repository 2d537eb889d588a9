package graft.operators

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.hashing.MurmurHash3

/** Driver-local / per-partition K-modes on dictionary-coded rows.
  *
  * This is our own implementation of what the reference DELEGATED to the
  * external `kmodes` PyPI package for stage 2 (meta-clustering of the
  * collected per-partition modes) [UP pyspark_kmodes/pyspark_kmodes.py
  * ~L295-330 `from kmodes.kmodes import KModes` | conf=H], and of the
  * per-partition Lloyd pass of stage 1 [UP iter_k_modes ~L150-220 |
  * conf=M]. Runs no Spark job, fully deterministic:
  *   - init: k distinct rows in (murmur3(row, seed), row) order;
  *   - assignment ties → lowest cluster index (numpy-argmin first-wins);
  *   - mode ties → (count DESC, value ASC);
  *   - empty cluster → reseeded from the record farthest from its center
  *     (distance DESC, hash ASC) — SURVEY §8.3.
  *
  * Value order is Java `String` order (`String.compareTo`, UTF-16 code
  * units) — unlike [[ModeCounts]], which orders values by their UTF-8
  * bytes; the two differ between a supplementary-plane character and
  * U+E000–U+FFFF.
  *
  * One Lloyd loop runs every caller: the rows are held as [[Coded]]
  * per-position int codes, assigned in that value order, so "value ASC"
  * is "code ASC", a mode is an argmax over one count array per (cluster,
  * position), and Hamming distance is int compares. Rows may differ in
  * length: a missing position costs 1, and each position of a center is
  * the mode of the cluster's rows that reach it, so a center is as long
  * as the longest row in its cluster.
  */
object LocalKModes {

  final case class Result(
      centers: Array[Array[String]],
      assignments: Array[Int],
      cost: Double,
      iterations: Int)

  def rowHash(row: Array[String], seed: Long): Int =
    MurmurHash3.arrayHash(row, seedHash(seed))

  private def seedHash(seed: Long): Int = MurmurHash3.stringHash(seed.toString)

  def fit(
      data: Array[Array[String]],
      k: Int,
      maxIter: Int,
      seed: Long,
      useFrequency: Boolean = false): Result = {
    require(data.nonEmpty, "LocalKModes.fit on empty data")
    fit(Coded(data), k, maxIter, seed, useFrequency)
  }

  /** Meta-cluster collected stage-1 modes (R11). `useFrequency` switches
    * assignment to the frequency-weighted dissimilarity of the ensemble
    * paper (R5): matching positions cost 1 - freq(value)/cluster_size
    * using the PREVIOUS iteration's tables (first pass is plain Hamming).
    * The reference's exact stage-2 ranking is conf=M (SURVEY §3.1), so
    * both variants are exposed; `KModes.distance` selects one.
    */
  def metaCluster(
      modes: Array[Array[String]],
      k: Int,
      maxIter: Int,
      seed: Long,
      useFrequency: Boolean = false): Result =
    fit(modes, k, maxIter, seed, useFrequency)

  /** The Lloyd loop on coded rows (at least one). */
  private[graft] def fit(
      data: Coded[String],
      k: Int,
      maxIter: Int,
      seed: Long,
      useFrequency: Boolean): Result = {
    val n = data.rows
    val centers = init(data, k, seed)
    val kEff = centers.length // may be < k when distinct rows < k
    val assign = Array.fill(n)(-1)
    // the frequency-weighted dissimilarity (ensemble paper, stage 2) reads
    // the previous pass's match costs, so the first pass is plain Hamming
    var matchCost: Array[Array[Double]] = null

    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      val counts = new Coded.Counts(data, kEff)
      // assignment pass
      var r = 0
      while (r < n) {
        val best =
          if (matchCost == null) Coded.prediction(data.nearest(r, centers))
          else Coded.nearestWeighted(data.codes, data.start(r), data.length(r), centers, matchCost)
        if (best != assign(r)) { moved = true; assign(r) = best }
        counts.add(r, best)
        r += 1
      }
      // update pass: per-position mode, tie-break (count DESC, code ASC);
      // a reseed measures distances to the centers updated so far
      var c = 0
      while (c < kEff) {
        if (counts.size(c) == 0) {
          centers(c) = farthest(data, centers, assign, seed + c)
          moved = true
        } else {
          val nc = Array.tabulate(counts.longest(c))(f => argmax(counts.of(c)(f)))
          if (!java.util.Arrays.equals(nc, centers(c))) {
            centers(c) = nc
            moved = true
          }
        }
        c += 1
      }
      if (useFrequency) matchCost = counts.matchCost(centers)
      iter += 1
    }
    // final assignment against final centers (so cost matches centers)
    val cost = data.cost(centers, assign)
    Result(centers.map(data.decode), assign, cost.toDouble / n, iter)
  }

  /** The k smallest distinct rows by (rowHash, codes), in order. */
  private def init(data: Coded[String], k: Int, seed: Long): Array[Array[Int]] = {
    val sh = seedHash(seed)
    val hashes = Array.tabulate(data.rows)(data.rowHash(_, sh))
    val ord: java.util.Comparator[Integer] = (a, b) => {
      val h = Integer.compare(hashes(a), hashes(b))
      if (h != 0) h else data.compareRows(a, b)
    }
    smallest(Iterator.range(0, data.rows).map(Int.box), k, ord).map(data.row(_))
  }

  /** The n smallest distinct of `xs` under `ord`, in order, kept in a
    * bounded set.
    */
  private[operators] def smallest[T <: AnyRef](xs: Iterator[T], n: Int, ord: java.util.Comparator[T])(
      implicit t: ClassTag[T]): Array[T] = {
    val set = new java.util.TreeSet[T](ord)
    xs.foreach { x =>
      if (set.size < n || ord.compare(x, set.last) < 0) {
        if (set.add(x) && set.size > n) set.pollLast()
      }
    }
    set.toArray[T](new Array[T](0))
  }

  /** The row farthest from its own center, ties by `-rowHash(row, seed)`
    * DESC (an `Int` negation, so `Int.MinValue` keeps its sign) and then
    * to the first row.
    */
  private def farthest(data: Coded[String], centers: Array[Array[Int]], assign: Array[Int],
      seed: Long): Array[Int] = {
    val sh = seedHash(seed)
    var best = -1
    var bestD = -1
    var bestH = 0
    var r = 0
    while (r < data.rows) {
      val d = data.hamming(r, centers(assign(r)))
      if (d >= bestD) {
        val h = -data.rowHash(r, sh)
        if (d > bestD || h > bestH) { best = r; bestD = d; bestH = h }
      }
      r += 1
    }
    data.row(best)
  }

  /** The lowest code of the highest count. */
  private def argmax(counts: Array[Int]): Int = {
    var best = 0
    var c = 1
    while (c < counts.length) {
      if (counts(c) > counts(best)) best = c
      c += 1
    }
    best
  }
}

/** Rows of values as per-position dictionary codes. Row r is
  * `codes(start(r) until start(r + 1))`, and at position f code c stands
  * for `values(f)(c)`. A row holds 4 bytes per position, plus one offset;
  * each position's dictionary holds the distinct values seen there.
  *
  * The engine's two assignment kernels are here. [[Coded.nearest]]
  * (Hamming) runs in every coded Lloyd pass and, through [[Coded.Centers]],
  * on raw Spark rows (`transform`, `computeCost`, `predict`, the cost
  * passes, `graft_hamming_assign`, [[FrequencyAssign]]'s first pass).
  * [[Coded.nearestWeighted]] (the ensemble paper's frequency weighting)
  * runs in [[LocalKModes]]' `useFrequency` passes and [[FrequencyAssign]]'s
  * second pass. [[Coded.Counts]] and [[cost]] are the passes' one count
  * and one cost routine.
  *
  * Two value modes:
  *  - `Coded[String]` (the local fits, [[LocalKModes]]): codes follow
  *    Java `String` order of the values (a null value first), so
  *    comparing codes compares values ([[compareRows]], "value ASC" mode
  *    ties); byte strings that decode to one `String` (malformed UTF-8)
  *    share a code.
  *  - `Coded[UTF8String]` (a global fit's cached partitions, see
  *    [[KModes]], and a center list, [[Coded.Centers]]): one code per
  *    distinct byte string, in order of first sight, so the codes carry
  *    no value order; [[code]] maps a value into the code space.
  *
  * Serializable, so a persisted partition can spill to disk.
  */
private[graft] final class Coded[V <: AnyRef](
    val codes: Array[Int],
    val start: Array[Int],
    val values: Array[Array[V]]) extends Serializable {

  def rows: Int = start.length - 1

  def row(r: Int): Array[Int] = java.util.Arrays.copyOfRange(codes, start(r), start(r + 1))

  def length(r: Int): Int = start(r + 1) - start(r)

  /** Row r's value at position f. */
  def value(r: Int, f: Int): V = values(f)(codes(start(r) + f))

  def decode(row: Array[Int])(implicit t: ClassTag[V]): Array[V] =
    Array.tabulate(row.length)(f => values(f)(row(f)))

  /** Per position and code, the `##` of the value. */
  @transient private lazy val valueHashes: Array[Array[Int]] = values.map(_.map(_.##))

  /** [[LocalKModes.rowHash]] of row r's values: `arrayHash` mixes only
    * each element's `##`, so it is rebuilt bit-identically from the
    * values' hashes.
    */
  def rowHash(r: Int, seedHash: Int): Int = {
    val h = new Array[Int](start(r + 1) - start(r))
    var f = 0
    while (f < h.length) { h(f) = valueHashes(f)(codes(start(r) + f)); f += 1 }
    MurmurHash3.arrayHash(h, seedHash)
  }

  /** Row order: codes position by position, a prefix first (value order
    * in the `String` mode).
    */
  def compareRows(a: Int, b: Int): Int = {
    val la = start(a + 1) - start(a)
    val lb = start(b + 1) - start(b)
    var f = 0
    while (f < math.min(la, lb)) {
      val c = Integer.compare(codes(start(a) + f), codes(start(b) + f))
      if (c != 0) return c
      f += 1
    }
    Integer.compare(la, lb)
  }

  @transient private lazy val index: Array[java.util.HashMap[V, Integer]] =
    values.map { vs =>
      val m = new java.util.HashMap[V, Integer](vs.length * 2)
      vs.indices.foreach(c => m.put(vs(c), c))
      m
    }

  /** The code of `v` at position f, or -1 when no row holds `v` there (it
    * then differs from every code).
    */
  def code(f: Int, v: V): Int =
    if (f >= values.length) -1
    else {
      val c = index(f).get(v)
      if (c == null) -1 else c
    }

  /** The nearest of `centers` (rows of codes) to row r (see
    * [[Coded.nearest]]).
    */
  def nearest(r: Int, centers: Array[Array[Int]]): Long =
    Coded.nearest(codes, start(r), start(r + 1) - start(r), centers)

  /** Hamming distance of row r to `center`. */
  def hamming(r: Int, center: Array[Int]): Int =
    Coded.hamming(codes, start(r), start(r + 1) - start(r), center, Int.MaxValue)

  /** Every row assigned to the nearest of `centers`, into `assign`; the
    * sum of their distances.
    */
  def cost(centers: Array[Array[Int]], assign: Array[Int]): Long = {
    var sum = 0L
    var r = 0
    while (r < rows) {
      val a = nearest(r, centers)
      assign(r) = Coded.prediction(a)
      sum += Coded.minDist(a)
      r += 1
    }
    sum
  }
}

private[graft] object Coded {
  /** The nearest of `centers` (rows of codes) to the row
    * `codes(from until from + len)`, packed as `prediction << 32 |
    * min_dist` ([[prediction]], [[minDist]]). Simple matching, a missing
    * position costs 1; ties go to the lowest center id (numpy-argmin
    * first-wins, SURVEY §3.1 R6). A center stops counting once it reaches
    * the best distance so far: under the strict `<` it can no longer win,
    * so the tie rule and the exact min distance are kept.
    */
  def nearest(codes: Array[Int], from: Int, len: Int, centers: Array[Array[Int]]): Long = {
    var best = 0
    var bestD = Int.MaxValue
    var c = 0
    while (c < centers.length) {
      val d = hamming(codes, from, len, centers(c), bestD)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best.toLong << 32) | bestD
  }

  /** Hamming distance of the row `codes(from until from + len)` to
    * `center`, counted up to `bound`.
    */
  def hamming(codes: Array[Int], from: Int, len: Int, center: Array[Int], bound: Int): Int = {
    val m = math.min(len, center.length)
    var d = math.abs(len - center.length)
    var i = 0
    while (i < m && d < bound) {
      if (codes(from + i) != center(i)) d += 1
      i += 1
    }
    d
  }

  /** [[nearest]] under the frequency-weighted distance [[weighted]]. */
  def nearestWeighted(codes: Array[Int], from: Int, len: Int, centers: Array[Array[Int]],
      cost: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val d = weighted(codes, from, len, centers(c), cost(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The ensemble paper's frequency-weighted distance (stage 2, R5) of a
    * row to `center`: a mismatch costs 1, a match at position i `cost(i)`
    * (`1 - count/size` of the value in the center's cluster), summed left
    * to right from 0.0, then 1 per position only one side has. A null
    * `cost` (a cluster with no rows) gives the Hamming distance.
    */
  def weighted(codes: Array[Int], from: Int, len: Int, center: Array[Int],
      cost: Array[Double]): Double =
    if (cost == null) hamming(codes, from, len, center, Int.MaxValue).toDouble
    else {
      var s = 0.0
      var i = 0
      while (i < math.min(len, center.length)) {
        s += (if (codes(from + i) != center(i)) 1.0 else cost(i))
        i += 1
      }
      s + math.abs(len - center.length)
    }

  def prediction(nearest: Long): Int = (nearest >>> 32).toInt
  def minDist(nearest: Long): Int = nearest.toInt

  /** Per cluster of a pass over `data`'s rows: their codes counted in one
    * int array per position, their number and the longest of them.
    */
  final class Counts(data: Coded[_], k: Int) {
    val of: Array[Array[Array[Int]]] = Array.fill(k)(data.values.map(v => new Array[Int](v.length)))
    val size = new Array[Int](k)
    val longest = new Array[Int](k)

    /** Counts row r in cluster c. */
    def add(r: Int, c: Int): Unit = {
      val from = data.start(r)
      val len = data.start(r + 1) - from
      size(c) += 1
      if (len > longest(c)) longest(c) = len
      val cs = of(c)
      var f = 0
      while (f < len) { cs(f)(data.codes(from + f)) += 1; f += 1 }
    }

    /** [[weighted]]'s match costs of `centers`, null for a cluster with
      * no rows.
      */
    def matchCost(centers: Array[Array[Int]]): Array[Array[Double]] =
      Array.tabulate(k) { c =>
        if (size(c) == 0) null
        else Array.tabulate(centers(c).length)(i => 1.0 - of(c)(i)(centers(c)(i)).toDouble / size(c))
      }
  }

  /** A center list as the kernel reads it from Spark: one dictionary over
    * the centers' values (the `UTF8String` mode, a null element kept as a
    * null key) and the centers as rows of codes. [[nearest]] codes a
    * feature array against it, a value that no center holds at its
    * position as -1, and runs [[Coded.nearest]].
    */
  final class Centers(centers: ArrayData) extends Serializable {
    private val dict = {
      val b = new SparkRows(null)
      var c = 0
      while (c < centers.numElements()) { b.addRow(centers.getArray(c)); c += 1 }
      b.result()
    }
    /** The centers as rows of codes. */
    val rows: Array[Array[Int]] = Array.tabulate(dict.rows)(dict.row)

    /** `a` coded against the centers, a null element read as `nullAs`
      * (null itself matches a null center element).
      */
    def code(a: ArrayData, nullAs: UTF8String): Array[Int] = {
      val row = new Array[Int](a.numElements())
      var i = 0
      while (i < row.length) {
        row(i) = dict.code(i, if (a.isNullAt(i)) nullAs else a.getUTF8String(i))
        i += 1
      }
      row
    }

    /** The nearest center to `a` (see [[code]]). */
    def nearest(a: ArrayData, nullAs: UTF8String): Long = {
      val row = code(a, nullAs)
      Coded.nearest(row, 0, row.length, rows)
    }
  }

  /** Rows of strings in the `String` mode. */
  def apply(rows: Array[Array[String]]): Coded[String] = {
    val b = new Builder[String](identity)
    rows.foreach { row => row.foreach(b.add); b.endRow() }
    b.inStringOrder(identity)
  }

  /** Feature arrays as read from Spark, a null element read as `nullAs`,
    * in the `String` mode.
    */
  def apply(rows: Iterator[ArrayData], nullAs: UTF8String): Coded[String] = {
    val b = new SparkRows(nullAs)
    rows.foreach(b.addRow)
    b.inStringOrder(_.toString)
  }

  /** Codes feature arrays as read from Spark, a null element read as
    * `nullAs`. Its keys are copies: a Spark row's strings point into a
    * reused buffer.
    */
  final class SparkRows(nullAs: UTF8String)
      extends Builder[UTF8String](v => if (v == null) null else v.clone()) {
    def addRow(a: ArrayData): Unit = {
      var i = 0
      while (i < a.numElements()) {
        add(if (a.isNullAt(i)) nullAs else a.getUTF8String(i))
        i += 1
      }
      endRow()
    }
  }

  /** Codes values in order of first sight. `own` copies a value kept as a
    * key.
    */
  class Builder[K <: AnyRef](own: K => K)(implicit t: ClassTag[K]) {
    private val ids = mutable.ArrayBuffer.empty[java.util.HashMap[K, Integer]]
    private val keys = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[K]]
    private var codes = new Array[Int](1024)
    private var used = 0
    private val start = mutable.ArrayBuilder.make[Int]
    private var rowStart = 0
    start += 0

    def add(v: K): Unit = {
      val f = used - rowStart
      if (f == ids.length) {
        ids += new java.util.HashMap[K, Integer]
        keys += mutable.ArrayBuffer.empty[K]
      }
      var id = ids(f).get(v)
      if (id == null) {
        id = keys(f).length
        val key = own(v)
        ids(f).put(key, id)
        keys(f) += key
      }
      if (used == codes.length) codes = java.util.Arrays.copyOf(codes, used * 2)
      codes(used) = id
      used += 1
    }

    def endRow(): Unit = { start += used; rowStart = used }

    /** The `UTF8String` mode: codes in order of first sight. */
    def result(): Coded[K] =
      new Coded(java.util.Arrays.copyOf(codes, used), start.result(), keys.map(_.toArray).toArray)

    /** The `String` mode: each position renumbered in `String` order of
      * `str` of its keys; keys with one `str` share a code.
      */
    def inStringOrder(str: K => String): Coded[String] = {
      val byString = Ordering.comparatorToOrdering(
        java.util.Comparator.nullsFirst[String](Ordering.String))
      val renumber = new Array[Array[Int]](keys.length)
      val values = Array.tabulate(keys.length) { f =>
        val strs = keys(f).map(str).toArray
        val distinct = mutable.ArrayBuffer.empty[String]
        renumber(f) = new Array[Int](strs.length)
        strs.indices.sortBy(strs(_))(byString).foreach { i =>
          if (distinct.isEmpty || byString.compare(distinct.last, strs(i)) != 0) distinct += strs(i)
          renumber(f)(i) = distinct.length - 1
        }
        distinct.toArray
      }
      val st = start.result()
      val out = java.util.Arrays.copyOf(codes, used)
      var r = 0
      while (r + 1 < st.length) {
        var i = st(r)
        while (i < st(r + 1)) { out(i) = renumber(i - st(r))(out(i)); i += 1 }
        r += 1
      }
      new Coded(out, st, values)
    }
  }
}
