package graft.operators

import graft.functions.HammingAssign
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** K-modes clustering for categorical data, Spark-native.
  *
  * Re-expresses the reference engine [UP pyspark_kmodes/pyspark_kmodes.py
  * EnsembleKModes ~L150-360 | conf=H on flow] in `spark.ml` idiom
  * (mirrors `ml.clustering.KMeans` shape, SURVEY.md §8.1). Two fit
  * algorithms behind `initMode`:
  *
  *  - `global` (default): plain distributed Lloyd with no row shuffle;
  *    the input plan runs once per fit. One job reads the raw features
  *    column: each partition codes its rows (a null element read as the
  *    null category) into per-position dictionary codes, one per distinct
  *    byte string ([[Coded]]), and keeps its k smallest distinct rows in
  *    the seeded-hash order keyed from their values ([[InitOrder]]); the
  *    driver merges the P×k rows into the init. The codes are held
  *    `MEMORY_AND_DISK` for the fit (4 bytes per feature and row, plus an
  *    offset and the partition's dictionaries). Each iteration is ONE job
  *    over them: every partition maps the centers into its code space,
  *    assigns its rows by int Hamming (ties to the lowest id) and returns
  *    per-cluster row counts, distance sums and [[ModeCounts]] tables
  *    keyed by value — bounded by k × n_features × its distinct values,
  *    never by its row count; a depth-2 tree merge (a shuffle of partition
  *    results, not of rows) leaves the driver ~√P of them. An empty-cluster
  *    reseed ranks the cached codes in the same order, farthest rows first,
  *    and the final cost pass reads them too. `transform`, `computeCost`
  *    and `predict` code each raw row against the centers
  *    ([[Coded.Centers]]) and run the same kernel. Deterministic and
  *    partition-invariant.
  *
  *  - `ensemble` (reference fidelity): stage 1 runs [[LocalKModes]]
  *    independently inside each partition [UP iter_k_modes /
  *    k_modes_partitioned ~L150-280 | conf=M]: each partition reads its
  *    raw feature arrays (a null element read as the null category) into
  *    per-position dictionary codes — 4 bytes per feature and row, plus
  *    the partition's distinct values — and fits them with the coded
  *    local Lloyd loop. Stage 2 collects the P×k local modes (tiny) and
  *    meta-clusters them on the driver with the same loop — the part
  *    upstream delegated to the `kmodes` PyPI package [UP ~L295-330 |
  *    conf=H]. Two jobs (stage 1, the final cost pass) and zero
  *    shuffles; the result depends on partitioning exactly like the
  *    reference. Local fits order values in Java `String` order, where
  *    the global fit's [[ModeCounts]] use UTF-8 byte order; both assign
  *    with the one Hamming kernel [[Coded.nearest]], and so does the cost
  *    pass (stage 2 with `distance = frequency`: [[Coded.nearestWeighted]]).
  *
  * Determinism contract (required for the DuckDB oracle, SURVEY §2):
  * seeded hash-order init, assignment ties → lowest cluster id, mode ties
  * → (count DESC, value ASC), empty clusters reseeded from the farthest
  * record (distance DESC, hash ASC).
  */
trait KModesParams extends Params {
  final val k = new IntParam(this, "k", "number of clusters", ParamValidators.gt(0))
  final val maxIter = new IntParam(this, "maxIter", "max Lloyd iterations", ParamValidators.gtEq(0))
  final val seed = new LongParam(this, "seed", "random seed")
  final val featuresCol = new Param[String](this, "featuresCol", "array<string> features column")
  final val predictionCol = new Param[String](this, "predictionCol", "prediction output column")
  final val initMode = new Param[String](this, "initMode", "global|ensemble",
    ParamValidators.inArray(Array("global", "ensemble")))
  /** Dissimilarity for ensemble stage-2 meta-clustering (R5/R11):
    * `hamming` = simple matching; `frequency` = the ensemble paper's
    * frequency-weighted kernel [[Coded.nearestWeighted]] (a match costs
    * 1 - freq/size in the previous pass's cluster; the first pass is
    * Hamming), the one [[FrequencyAssign]] runs against fixed centers.
    * Stage 1 and the global algorithm always use Hamming, like the
    * reference.
    */
  final val distance = new Param[String](this, "distance", "hamming|frequency",
    ParamValidators.inArray(Array("hamming", "frequency")))
  /** Hash ordering the seeded init (and empty-cluster reseed) ranks
    * candidate rows by. `xxhash64` (default) is the cheapest; `md5` is
    * the PORTABLE variant — md5 over `seed \u0001 f₁ \u0001 … fₙ` is a
    * standard digest any SQL engine computes identically, which lets an
    * external oracle replay the whole fit (the q19 pluggable-tokenHash
    * technique applied to init order). Both are seeded, deterministic,
    * partition-invariant; the clustering quality is identical — only
    * which k rows seed it changes.
    */
  final val initHash = new Param[String](this, "initHash", "xxhash64|md5",
    ParamValidators.inArray(Array("xxhash64", "md5")))

  setDefault(k -> 8, maxIter -> 20, seed -> 42L,
    featuresCol -> "features", predictionCol -> "prediction",
    initMode -> "global", distance -> "hamming", initHash -> "xxhash64")

  def getK: Int = $(k)
  def getMaxIter: Int = $(maxIter)
  def getSeed: Long = $(seed)
  def getFeaturesCol: String = $(featuresCol)
  def getPredictionCol: String = $(predictionCol)
  def getInitMode: String = $(initMode)
  def getDistance: String = $(distance)
  def getInitHash: String = $(initHash)

  protected def validateSchema(schema: StructType): StructType = {
    val f = schema($(featuresCol))
    require(f.dataType == ArrayType(StringType, true) ||
      f.dataType == ArrayType(StringType, false),
      s"featuresCol must be array<string>, got ${f.dataType}")
    if (schema.fieldNames.contains($(predictionCol))) schema
    else StructType(schema.fields :+ StructField($(predictionCol), IntegerType, false))
  }
}

class KModes(override val uid: String) extends Estimator[KModesModel] with KModesParams {
  def this() = this(Identifiable.randomUID("kmodes"))

  def setK(value: Int): this.type = set(k, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setInitMode(value: String): this.type = set(initMode, value)
  def setDistance(value: String): this.type = set(distance, value)
  def setInitHash(value: String): this.type = set(initHash, value)

  override def transformSchema(schema: StructType): StructType = validateSchema(schema)
  override def copy(extra: ParamMap): KModes = defaultCopy(extra)

  override def fit(dataset: Dataset[_]): KModesModel = {
    transformSchema(dataset.schema)
    // A row whose features array is null has no category to count: both
    // fits skip it, as `transform` (null prediction) and `computeCost` do.
    val df = dataset.toDF().where(col($(featuresCol)).isNotNull)
    val model = $(initMode) match {
      case "ensemble" => fitEnsemble(df)
      case _          => fitGlobal(df)
    }
    copyValues(model.setParent(this))
  }

  // ---------------------------------------------------------------- global
  private def fitGlobal(df: DataFrame): KModesModel = {
    // Deterministic seeded init (R9 global form): the k smallest distinct
    // null-normalized feature rows in seeded-hash order ([[InitOrder]]).
    // One job reads the raw features column once: each partition codes its
    // rows, ranks them from their values and holds the codes, so no later
    // step of the fit (the passes, a reseed, the cost pass) reads the input.
    val order = new InitOrder($(initHash), $(seed))
    val kk = $(k)
    val parts = df.select(col($(featuresCol))).queryExecution.toRdd.mapPartitions { rows =>
      val b = new Coded.SparkRows(ArrayModeAggregator.NullSentinelUtf8)
      rows.foreach(r => b.addRow(r.getArray(0)))
      val data = b.result()
      Iterator.single((order.picks(data, kk, null), data))
    }.setName("KModes.fit coded partitions").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var centers: Array[Seq[String]] = order.merge(parts.flatMap(_._1).collect(), kk)
      require(centers.nonEmpty, "KModes.fit: no rows")
      val coded = parts.map(_._2)

      var iter = 0
      var converged = false
      var cost = 0.0
      while (iter < $(maxIter) && !converged) {
        // one job: each partition counts its coded rows into a PassCounts;
        // the driver merges the partition results (`cs`, a val, is what the
        // closure ships)
        val cs = centers
        val pass = coded.map(PassCounts.of(_, cs)).treeReduce(_.merge(_), depth = 2)

        val n = pass.n.sum.toDouble
        cost = if (n == 0) 0.0 else pass.dist.sum / n

        val newCenters = centers.indices.map { i =>
          if (pass.n(i) == 0) centers(i)
          else ModeCounts.modes(pass.tables(i)).map(_.toString).toSeq
        }.toArray

        val emptyIds = centers.indices.filter(pass.n(_) == 0)
        val reseeded =
          if (emptyIds.isEmpty) newCenters
          else {
            // deterministic reseed: records farthest from this pass's
            // centers, (min_dist DESC, keys, values), distinct; one job over
            // the codes with no exchange (SURVEY §8.3)
            val m = emptyIds.size
            val far = order.merge(coded.flatMap { d =>
              val dcs = PassCounts.codes(d, cs)
              order.picks(d, m, Array.tabulate(d.rows)(r => Coded.minDist(d.nearest(r, dcs))))
            }.collect(), m)
            val upd = newCenters.clone()
            emptyIds.zip(far).foreach { case (id, r) => upd(id) = r }
            upd
          }

        converged = reseeded.toSeq == centers.toSeq
        centers = reseeded
        iter += 1
      }

      // Cost above is measured against the PREVIOUS iteration's centers; when
      // the loop exits at maxIter (or maxIter=0) it would not correspond to
      // the returned centers. One extra pass over the codes fixes that.
      if (!converged) {
        val cs = centers
        val (n, sum) = coded
          .map(d => (d.rows.toLong, d.cost(PassCounts.codes(d, cs), new Array[Int](d.rows))))
          .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        cost = if (n == 0) 0.0 else sum.toDouble / n
      }

      new KModesModel(uid, centers.map(_.toArray), cost, iter)
    } finally parts.unpersist(blocking = false)
  }

  // -------------------------------------------------------------- ensemble
  private def fitEnsemble(df: DataFrame): KModesModel = {
    val kk = $(k)
    val mi = $(maxIter)
    val sd = $(seed)

    // Stage 1: local Lloyd per partition on its coded raw feature arrays
    // (a null element read as the null category), seeded per partition id
    // — deterministic for a fixed partitioning, exactly the reference's
    // semantics (result depends on layout, SURVEY §5). R14 (every
    // partition holds >= k records [UP ~L155-175 | conf=M]) rides along as
    // a per-partition size marker instead of costing its own scan.
    val stage1: Array[(Int, Long, Array[String])] =
      df.select(col($(featuresCol))).queryExecution.toRdd
        .mapPartitionsWithIndex { (pid, rows) =>
          val data = Coded(rows.map(_.getArray(0)), ArrayModeAggregator.NullSentinelUtf8)
          if (data.rows == 0) Iterator.single((pid, 0L, null: Array[String]))
          else {
            val r = LocalKModes.fit(data, kk, mi, sd + pid, useFrequency = false)
            Iterator.single((pid, data.rows.toLong, null: Array[String])) ++
              r.centers.iterator.map(c => (pid, -1L, c))
          }
        }
        .collect()
    require(stage1.exists(_._2 > 0), "KModes.fit: no rows")
    val undersized = stage1.filter(t => t._2 >= 0 && t._2 < kk)
    require(undersized.isEmpty,
      s"ensemble fit: every partition needs >= k=$kk records, got " +
        undersized.map(t => s"partition ${t._1}=${t._2}").mkString(", "))
    val localModes: Array[Array[String]] = stage1.collect { case (_, -1L, c) => c }

    // Stage 2: driver-local meta-clustering of P×k modes (R11) — our own
    // LocalKModes replaces the `kmodes` package upstream imported.
    val meta = LocalKModes.metaCluster(localModes, kk, mi, sd,
      useFrequency = $(distance) == "frequency")

    // Final cost = mean Hamming distance to assigned metamode (R13).
    val cost = KModes.meanHamming(df, col($(featuresCol)), meta.centers.toSeq.map(_.toSeq))

    new KModesModel(uid, meta.centers, cost, meta.iterations)
  }
}

/** Training summary, mirroring the reference's fitted attributes
  * (`model.clusters` → centers, `.mean_cost` → cost
  * [UP EnsembleKModes attrs ~L280-360 | conf=M-H]).
  */
case class KModesSummary(k: Int, cost: Double, iterations: Int)

/** Fitted model: cluster centers + `transform` adding the prediction column
  * (single narrow stage, centers folded into the expression — R12).
  */
class KModesModel(
    override val uid: String,
    val clusterCenters: Array[Array[String]],
    val cost: Double,
    val iterations: Int)
  extends Model[KModesModel] with KModesParams
  with org.apache.spark.ml.util.MLWritable {

  override def write: org.apache.spark.ml.util.MLWriter =
    new KModesModel.Writer(this)

  /** Mean-cost + iteration summary (reference parity: `mean_cost`). */
  def summary: KModesSummary = KModesSummary(clusterCenters.length, cost, iterations)

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)

  override def transformSchema(schema: StructType): StructType = validateSchema(schema)
  override def copy(extra: ParamMap): KModesModel = {
    val m = new KModesModel(uid, clusterCenters, cost, iterations)
    copyValues(m, extra).setParent(parent)
  }

  @transient private lazy val codedCenters = KModes.coded(clusterCenters.toSeq.map(_.toSeq))

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    // the nearest center, a null feature element read as the null category
    val a = HammingAssign(Bridge.expression(col($(featuresCol))),
      Bridge.expression(typedlit(clusterCenters.toSeq.map(_.toSeq))), nullsAsSentinel = true)
    dataset.withColumn($(predictionCol), Bridge.column(a).getField("prediction"))
  }

  /** Reference-fidelity alias for the fitted centers
    * (`model.clusters` upstream [UP EnsembleKModes attrs ~L280-360 |
    * conf=M-H]).
    */
  def clusters: Array[Array[String]] = clusterCenters

  /** Single-record assignment (upstream `model.predict` took one record
    * or an RDD [UP ~L330-350 | conf=H]; the RDD form is [[transform]]).
    * Driver-side, no Spark job — codes the record against the centers
    * and runs the SAME kernel ([[Coded.Centers]]) the distributed
    * transform executes, so distance and tie-break semantics cannot
    * diverge.
    */
  def predict(features: Seq[String]): Int =
    Coded.prediction(codedCenters.nearest(
      CatalystTypeConverters.convertToCatalyst(features).asInstanceOf[ArrayData],
      ArrayModeAggregator.NullSentinelUtf8))

  /** Mean Hamming distance of `dataset` to its assigned centers (R13). */
  def computeCost(dataset: Dataset[_]): Double =
    KModes.meanHamming(dataset, col($(featuresCol)), clusterCenters.toSeq.map(_.toSeq))
}

object KModes {
  /** Assemble categorical columns into the `array<string>` features column:
    * casts to string and maps null → the sentinel (null is its own
    * category, SURVEY §2).
    */
  def assemble(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    array(cols.map(c => coalesce(c.cast("string"),
      lit(ArrayModeAggregator.NullSentinel))): _*)

  /** Mean Hamming distance of the rows of `ds` (raw features `f`; a null
    * array is skipped, a null element is the null category) to their
    * nearest center — one job with no exchange; 0 when no row counts.
    */
  private[operators] def meanHamming(ds: Dataset[_], f: Column,
      centers: Seq[Seq[String]]): Double = {
    val cs = coded(centers)
    val (n, sum) = ds.select(f).queryExecution.toRdd.aggregate((0L, 0L))(
      (acc, r) =>
        if (r.isNullAt(0)) acc
        else (acc._1 + 1, acc._2 + Coded.minDist(
          cs.nearest(r.getArray(0), ArrayModeAggregator.NullSentinelUtf8))),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    if (n == 0) 0.0 else sum.toDouble / n
  }

  /** `centers` as the kernel reads them from Spark rows. */
  private[operators] def coded(centers: Seq[Seq[String]]): Coded.Centers =
    new Coded.Centers(CatalystTypeConverters.convertToCatalyst(centers).asInstanceOf[ArrayData])
}

/** The seeded order of the global fit's init and empty-cluster reseed
  * ([[KModesParams.initHash]]) over coded rows. A row's keys are computed
  * from its values, bit-identical to the Spark expressions an external
  * replay orders by: `xxhash64(f, seed)`, or `md5(concat_ws("\u0001",
  * seed, f))` then `concat_ws("\u0001", f)`. Ties go to the values in
  * UTF-8 byte order, a prefix first, so only equal rows tie. A reseed ranks
  * by distance DESC first.
  */
private[graft] final class InitOrder(initHash: String, seed: Long) extends Serializable {
  private val md5 = initHash == "md5"
  private val (sep, seedUtf8) = (UTF8String.fromString("\u0001"), UTF8String.fromString(seed.toString))
  @transient private lazy val digest = java.security.MessageDigest.getInstance("MD5")

  /** Row r's keys, into `to` at r (xxhash64) or 2r (md5): the steps of
    * Spark's `xxhash64` (seed 42) over each value's bytes and then `seed`
    * as a long, or the md5 digest of the joined seed and values.
    */
  def key(data: Coded[UTF8String], r: Int, to: Array[Long]): Unit =
    if (md5) {
      val d = java.nio.ByteBuffer.wrap(digest.digest(
        UTF8String.concatWs(sep, seedUtf8 +: data.decode(data.row(r)): _*).getBytes))
      to(2 * r) = d.getLong(0)
      to(2 * r + 1) = d.getLong(8)
    } else {
      var h = 42L
      var f = 0
      while (f < data.length(r)) { h = XXH64.hashUTF8String(data.value(r, f), h); f += 1 }
      to(r) = XXH64.hashLong(seed, h)
    }

  /** Row r's values joined by "\u0001", as `concat_ws` joins them. */
  def joined(data: Coded[UTF8String], r: Int): UTF8String =
    UTF8String.concatWs(sep, data.decode(data.row(r)): _*)

  /** The n smallest distinct rows of `data` in (far DESC, keys, values)
    * order, as (far, values); `far` holds every row's distance (null: all
    * 0). Keys are computed for the rows compared.
    */
  def picks(data: Coded[UTF8String], n: Int, far: Array[Int]): Array[(Int, Array[UTF8String])] = {
    val ks = new Array[Long](if (md5) 2 * data.rows else data.rows)
    val known = new java.util.BitSet(data.rows)
    def keyed(r: Int): Int = {
      if (!known.get(r)) { key(data, r, ks); known.set(r) }
      r
    }
    def dist(r: Int) = if (far == null) 0 else far(r)
    val ord: java.util.Comparator[Integer] = (a, b) => {
      val d = Integer.compare(dist(b), dist(a))
      val c = if (d != 0) d else compareKeys(ks, keyed(a), keyed(b))
      if (c != 0 || data.compareRows(a, b) == 0) c
      else {
        val j = if (md5) joined(data, a).binaryCompare(joined(data, b)) else 0
        if (j != 0) j else compareValues(data, a, b)
      }
    }
    LocalKModes.smallest(Iterator.range(0, data.rows).map(Int.box), n, ord)
      .map(r => (dist(r), data.decode(data.row(r))))
  }

  /** The n smallest distinct of `all`, every partition's [[picks]], in
    * order. Exact, because the union of every partition's n smallest
    * distinct rows holds the n smallest of all.
    */
  def merge(all: Array[(Int, Array[UTF8String])], n: Int): Array[Seq[String]] = {
    val b = new Coded.Builder[UTF8String](identity)
    all.foreach { case (_, vs) => vs.foreach(b.add); b.endRow() }
    picks(b.result(), n, all.map(_._1)).map(_._2.map(_.toString).toSeq)
  }

  /** A signed xxhash64, or an md5 digest as unsigned bytes (its hex order). */
  private def compareKeys(ks: Array[Long], a: Int, b: Int): Int =
    if (!md5) java.lang.Long.compare(ks(a), ks(b))
    else {
      val c = java.lang.Long.compareUnsigned(ks(2 * a), ks(2 * b))
      if (c != 0) c else java.lang.Long.compareUnsigned(ks(2 * a + 1), ks(2 * b + 1))
    }

  private def compareValues(data: Coded[UTF8String], a: Int, b: Int): Int = {
    var f = 0
    while (f < math.min(data.length(a), data.length(b))) {
      val c = data.value(a, f).binaryCompare(data.value(b, f))
      if (c != 0) return c
      f += 1
    }
    Integer.compare(data.length(a), data.length(b))
  }
}

/** One global Lloyd pass over some rows: per cluster, the row count, the
  * sum of Hamming distances to the assigned center and the
  * [[ModeCounts]] tables of the rows' values. Its size is bounded by
  * k × n_features × the distinct values seen, never by the row count.
  */
private final class PassCounts(k: Int) extends Serializable {
  val n = new Array[Long](k)
  val dist = new Array[Long](k)
  val tables: Array[ModeCounts.Tables] = Array.fill(k)(Array.empty)

  def merge(o: PassCounts): PassCounts = {
    var c = 0
    while (c < k) {
      n(c) += o.n(c)
      dist(c) += o.dist(c)
      tables(c) = ModeCounts.merge(tables(c), o.tables(c))
      c += 1
    }
    this
  }
}

private object PassCounts {
  /** `centers` in `data`'s code space. */
  def codes(data: Coded[UTF8String], centers: Array[Seq[String]]): Array[Array[Int]] =
    centers.map(c => Array.tabulate(c.length)(f => data.code(f, UTF8String.fromString(c(f)))))

  /** One partition's pass: its coded rows assigned to the nearest of
    * `centers` (ties to the lowest id) and counted in one int array per
    * (cluster, position), turned into tables keyed by value at the end.
    * A cluster's tables are as long as its longest row.
    */
  def of(data: Coded[UTF8String], centers: Array[Seq[String]]): PassCounts = {
    val k = centers.length
    val cs = codes(data, centers)
    val counts = new Coded.Counts(data, k)
    val p = new PassCounts(k)
    var r = 0
    while (r < data.rows) {
      val a = data.nearest(r, cs)
      val c = Coded.prediction(a)
      p.dist(c) += Coded.minDist(a)
      counts.add(r, c)
      r += 1
    }
    for (c <- 0 until k) {
      p.n(c) = counts.size(c)
      p.tables(c) = Array.tabulate(counts.longest(c)) { f =>
        val t = new ModeCounts
        val cf = counts.of(c)(f)
        var v = 0
        while (v < cf.length) { if (cf(v) > 0) t.add(data.values(f)(v), cf(v)); v += 1 }
        t
      }
    }
    p
  }
}

/** Discoverability alias mirroring the reference's entry point
  * (`EnsembleKModes(n_clusters, max_dist_iter)` [UP README.md usage |
  * conf=H]) — returns a [[KModes]] preconfigured for ensemble mode.
  */
object EnsembleKModes {
  def apply(nClusters: Int, maxDistIter: Int): KModes =
    new KModes().setK(nClusters).setMaxIter(maxDistIter).setInitMode("ensemble")
}

object KModesModel extends org.apache.spark.ml.util.MLReadable[KModesModel] {
  /** Persistence format: one parquet at `<path>/data` with a single
    * metadata-ish row layout — (center_id, center) rows plus the scalars
    * replicated — kept dependency-free of the private[ml]
    * DefaultParamsWriter machinery.
    */
  private[operators] class Writer(instance: KModesModel)
      extends org.apache.spark.ml.util.MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      instance.clusterCenters.zipWithIndex
        .map { case (c, i) =>
          (i, c.toSeq, instance.cost, instance.iterations, instance.uid,
            instance.getFeaturesCol, instance.getPredictionCol)
        }.toSeq
        .toDF("center_id", "center", "cost", "iterations", "uid",
          "features_col", "prediction_col")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$path/data")
    }
  }

  private class Reader extends org.apache.spark.ml.util.MLReader[KModesModel] {
    override def load(path: String): KModesModel = {
      val df = sparkSession.read.parquet(s"$path/data")
      val rows = df.collect().sortBy(_.getAs[Int]("center_id"))
      require(rows.nonEmpty, s"no centers at $path/data")
      val head = rows.head
      val model = new KModesModel(
        head.getAs[String]("uid"),
        rows.map(_.getAs[Seq[String]]("center").toArray),
        head.getAs[Double]("cost"),
        head.getAs[Int]("iterations"))
      model.setFeaturesCol(head.getAs[String]("features_col"))
      model.setPredictionCol(head.getAs[String]("prediction_col"))
    }
  }

  override def read: org.apache.spark.ml.util.MLReader[KModesModel] = new Reader
}
