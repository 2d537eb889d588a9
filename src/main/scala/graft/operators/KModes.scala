package graft.operators

import graft.functions.{Distances, HammingKernels}
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** K-modes clustering for categorical data, Spark-native.
  *
  * Re-expresses the reference engine [UP pyspark_kmodes/pyspark_kmodes.py
  * EnsembleKModes ~L150-360 | conf=H on flow] in `spark.ml` idiom
  * (mirrors `ml.clustering.KMeans` shape, SURVEY.md §8.1). Two fit
  * algorithms behind `initMode`:
  *
  *  - `global` (default): plain distributed Lloyd. Each iteration is
  *    ONE job with no shuffle: a `treeAggregate` over the scan in which
  *    every partition assigns its rows to the nearest of the k centers
  *    (the same [[graft.functions.HammingKernels]] `transform` runs) and
  *    folds them into per-cluster row counts, distance sums and
  *    [[ModeCounts]] tables. A partition's result is bounded by
  *    k × n_features × the distinct values in that partition, never by
  *    its row count. At a few partitions the driver merges them all; at
  *    many, depth 2 adds one executor-side merge level (a shuffle of
  *    partition results, not of rows) so the driver merges ~√P.
  *    Deterministic and partition-invariant — this is the variant that
  *    scales to 100 TB: per-iteration cost is one scan.
  *
  *  - `ensemble` (reference fidelity): stage 1 runs [[LocalKModes]]
  *    independently inside each partition via `mapPartitions`
  *    [UP iter_k_modes / k_modes_partitioned ~L150-280 | conf=M], stage 2
  *    collects the P×k local modes (tiny) and meta-clusters them on the
  *    driver with our own local K-modes — the part upstream delegated to
  *    the `kmodes` PyPI package [UP ~L295-330 | conf=H]. Embarrassingly
  *    parallel (zero shuffles in stage 1), result depends on partitioning
  *    exactly like the reference.
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
    * frequency-weighted variant (matches against weak mode values still
    * cost 1 - freq/size). Stage 1 and the global algorithm always use
    * Hamming, like the reference.
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

  /** Null-normalized features column (null is its own category, SURVEY §2). */
  private[operators] def feats: Column =
    F.transform(col($(featuresCol)), x => coalesce(x, lit(ArrayModeAggregator.NullSentinel)))

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

  /** Init/reseed ranking hash over the features column `f` (see
    * [[KModesParams.initHash]]): md5 of chr(1)-joined `seed, f₁, …, fₙ`
    * in portable mode, else xxhash64(f, seed). The md5 tie-break key is
    * the same joined string (not the array), so an external replay
    * compares plain strings — equivalent for fixed-arity features.
    */
  private def initOrderKeys: Seq[org.apache.spark.sql.Column] =
    $(initHash) match {
      case "md5" =>
        val joined = concat_ws("\u0001", lit($(seed).toString), col("f"))
        Seq(md5(joined), concat_ws("\u0001", col("f")))
      case _ => Seq(xxhash64(col("f"), lit($(seed))), col("f"))
    }

  // ---------------------------------------------------------------- global
  private def fitGlobal(df: DataFrame): KModesModel = {
    val spark = df.sparkSession
    import spark.implicits._

    // Deterministic seeded init (R9 global form): k distinct feature rows in
    // seeded-hash order. The distinct shuffles the feature arrays of all
    // rows, and most rows are distinct once there are several features
    // (62,258 of the benchmark table's 100,000). Unless a cluster empties
    // and is reseeded, this exchange is the fit's only row shuffle.
    val input = df.select(feats.as("f"))
    var centers: Array[Seq[String]] = input
      .distinct()
      .orderBy(initOrderKeys: _*)
      .limit($(k))
      .as[Seq[String]]
      .collect()
    require(centers.nonEmpty, "KModes.fit: no rows")

    var iter = 0
    var converged = false
    var cost = 0.0
    val rows = input.queryExecution.toRdd
    while (iter < $(maxIter) && !converged) {
      // one job: each partition folds its rows into a LloydPass; the
      // driver merges the partition results
      val cs = KModes.centersData(centers)
      val pass = rows.treeAggregate(new LloydPass(centers.length))(
        (s, r) => s.add(r.getArray(0), cs), _.merge(_), depth = 2)

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
          // deterministic reseed: records farthest from their center,
          // (min_dist DESC, hash ASC), distinct, one bounded job (SURVEY §8.3)
          val a = Distances.assign(col("f"), typedlit(centers.map(_.toSeq).toSeq))
          val far = input
            .select(col("f"), a.getField("min_dist").as("d"))
            .distinct()
            .orderBy(col("d").desc +: initOrderKeys: _*)
            .limit(emptyIds.size)
            .as[(Seq[String], Int)]
            .collect()
          val upd = newCenters.clone()
          emptyIds.zip(far).foreach { case (id, (row, _)) => upd(id) = row }
          upd
        }

      converged = reseeded.map(_.toSeq).toSeq == centers.map(_.toSeq).toSeq
      centers = reseeded
      iter += 1
    }

    // Cost above is measured against the PREVIOUS iteration's centers; when
    // the loop exits at maxIter (or maxIter=0) it would not correspond to
    // the returned centers. One extra narrow pass fixes that.
    if (!converged)
      cost = KModes.meanHamming(input, col("f"), typedlit(centers.map(_.toSeq).toSeq))

    new KModesModel(uid, centers.map(_.toArray), cost, iter)
  }

  // -------------------------------------------------------------- ensemble
  private def fitEnsemble(df: DataFrame): KModesModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val kk = $(k)
    val mi = $(maxIter)
    val sd = $(seed)

    // Stage 1: local Lloyd per partition (zero shuffles), seeded per
    // partition id — deterministic for a fixed partitioning, exactly the
    // reference's semantics (result depends on layout, SURVEY §5).
    // R14 (every partition holds >= k records, the reference's fit()
    // precondition [UP ~L155-175 | conf=M]) rides along in the same pass
    // as a per-partition size marker instead of costing its own scan.
    val input = df.select(feats.as("f")).as[Seq[String]]
    val stage1: Array[(Int, Long, Seq[String])] = input
      .mapPartitions { it =>
        val data = it.map(_.toArray).toArray
        val pid = org.apache.spark.TaskContext.getPartitionId()
        if (data.isEmpty) Iterator.single((pid, 0L, null: Seq[String]))
        else {
          val r = LocalKModes.fit(data, kk, mi, sd + pid)
          Iterator.single((pid, data.length.toLong, null: Seq[String])) ++
            r.centers.iterator.map(c => (pid, -1L, c.toSeq))
        }
      }
      .collect()
    require(stage1.exists(_._2 > 0), "KModes.fit: no rows")
    val undersized = stage1.filter(t => t._2 >= 0 && t._2 < kk)
    require(undersized.isEmpty,
      s"ensemble fit: every partition needs >= k=$kk records, got " +
        undersized.map(t => s"partition ${t._1}=${t._2}").mkString(", "))
    val localModes: Array[Array[String]] =
      stage1.collect { case (_, -1L, c) => c.toArray }

    // Stage 2: driver-local meta-clustering of P×k modes (R11) — our own
    // LocalKModes replaces the `kmodes` package upstream imported.
    val meta = LocalKModes.metaCluster(localModes, kk, mi, sd,
      useFrequency = $(distance) == "frequency")

    // Final cost = mean Hamming distance to assigned metamode (R13).
    val cost = KModes.meanHamming(input.toDF("f"), col("f"),
      typedlit(meta.centers.map(_.toSeq).toSeq))

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

  private def centersLit = typedlit(clusterCenters.map(_.toSeq).toSeq)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    dataset.withColumn($(predictionCol),
      Distances.assign(feats, centersLit).getField("prediction"))
  }

  /** Reference-fidelity alias for the fitted centers
    * (`model.clusters` upstream [UP EnsembleKModes attrs ~L280-360 |
    * conf=M-H]).
    */
  def clusters: Array[Array[String]] = clusterCenters

  /** Single-record assignment (upstream `model.predict` took one record
    * or an RDD [UP ~L330-350 | conf=H]; the RDD form is [[transform]]).
    * Driver-side, no Spark job — delegates to the SAME
    * [[graft.functions.HammingKernels]] the distributed transform
    * executes, so distance and tie-break semantics cannot diverge.
    */
  def predict(features: Seq[String]): Int = {
    val f = KModes.arrayData(features.map(v =>
      if (v == null) ArrayModeAggregator.NullSentinel else v))
    HammingKernels.assign(f, KModes.centersData(clusterCenters.map(_.toSeq))).getInt(0)
  }

  /** Mean Hamming distance of `dataset` to its assigned centers (R13). */
  def computeCost(dataset: Dataset[_]): Double =
    KModes.meanHamming(dataset, feats, centersLit)
}

object KModes {
  /** Assemble categorical columns into the `array<string>` features column:
    * casts to string and maps null → the sentinel (null is its own
    * category, SURVEY §2).
    */
  def assemble(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    array(cols.map(c => coalesce(c.cast("string"),
      lit(ArrayModeAggregator.NullSentinel))): _*)

  /** Mean Hamming distance of the rows of `ds` (features `f`) to their
    * nearest center of the literal `centers` — one narrow aggregate.
    */
  private[operators] def meanHamming(ds: Dataset[_], f: Column, centers: Column): Double =
    ds.select(avg(Distances.assign(f, centers).getField("min_dist"))).head.getDouble(0)

  private[operators] def arrayData(values: Seq[String]): ArrayData =
    new GenericArrayData(values.map(UTF8String.fromString).toArray[Any])

  /** Centers in the internal form [[HammingKernels.assign]] reads. */
  private[operators] def centersData(centers: Seq[Seq[String]]): ArrayData =
    new GenericArrayData(centers.map(arrayData).toArray[Any])
}

/** One global Lloyd pass over some rows: per cluster, the row count, the
  * sum of Hamming distances to the assigned center and the
  * [[ModeCounts]] tables of the rows' features. Its size is bounded by
  * k × n_features × the distinct values seen, never by the row count.
  */
private final class LloydPass(k: Int) extends Serializable {
  val n = new Array[Long](k)
  val dist = new Array[Long](k)
  val tables: Array[ModeCounts.Tables] = Array.fill(k)(Array.empty)

  /** Assign `f` to its nearest center (ties to the lowest id) and count it. */
  def add(f: ArrayData, centers: ArrayData): LloydPass = {
    val a = HammingKernels.assign(f, centers)
    val c = a.getInt(0)
    n(c) += 1
    dist(c) += a.getInt(1)
    tables(c) = ModeCounts.add(tables(c), f)
    this
  }

  def merge(o: LloydPass): LloydPass = {
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
