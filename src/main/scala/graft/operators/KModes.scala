package graft.operators

import graft.functions.HammingAssign
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
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
  *  - `global` (default): plain distributed Lloyd with no row shuffle,
  *    and the input plan runs once per fit. One job scans the input:
  *    each partition keeps its k smallest distinct rows in the
  *    seeded-hash order for the init (the driver merges the P×k rows,
  *    [[KModes.smallestDistinct]]) and codes the same rows' features (a null
  *    element read as the null category) into per-position dictionary
  *    codes, one per distinct byte string ([[Coded]]), held
  *    `MEMORY_AND_DISK` for the fit: 4 bytes per feature and row, plus
  *    an offset and the partition's dictionaries. Each iteration is ONE
  *    job over those cached codes: every partition maps the k centers
  *    into its code space, assigns its rows to the nearest by int
  *    Hamming (ties to the lowest id), counts them into int arrays and
  *    returns per-cluster row counts, distance sums and [[ModeCounts]]
  *    tables keyed by value. A partition's result is bounded by
  *    k × n_features × the distinct values in that partition, never by
  *    its row count. At a few partitions the driver merges them all; at
  *    many, depth 2 adds one executor-side merge level (a shuffle of
  *    partition results, not of rows) so the driver merges ~√P. The
  *    final cost pass reads the codes too; an empty-cluster reseed ranks
  *    by Spark hash expressions and so re-reads the input. `transform`,
  *    `computeCost` and `predict` code each raw feature row against the
  *    centers ([[Coded.Centers]]) and run the same int kernel.
  *    Deterministic and partition-invariant.
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
  *    with the one kernel [[Coded.nearest]], and so does the cost pass.
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

  /** Null-normalized features column (null is its own category, SURVEY §2):
    * read only by the global fit's one scan (its init ranking and its
    * codes) and its reseed ranking. The ensemble's stage 1 and the
    * Hamming kernel read the raw column with the same null rule.
    */
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

  private def initOrderKeys: Seq[Column] = KModes.initOrderKeys($(initHash), $(seed))

  // ---------------------------------------------------------------- global
  private def fitGlobal(df: DataFrame): KModesModel = {
    // Deterministic seeded init (R9 global form): the k smallest distinct
    // null-normalized feature rows in seeded-hash order. The init's one job
    // also codes every partition's rows and keeps the codes, so the input
    // plan runs once per fit (a reseed excepted).
    val ranked = df.select(feats.as("f"))
    val init = new KModes.Ranked(ranked, initOrderKeys)
    val parts = KModes.codedPartitions(init, $(k))
    try {
      var centers: Array[Seq[String]] =
        init.merge(parts.flatMap(_._1).collect(), $(k)).map(_.getSeq[String](0))
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
            // deterministic reseed: records farthest from their center,
            // (min_dist DESC, hash ASC), distinct, one job with no exchange
            // (SURVEY §8.3); it re-reads the input to rank by Spark's hashes
            val a = KModes.assign(col("f"), typedlit(centers.toSeq))
            val far = KModes.smallestDistinct(
              ranked.select(col("f"), a.getField("min_dist").as("d")),
              col("d").desc +: initOrderKeys, emptyIds.size)
            val upd = newCenters.clone()
            emptyIds.zip(far).foreach { case (id, r) => upd(id) = r.getSeq[String](0) }
            upd
          }

        converged = reseeded.map(_.toSeq).toSeq == centers.map(_.toSeq).toSeq
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

    // Stage 1: local Lloyd per partition (zero shuffles), seeded per
    // partition id — deterministic for a fixed partitioning, exactly the
    // reference's semantics (result depends on layout, SURVEY §5). Each
    // partition codes its raw feature arrays (a null element read as the
    // null category) and fits the codes.
    // R14 (every partition holds >= k records, the reference's fit()
    // precondition [UP ~L155-175 | conf=M]) rides along in the same pass
    // as a per-partition size marker instead of costing its own scan.
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
    dataset.withColumn($(predictionCol),
      KModes.assign(col($(featuresCol)), typedlit(clusterCenters.toSeq.map(_.toSeq)))
        .getField("prediction"))
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

  /** Init/reseed ranking keys over the null-normalized features column
    * `f` (see [[KModesParams.initHash]]): md5 of chr(1)-joined
    * `seed, f₁, …, fₙ` in portable mode, else xxhash64(f, seed). The md5
    * tie-break key is the same joined string (not the array), so an
    * external replay compares plain strings — equivalent for fixed-arity
    * features.
    */
  private[graft] def initOrderKeys(initHash: String, seed: Long): Seq[Column] =
    initHash match {
      case "md5" =>
        val joined = concat_ws("\u0001", lit(seed.toString), col("f"))
        Seq(md5(joined), concat_ws("\u0001", col("f")))
      case _ => Seq(xxhash64(col("f"), lit(seed)), col("f"))
    }

  /** `df` with its `order` keys projected next to its columns, under
    * Spark's own ordering of `order` (so ties, directions and nulls sort
    * as in `orderBy`). Rows tied on `order` are ranked by their own
    * columns, ascending: a bounded set of [[smallest]] rows must not fold
    * two distinct rows, and `orderBy` leaves their order open.
    */
  private[operators] final class Ranked(df: DataFrame, order: Seq[Column]) {
    private val width = df.columns.length
    // the analyzed `orderBy` resolves the keys, directions and null order;
    // each key is computed once per row, next to the row's own columns
    private val sorts = df.orderBy(order: _*).queryExecution.analyzed
      .collectFirst { case s: Sort => s.order }.get
    val keyed: DataFrame = df.select(df.columns.toSeq.map(col) ++
      sorts.zipWithIndex.map { case (s, i) => Bridge.column(s.child).as(s"__order$i") }: _*)
    private val schema = keyed.schema
    private def ref(i: Int) = BoundReference(i, schema(i).dataType, schema(i).nullable)
    val ordering: Ordering[InternalRow] = new LazilyGeneratedOrdering(
      sorts.zipWithIndex.map { case (s, i) =>
        SortOrder(ref(width + i), s.direction, s.nullOrdering, Seq.empty)
      } ++ (0 until width).map(i => SortOrder(ref(i), Ascending)))

    /** The n smallest distinct of `picks`, the [[smallest]] keyed rows of
      * every partition, as rows of `df`, in order. Exact, because the
      * union of every partition's n smallest distinct rows holds the global
      * n smallest.
      */
    def merge(picks: Array[InternalRow], n: Int): Array[Row] = {
      val toScala = (0 until width).map(i =>
        (schema(i).dataType, CatalystTypeConverters.createToScalaConverter(schema(i).dataType)))
      smallest(picks.iterator, n, ordering).map(r =>
        Row.fromSeq(toScala.zipWithIndex.map { case ((t, conv), i) => conv(r.get(i, t)) }))
    }
  }

  /** The rows of `df.distinct().orderBy(order: _*).limit(n)`, in one job
    * with no exchange: each partition keeps its n smallest distinct rows
    * of [[Ranked]] `keyed` and the driver merges the P×n rows.
    */
  private[graft] def smallestDistinct(df: DataFrame, order: Seq[Column], n: Int): Array[Row] =
    if (n <= 0) Array.empty
    else {
      val r = new Ranked(df, order)
      val ord = r.ordering
      r.merge(r.keyed.queryExecution.toRdd.mapPartitions(rows => smallest(rows, n, ord).iterator)
        .collect(), n)
    }

  /** The n smallest distinct rows of `rows` under `ord`, in order. */
  private def smallest(rows: Iterator[InternalRow], n: Int,
      ord: Ordering[InternalRow]): Array[InternalRow] =
    LocalKModes.smallest(rows, n, ord, (r: InternalRow) => r.copy())

  /** The global fit's one scan of its input: per partition, the n smallest
    * distinct `init.keyed` rows (as [[smallestDistinct]] picks them) and
    * the partition's features (`keyed`'s first column, a null element read
    * as the null category) as [[Coded]] `UTF8String` codes. Held
    * `MEMORY_AND_DISK` until the caller unpersists it.
    */
  private def codedPartitions(init: Ranked, n: Int): RDD[(Array[InternalRow], Coded[UTF8String])] = {
    val ord = init.ordering
    init.keyed.queryExecution.toRdd.mapPartitions { rows =>
      val b = new Coded.SparkRows(ArrayModeAggregator.NullSentinelUtf8)
      val picks = smallest(rows.map { r => b.addRow(r.getArray(0)); r }, n, ord)
      Iterator.single((picks, b.result()))
    }.setName("KModes.fit coded partitions").persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** struct(prediction, min_dist) of the nearest center, reading a null
    * feature element as the null category: K-modes' assignment over the
    * raw features column.
    */
  private[operators] def assign(f: Column, centers: Column): Column =
    Bridge.column(HammingAssign(Bridge.expression(f), Bridge.expression(centers),
      nullsAsSentinel = true))

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
