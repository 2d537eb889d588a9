package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-MEANS on e6-QUANTIZED integer embeddings — the
  * numeric sibling of [[KModes]] (SURVEY §3.1's algorithm family,
  * continuous domain), engineered for the repo's exactness contract:
  * floats make both the assignment argmin and the centroid mean
  * reduction-order-dependent, so vectors are projected to integers
  * (floor(x·1e6), the [[Similarity.prototypeEval]] rule) and every
  * step — seeded init, squared-L2 assignment, floor-mean update — is
  * integer arithmetic an external engine replays digit-for-digit.
  *
  * Algorithm (all rules total-ordered):
  *  - init: the k vectors with the smallest `md5(seed ␁ id)` (ties →
  *    id ASC) become centroids 0..k−1 — the [[KModes]] portable-init
  *    recipe on ids;
  *  - assign: argmin Σ_pos (q − c)², ties → lowest centroid id;
  *  - update: centroid component = floor(Σ q / n) over members; an
  *    EMPTY cluster keeps its stale center (the q14 oracle rule — a
  *    reseed heuristic would be scan-order-dependent).
  *
  * Shape per iteration: one component-grain join (vectors × k on
  * pos — fan-out k, never pairwise), one map-side-combined distance
  * aggregation, one argmin window over k rows per vector, one
  * (cid, pos) centroid aggregation; centroid tables are k·dim rows,
  * localCheckpointed per pass to cut lineage. Int64 bound: |q| ≤
  * ~2·10⁶ ⇒ squared terms ≤ 4·10¹², safe past 10⁶ dims per vector
  * and 10⁶ members per (cid, pos) sum.
  */
object KMeansQ {

  /** Final assignment (id, cluster, dist) after `maxIter` Lloyd
    * passes; `dist` is the exact integer squared-L2 to the final
    * centroid. With fewer than `k` distinct vectors, k CLAMPS to the
    * vector count (a valid clustering with fewer clusters — the
    * pre-round-15 contract; an empty input yields an empty
    * assignment). [[KPrototypes.fit]] deliberately RAISES in the same
    * situation instead: its estimator's model shape (k fixed-size
    * center arrays) cannot represent a clamped fit, so the mixed
    * operator fails loudly rather than persist phantom centers.
    */
  def fit(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      maxIter: Int,
      seed: Long): DataFrame =
    core(df, idCol, embCol, k, maxIter, seed)._1

  /** KMeansQ's front end to [[KPrototypes.lloyd]] (the numeric-only
    * case): the quantize/posexplode prep, the seeded init on its ids,
    * the clamp and the empty-input return. Returns the final assignment
    * plus the final (cid, pos, cv) centroid relation —
    * [[KMeansQEstimator]] collects the k·dim centroid rows into its
    * model; the plain [[fit]] keeps only the assignment.
    */
  private[operators] def core(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      maxIter: Int,
      seed: Long): (DataFrame, DataFrame) = {
    require(k >= 2 && k <= 1024, "k in [2, 1024]")
    require(maxIter >= 1 && maxIter <= 64, "maxIter in [1, 64]")
    // an empty embedding explodes to no rows, so the fit omits it like
    // a NULL one
    val q = df.where(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        posexplode(transform(col(embCol).cast("array<double>"),
          x => floor(x * lit(1000000.0)).cast("long")))
          .as(Seq("pos", "qv")))
      .localCheckpoint(true)
    val (seeds, nSeeds) = KPrototypes.seedIds(q, k, seed)
    // Fewer distinct vectors than k: CLAMP k to the seed count and
    // proceed (kEff clusters, cids 0..kEff−1) — the pre-round-15
    // contract, restored per the round-15 ADVICE: the phantom-cluster
    // hazard was never in the semantics, only in running the
    // conditional-sum plan with unseeded cids (a sum over nothing is 0
    // and would beat every real distance), and clamping the sum count
    // removes it without breaking n < k callers. Zero vectors degrade
    // to an empty assignment, the same as pre-15.
    val kEff = math.min(k.toLong, nSeeds).toInt
    if (kEff == 0)
      (q.select(col("id"), col("pos").cast("long").as("cluster"),
        col("qv").as("dist")).where(lit(false)),
        q.select(col("pos").cast("long").as("cid"), col("pos"),
          col("qv").as("cv")).where(lit(false)))
    else {
      val (asg, cn, _) =
        KPrototypes.lloyd(q, null, seeds, kEff, 0L, maxIter)
      (asg, cn)
    }
  }
}

/** `spark.ml`-shaped KMeansQ (the [[KPrototypesEstimator]] idiom on
  * the pure-numeric distance, closing the API asymmetry the round-15
  * operator pair left: mixed clustering had a persistable model, the
  * embedding-array flagship did not): `fit` runs [[KMeansQ.core]] and
  * collects the k·dim centroid rows (bounded — the KModes
  * driver-collect rule); the model's `transform` assigns NEW rows
  * against the frozen centroids with one narrow literal-folded
  * all-built-in expression (no join, no shuffle — the
  * [[KPrototypesModel]] `distArray` shape on an ARRAY column), with
  * fit-identical distance and (dist ASC, cid ASC) tie semantics
  * (spec-pinned). Rows with a NULL or empty embedding get a NULL
  * prediction (fit drops them); a row with NULL ELEMENTS or a length
  * differing from the centroids' scores on the overlapping non-null
  * positions — EXACTLY what the fit's own assignment does (its
  * long-format sum skips null terms and its pos-join skips absent
  * positions), so the "transform over training rows ≡ fit assignment"
  * pin holds on degenerate rows too (round-16 review finding; the
  * null-filtered aggregate in `distArray` is that alignment). With
  * fewer than k distinct training vectors the fit CLAMPS (the
  * [[KMeansQ.fit]] contract) and the model carries the effective
  * cluster count; an effective count below 2 raises — a 1-cluster
  * model answers nothing.
  */
trait KMeansQParams extends org.apache.spark.ml.param.Params {
  import org.apache.spark.ml.param._
  final val k = new IntParam(this, "k", "number of clusters",
    ParamValidators.inRange(2, 1024))
  final val maxIter = new IntParam(this, "maxIter", "Lloyd iterations",
    ParamValidators.inRange(1, 64))
  final val seed = new LongParam(this, "seed", "random seed")
  final val idCol = new Param[String](this, "idCol",
    "record id column (portable md5 init ranks on it)")
  final val embCol = new Param[String](this, "embCol",
    "embedding array column")
  final val predictionCol = new Param[String](this, "predictionCol",
    "prediction output column")
  setDefault(k -> 8, maxIter -> 20, seed -> 42L, idCol -> "id",
    embCol -> "embedding", predictionCol -> "prediction")

  protected def validateSchema(
      schema: org.apache.spark.sql.types.StructType,
      needId: Boolean): org.apache.spark.sql.types.StructType = {
    val needed = Seq($(embCol)) ++ (if (needId) Seq($(idCol)) else Nil)
    val missing = needed.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"KMeansQ: missing columns $missing")
    if (schema.fieldNames.contains($(predictionCol))) schema
    else org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField($(predictionCol),
        org.apache.spark.sql.types.IntegerType, true))
  }
}

class KMeansQEstimator(override val uid: String)
  extends org.apache.spark.ml.Estimator[KMeansQModel]
  with KMeansQParams {
  def this() = this(
    org.apache.spark.ml.util.Identifiable.randomUID("kmeansq"))

  def setK(v: Int): this.type = set(k, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setIdCol(v: String): this.type = set(idCol, v)
  def setEmbCol(v: String): this.type = set(embCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def transformSchema(
      schema: org.apache.spark.sql.types.StructType)
    : org.apache.spark.sql.types.StructType =
    validateSchema(schema, needId = true)
  override def copy(extra: org.apache.spark.ml.param.ParamMap)
    : KMeansQEstimator = defaultCopy(extra)

  override def fit(
      dataset: org.apache.spark.sql.Dataset[_]): KMeansQModel = {
    transformSchema(dataset.schema)
    val (asg, cn) = KMeansQ.core(dataset.toDF(), $(idCol), $(embCol),
      $(k), $(maxIter), $(seed))
    // k·dim rows + one 2-column aggregate: the bounded driver collects
    val byCid = KPrototypes.collectCentroids(cn)(_.getLong(2))
    val kEff = byCid.size
    require(kEff >= 2,
      s"KMeansQEstimator.fit: the clamped fit produced $kEff " +
        "cluster(s) — a model needs at least 2 distinct training " +
        "vectors (KMeansQ.fit alone handles the degenerate cases)")
    val model = new KMeansQModel(uid,
      Array.tabulate(kEff)(i => byCid(i.toLong)), KPrototypes.meanDist(asg))
    copyValues(model.setParent(this))
    // the model's k is the EFFECTIVE count (clamp survives persistence)
    model.set(model.k, kEff)
    model
  }
}

/** Fitted integer centroids; `cost` is the mean exact squared-L2 of
  * the training vectors to their final centroid.
  */
class KMeansQModel(
    override val uid: String,
    val centers: Array[Array[Long]],
    val cost: Double)
  extends org.apache.spark.ml.Model[KMeansQModel]
  with KMeansQParams
  with org.apache.spark.ml.util.MLWritable {

  override def write: org.apache.spark.ml.util.MLWriter =
    new KMeansQModel.Writer(this)

  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def transformSchema(
      schema: org.apache.spark.sql.types.StructType)
    : org.apache.spark.sql.types.StructType =
    validateSchema(schema, needId = false)
  override def copy(extra: org.apache.spark.ml.param.ParamMap)
    : KMeansQModel = {
    val m = new KMeansQModel(uid, centers, cost)
    copyValues(m, extra).setParent(parent)
  }

  /** Squared-L2 to every centroid as one literal-folded array
    * expression (no join, no shuffle). Null terms (a NULL element, or
    * a position only one side has after zip_with's padding) are
    * FILTERED before the sum — the exact twin of the fit's long-format
    * assignment, whose `sum` skips null squared terms and whose
    * pos-equi-join never produces the absent positions at all.
    */
  private def distArray: org.apache.spark.sql.Column = {
    val cLit = org.apache.spark.sql.functions
      .typedlit(centers.map(_.toSeq).toSeq)
    val qArr = org.apache.spark.sql.functions.transform(
      col($(embCol)).cast("array<double>"),
      x => floor(x * lit(1000000.0)).cast("long"))
    org.apache.spark.sql.functions.transform(cLit, c =>
      aggregate(
        filter(zip_with(qArr, c, (a, b) => (a - b) * (a - b)),
          x => x.isNotNull),
        lit(0L), (acc, x) => acc + x))
  }

  /** The rows fit clusters: a non-NULL, non-empty embedding. */
  private def embPresent: org.apache.spark.sql.Column =
    col($(embCol)).isNotNull && size(col($(embCol))) > 0

  override def transform(
      dataset: org.apache.spark.sql.Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    dataset.withColumn($(predictionCol),
      when(embPresent, graft.functions.Distances.argminIndex(distArray))
        .otherwise(lit(null)))
  }

  /** Mean exact squared-L2 of `dataset` to its assigned centroid
    * (NULL- and empty-embedding rows excluded, as in fit); 0.0 when no
    * row is scorable.
    */
  def computeCost(dataset: org.apache.spark.sql.Dataset[_]): Double =
    KPrototypes.meanMinDist(dataset, embPresent, distArray)
}

object KMeansQModel
  extends org.apache.spark.ml.util.MLReadable[KMeansQModel] {
  /** Persistence (the [[KPrototypesModel]] recipe): one parquet at
    * `<path>/data`, a row per cluster, scalars replicated —
    * dependency-free of the private[ml] DefaultParamsWriter machinery.
    */
  private[operators] class Writer(instance: KMeansQModel)
      extends org.apache.spark.ml.util.MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      instance.centers.zipWithIndex
        .map { case (c, i) =>
          (i, c.toSeq, instance.cost, instance.uid,
            instance.getOrDefault(instance.embCol),
            instance.getOrDefault(instance.predictionCol))
        }.toSeq
        .toDF("center_id", "center", "cost", "uid", "emb_col",
          "prediction_col")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$path/data")
    }
  }

  private class Reader
      extends org.apache.spark.ml.util.MLReader[KMeansQModel] {
    override def load(path: String): KMeansQModel = {
      val rows = sparkSession.read.parquet(s"$path/data")
        .collect().sortBy(_.getAs[Int]("center_id"))
      // < 2 centers cannot have been written by the estimator (fit
      // enforces the same floor) — name the path and the corruption
      // instead of letting the k validator throw opaquely
      require(rows.length >= 2,
        s"KMeansQModel.load: $path/data holds ${rows.length} center " +
          "row(s); a saved model always has >= 2 — the file is " +
          "truncated or hand-edited")
      val head = rows.head
      val model = new KMeansQModel(
        head.getAs[String]("uid"),
        rows.map(_.getAs[Seq[Long]]("center").toArray),
        head.getAs[Double]("cost"))
      model.set(model.k, rows.length)
      model.set(model.embCol, head.getAs[String]("emb_col"))
      model.set(model.predictionCol,
        head.getAs[String]("prediction_col"))
      model
    }
  }

  override def read: org.apache.spark.ml.util.MLReader[KMeansQModel] =
    new Reader
}
