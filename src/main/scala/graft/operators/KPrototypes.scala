package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-PROTOTYPES — MIXED categorical + numeric
  * clustering (Huang 1998, "Extensions to the k-Means Algorithm for
  * Clustering Large Data Sets with Categorical Values" — the same
  * paper the reference's k-modes comes from, which defines
  * k-prototypes alongside it): records carry both categorical
  * attributes (Hamming / simple-matching distance, mode updates — the
  * [[KModes]] rules) and numeric attributes (squared-L2 on
  * e6-quantized integers, floor-mean updates — the [[KMeansQ]] rules),
  * combined as
  *
  *   d(x, c) = Σ_num (q − c)²  +  γ · Σ_cat [x ≠ c]
  *
  * with γ (`gammaE12`, Huang's mixing weight) expressed in the SAME
  * integer units as the squared-e6 numeric terms, so the whole
  * distance is one exact 64-bit integer and an external engine
  * replays every step digit-for-digit (the q14/q204 full-Lloyd-replay
  * contract). Every rule is total-ordered:
  *
  *  - init: the k records with the smallest `md5(seed ␁ id)` (ties →
  *    id ASC) seed clusters 0..k−1 — [[KMeansQ]]'s portable recipe, so
  *    γ = 0 degenerates to the SAME clustering KMeansQ produces on the
  *    numeric part (spec-pinned);
  *  - assign: argmin d, ties → lowest cluster id;
  *  - update: numeric components by floor-mean over members, each
  *    categorical position by mode with (count DESC, value ASC)
  *    tie-break (the [[ModeArrayAgg]] rule); an EMPTY cluster keeps
  *    its stale center on BOTH sides (the q14 oracle rule — reseeding
  *    would be scan-order-dependent).
  *
  * Null policy: a NULL categorical value is its own category (the
  * KModes sentinel); rows with a NULL numeric attribute are dropped
  * up front (a squared distance to nothing has no honest value —
  * callers impute first if they want those rows).
  *
  * Shape per iteration (all relational, no driver loops): numeric and
  * categorical components live in LONG format ((id, pos, qv) /
  * (id, cpos, cv)); assignment is one k-fan join per side whose
  * per-(id, cluster) TERMS union into ONE map-side-combined sum (γ
  * folds into each mismatch term), then a min_by aggregate picks the
  * argmin — hash aggregation end to end, no sort+window, no outer
  * join; updates are one (cid, pos) floor-mean and one
  * (cid, cpos, value) count + top-1 window. The seeded init is a
  * distributed sort-limit (TakeOrderedAndProject), never a
  * single-partition sort of the id set. Centroid tables are k·(dims)
  * rows, localCheckpointed per pass to cut lineage. Int64 bound: per-component |qv| ≤ ~2·10⁹ keeps
  * one squared term in range, but SUMS need headroom — keep numeric
  * magnitudes ≤ ~10⁶ after quantization (pre-scale large currencies/
  * counts; the spec and q276 scale price/size into e6 ≤ 5·10⁴).
  *
  * Fewer than k distinct (non-null-numeric) records RAISES — an
  * intentional contract difference from [[KMeansQ.fit]] (which clamps
  * k to the vector count): the estimator persists k fixed-size center
  * arrays, so a clamped fit would save phantom centers that
  * `transform` then assigns real rows to. Callers wanting a clamped
  * mixed fit should lower k.
  *
  * @return (id, cluster, dist) — dist is the exact integer mixed
  *         distance to the final centroid
  */
object KPrototypes {

  val NullSentinel: String = ArrayModeAggregator.NullSentinel

  /** k-threshold under which assignment runs as ONE groupBy(id) with k
    * conditional sums (above it, k aggregate expressions stop being
    * codegen-friendly and the two-level min_by plan takes over). A var
    * only as a test seam: the spec forces the fallback and pins the
    * two plans equal.
    */
  private[graft] var condSumMaxK: Int = 64

  def fit(
      df: DataFrame,
      idCol: String,
      catCols: Seq[String],
      numCols: Seq[String],
      k: Int,
      gammaE12: Long,
      maxIter: Int,
      seed: Long): DataFrame =
    core(df, idCol, catCols, numCols, k, gammaE12, maxIter, seed)._1

  /** Huang 1998's γ heuristic (§4 of the paper: γ ≈ 0.5·σ̄ of the
    * numeric attributes, stated for UNIT-VARIANCE data where per-
    * attribute squared distances are O(1)) translated to this
    * engine's integer units, where one categorical mismatch weighs
    * against SQUARED e6-quantized numeric terms:
    *
    *   γ_e12 = ⌊0.5 · mean_j(σ_q,j²)⌋   (σ_q,j = population stddev of
    *                                      attribute j on the ·10⁶
    *                                      quantized scale)
    *
    * Mean-of-VARIANCES, not squared mean-of-stddevs, on purpose: the
    * expected per-attribute squared term between two random rows is
    * 2·mean(σ²), so this γ pins the mismatch-to-numeric ratio at
    * Huang's unit-variance value (0.5/2 = 0.25) for EVERY dataset —
    * the property that makes the suggestion scale-free. On the q276
    * part fixture it lands ≈ 5·10⁷ — gentler than the hand-picked
    * γ = 10⁹ (which was pinned to the LARGEST single squared size
    * term, the aggressive end), and inside the two-orders window
    * where neither attribute kind collapses (KPrototypesSpec pins
    * it). One stddev aggregate, no shuffle beyond it; NULL numerics
    * are ignored per-column (the aggregate's own null rule — fit
    * drops such rows entirely, a difference only mixed-null inputs
    * see). A degenerate input (no rows, all-constant columns)
    * suggests 0 — γ = 0 is the documented "numeric-only"
    * degeneration, not an error. The suggestion is a starting point,
    * not a fit parameter: callers with domain knowledge should still
    * override ([[KPrototypesParams.gammaE12]] stays raw).
    */
  def suggestGammaE12(df: DataFrame, numCols: Seq[String]): Long = {
    require(numCols.nonEmpty,
      "suggestGammaE12: need at least one numeric column")
    val r = df.select(numCols.map(c =>
      stddev_pop(floor(col(c).cast("double") * lit(1000000.0))
        .cast("long")).as(s"__s_$c")): _*).head()
    val meanVar = numCols.indices
      .map(i => if (r.isNullAt(i)) 0.0
        else { val s = r.getDouble(i); s * s })
      .sum / numCols.size
    math.floor(0.5 * meanVar).toLong
  }

  /** KPrototypes' front end to [[lloyd]]: column prep, the null-numeric
    * drop, the seeded init and the raise on fewer than k seeds. Returns
    * the final assignment plus the final centroid relations ((cid, pos,
    * cv) numeric / (cid, cpos, cw) categorical; null when that attribute
    * kind is absent) — the [[KPrototypesEstimator]] collects the k·dims
    * centroid rows into its model, the plain [[fit]] keeps only the
    * assignment.
    */
  private[operators] def core(
      df: DataFrame,
      idCol: String,
      catCols: Seq[String],
      numCols: Seq[String],
      k: Int,
      gammaE12: Long,
      maxIter: Int,
      seed: Long): (DataFrame, DataFrame, DataFrame) = {
    require(k >= 2 && k <= 1024, "k in [2, 1024]")
    require(maxIter >= 1 && maxIter <= 64, "maxIter in [1, 64]")
    require(gammaE12 >= 0L, "gammaE12 must be non-negative")
    require(catCols.nonEmpty || numCols.nonEmpty,
      "KPrototypes.fit: need at least one categorical or numeric column")
    val base0 = df.select(col(idCol).cast("long").as("id") +:
      (catCols.map(c => coalesce(col(c).cast("string"), lit(NullSentinel))
        .as(s"__c_$c")) ++
       numCols.map(c => col(c).cast("double").as(s"__q_$c"))): _*)
    val base = numCols.foldLeft(base0)((b, c) =>
      b.where(col(s"__q_$c").isNotNull))
    // long-format components, checkpointed once (the iteration re-reads
    // them every pass)
    val qn =
      if (numCols.isEmpty) null
      else base.select(col("id"),
        posexplode(array(numCols.map(c =>
          floor(col(s"__q_$c") * lit(1000000.0)).cast("long")): _*))
          .as(Seq("pos", "qv")))
        .localCheckpoint(true)
    val qc =
      if (catCols.isEmpty) null
      else base.select(col("id"),
        posexplode(array(catCols.map(c => col(s"__c_$c")): _*))
          .as(Seq("cpos", "cv")))
        .localCheckpoint(true)
    // k clusters need k distinct records: with fewer, the conditional-
    // sum assignment would manufacture PHANTOM zero-distance clusters
    // for the unseeded cids (sum of nothing = 0 beats every real
    // distance) — raise instead of silently mis-clustering
    val (seeds, nSeeds) = seedIds(base, k, seed)
    require(nSeeds == k.toLong,
      s"KPrototypes.fit: k=$k clusters need at least k distinct " +
        s"non-null-numeric records, got $nSeeds")
    lloyd(qn, qc, seeds, k, gammaE12, maxIter)
  }

  /** Seeded portable init on the distinct ids of `ids`: the `k` ids with
    * the smallest `md5(seed ␁ id)` (ties → id ASC) become cids 0..k−1.
    * Plan note: orderBy+limit compiles to a DISTRIBUTED top-k
    * (TakeOrderedAndProject); the rank window then runs over the k
    * survivors only — never a single-partition sort of the full id set
    * (the probe showed that window at 2M ids). Returns the checkpointed
    * (id, cid) seeds and their count (≤ k) — one bounded action, and
    * the checkpoint is reused by the centroid joins.
    */
  private[operators] def seedIds(
      ids: DataFrame, k: Int, seed: Long): (DataFrame, Long) = {
    val hashed = ids.select(col("id")).distinct()
      .select(col("id"),
        graft.functions.PortableHash.hash60(col("id"), seed.toString)
          .as("__h"))
    val seedRank = Window.orderBy(col("__h").asc, col("id").asc)
    val seeds = hashed.orderBy(col("__h").asc, col("id").asc).limit(k)
      .withColumn("__r", row_number().over(seedRank))
      .select(col("id"), (col("__r") - 1).cast("long").as("cid"))
      .localCheckpoint(true)
    (seeds, seeds.count())
  }

  /** The relational Lloyd loop over long-format numeric (id, pos, qv)
    * and categorical (id, cpos, cv) components — either may be null,
    * not both — from the (id, cid) `seeds` (cids 0..k−1, all present).
    * Returns the final (id, cluster, dist) assignment and the final
    * numeric (cid, pos, cv) / categorical (cid, cpos, cw) centroid
    * relations (null where the side is null).
    */
  private[operators] def lloyd(
      qn: DataFrame,
      qc: DataFrame,
      seeds: DataFrame,
      k: Int,
      gammaE12: Long,
      maxIter: Int): (DataFrame, DataFrame, DataFrame) = {
    var cn = if (qn == null) null
      else qn.join(seeds, Seq("id"))
        .select(col("cid"), col("pos"), col("qv").as("cv"))
        .localCheckpoint(true)
    var cc = if (qc == null) null
      else qc.join(seeds, Seq("id"))
        .select(col("cid"), col("cpos"), col("cv").as("cw"))
        .localCheckpoint(true)

    // Assignment plan (probe-tuned at 2M records): the numeric and
    // categorical per-(id, cid) TERMS are unioned BEFORE one map-side-
    // combined aggregation (the γ weight folds into each mismatch
    // term, so the mixed distance is a plain Σ). For k ≤
    // [[KPrototypes.condSumMaxK]] (the common case, and every oracled
    // fit) the whole assignment is ONE groupBy(id) with k conditional
    // sums — 2M groups instead of a 16M-row (id, cid) intermediate
    // plus a second aggregate — and the argmin is array-expression
    // arithmetic over the k sums ([[graft.functions.Distances
    // .argminIndex]]: first-position min = ties to the lowest cid).
    // Larger k falls back to the two-level plan whose argmin is a
    // min_by ordered by struct(__d, cid) (the same (dist ASC, cid ASC)
    // rule — the spec forces this path and pins it equal). Same
    // totals, same ties either way (q204's and q276's hash oracles).
    def assign(cnC: DataFrame, ccC: DataFrame): DataFrame = {
      val ndRows = if (qn == null) null
        else qn.join(cnC, Seq("pos"))
          .select(col("id"), col("cid"),
            ((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("__t"))
      val cdRows = if (qc == null) null
        else qc.join(ccC, Seq("cpos"))
          .select(col("id"), col("cid"),
            when(col("cv") =!= col("cw"), lit(gammaE12))
              .otherwise(lit(0L)).as("__t"))
      val terms =
        if (ndRows == null) cdRows
        else if (cdRows == null) ndRows
        else ndRows.unionByName(cdRows)
      if (k <= condSumMaxK) {
        val sums = (0 until k).map(i =>
          sum(when(col("cid") === i.toLong, col("__t"))
            .otherwise(lit(0L))).as(s"__d$i"))
        val dArr = array((0 until k).map(i => col(s"__d$i")): _*)
        terms.groupBy(col("id"))
          .agg(sums.head, sums.tail: _*)
          .select(col("id"),
            graft.functions.Distances.argminIndex(dArr)
              .cast("long").as("cid"),
            array_min(dArr).as("dist"))
      } else {
        terms.groupBy(col("id"), col("cid"))
          .agg(sum(col("__t")).as("__d"))
          .groupBy(col("id"))
          .agg(min_by(struct(col("cid"), col("__d")),
            struct(col("__d"), col("cid"))).as("__best"))
          .select(col("id"), col("__best.cid").as("cid"),
            col("__best.__d").as("dist"))
      }
    }

    for (_ <- 1 to maxIter) {
      // with both sides, materialize the assignment ONCE per pass (2
      // id-grain columns): without this, the numeric and categorical
      // update checkpoints would each recompute the full id×k
      // aggregation — the probe measured that as ~2× the whole fit. One
      // side reads it once, so a checkpoint would only add a job.
      val asg0 = assign(cn, cc).select(col("id"), col("cid"))
      val asg = if (qn != null && qc != null) asg0.localCheckpoint(true)
        else asg0
      if (qn != null) {
        val updated = qn.join(asg, Seq("id"))
          .groupBy(col("cid"), col("pos"))
          .agg(floor(sum(col("qv")).cast("double") /
            count(lit(1)).cast("double")).cast("long").as("__new"))
        // stale-center rule: clusters that lost every member keep their
        // previous coordinates rather than reseeding nondeterministically
        cn = cn.join(updated, Seq("cid", "pos"), "left")
          .select(col("cid"), col("pos"),
            coalesce(col("__new"), col("cv")).as("cv"))
          .localCheckpoint(true)
      }
      if (qc != null) {
        val byMode = Window.partitionBy(col("cid"), col("cpos"))
          .orderBy(col("__n").desc, col("cv").asc)
        val mode = qc.join(asg, Seq("id"))
          .groupBy(col("cid"), col("cpos"), col("cv"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("__rn", row_number().over(byMode))
          .where(col("__rn") === 1)
          .select(col("cid"), col("cpos"), col("cv").as("__new"))
        cc = cc.join(mode, Seq("cid", "cpos"), "left")
          .select(col("cid"), col("cpos"),
            coalesce(col("__new"), col("cw")).as("cw"))
          .localCheckpoint(true)
      }
    }
    (assign(cn, cc).withColumnRenamed("cid", "cluster"), cn, cc)
  }

  /** Mean `dist` of an (id, cluster, dist) assignment — the estimators'
    * training cost (one aggregate); 0 when the assignment is empty.
    */
  private[operators] def meanDist(asg: DataFrame): Double = {
    val agg = asg.agg(count(lit(1)), sum(col("dist"))).head()
    if (agg.getLong(0) == 0L) 0.0
    else agg.getLong(1).toDouble / agg.getLong(0).toDouble
  }

  /** A centroid relation's (cid, position, value) rows, collected per
    * cid in position order (k·dims rows: the bounded driver collect);
    * empty for a null relation.
    */
  private[operators] def collectCentroids[T: scala.reflect.ClassTag](
      c: DataFrame)(value: Row => T): Map[Long, Array[T]] =
    if (c == null) Map.empty
    else c.collect().groupBy(_.getLong(0))
      .map { case (cid, rs) => cid -> rs.sortBy(_.getInt(1)).map(value) }

  /** A model's `computeCost`: the mean over the rows of `ds` where
    * `present` holds of the smallest entry of `dists` (the distance to
    * every center); 0.0 when no row is scorable.
    */
  private[operators] def meanMinDist(
      ds: Dataset[_], present: Column, dists: Column): Double = {
    val r = ds.where(present).select(avg(array_min(dists))).head
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}

/** `spark.ml`-shaped k-prototypes (the [[KModes]] estimator idiom on
  * the mixed distance): `fit` runs [[KPrototypes.core]] and collects
  * the k·dims centroid rows (bounded — the KModes driver-collect
  * rule); the model's `transform` assigns NEW rows against the frozen
  * prototypes with one narrow, all-built-in expression (centers folded
  * in as a literal — the degenerate broadcast join), identical in
  * distance/tie semantics to the fit's own assignment (spec-pinned:
  * transform over the training rows reproduces `fit`'s assignment
  * exactly). Rows with a NULL numeric attribute get a NULL prediction
  * at transform time (fit DROPS them; a squared distance to nothing
  * has no honest value either way).
  */
trait KPrototypesParams extends org.apache.spark.ml.param.Params {
  import org.apache.spark.ml.param._
  final val k = new IntParam(this, "k", "number of clusters",
    ParamValidators.inRange(2, 1024))
  final val maxIter = new IntParam(this, "maxIter", "Lloyd iterations",
    ParamValidators.inRange(1, 64))
  final val seed = new LongParam(this, "seed", "random seed")
  final val gammaE12 = new LongParam(this, "gammaE12",
    "categorical mismatch weight in squared-e6 units",
    ParamValidators.gtEq(0))
  final val idCol = new Param[String](this, "idCol",
    "record id column (portable md5 init ranks on it)")
  final val catCols = new StringArrayParam(this, "catCols",
    "categorical attribute columns")
  final val numCols = new StringArrayParam(this, "numCols",
    "numeric attribute columns")
  final val predictionCol = new Param[String](this, "predictionCol",
    "prediction output column")
  setDefault(k -> 8, maxIter -> 20, seed -> 42L, gammaE12 -> 0L,
    idCol -> "id", catCols -> Array.empty[String],
    numCols -> Array.empty[String], predictionCol -> "prediction")

  protected def validateSchema(
      schema: org.apache.spark.sql.types.StructType,
      needId: Boolean): org.apache.spark.sql.types.StructType = {
    require($(catCols).nonEmpty || $(numCols).nonEmpty,
      "KPrototypes: need at least one categorical or numeric column")
    val needed = ($(catCols) ++ $(numCols)).toSeq ++
      (if (needId) Seq($(idCol)) else Nil)
    val missing = needed.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"KPrototypes: missing columns $missing")
    if (schema.fieldNames.contains($(predictionCol))) schema
    else org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField($(predictionCol),
        org.apache.spark.sql.types.IntegerType, true))
  }
}

class KPrototypesEstimator(override val uid: String)
  extends org.apache.spark.ml.Estimator[KPrototypesModel]
  with KPrototypesParams {
  def this() = this(
    org.apache.spark.ml.util.Identifiable.randomUID("kprototypes"))

  def setK(v: Int): this.type = set(k, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setGammaE12(v: Long): this.type = set(gammaE12, v)
  def setIdCol(v: String): this.type = set(idCol, v)
  def setCatCols(v: Seq[String]): this.type = set(catCols, v.toArray)
  def setNumCols(v: Seq[String]): this.type = set(numCols, v.toArray)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def transformSchema(
      schema: org.apache.spark.sql.types.StructType)
    : org.apache.spark.sql.types.StructType =
    validateSchema(schema, needId = true)
  override def copy(extra: org.apache.spark.ml.param.ParamMap)
    : KPrototypesEstimator = defaultCopy(extra)

  override def fit(
      dataset: org.apache.spark.sql.Dataset[_]): KPrototypesModel = {
    transformSchema(dataset.schema)
    val (asg, cn, cc) = KPrototypes.core(dataset.toDF(), $(idCol),
      $(catCols).toSeq, $(numCols).toSeq, $(k), $(gammaE12), $(maxIter),
      $(seed))
    // k·dims rows + one 2-column aggregate: the bounded driver collects
    val num = KPrototypes.collectCentroids(cn)(_.getLong(2))
    val cat = KPrototypes.collectCentroids(cc)(_.getString(2))
    val numCenters = Array.tabulate($(k))(i =>
      num.getOrElse(i.toLong, Array.empty[Long]))
    val catCenters = Array.tabulate($(k))(i =>
      cat.getOrElse(i.toLong, Array.empty[String]))
    val model = new KPrototypesModel(uid, numCenters, catCenters,
      KPrototypes.meanDist(asg))
    copyValues(model.setParent(this))
  }
}

/** Fitted prototypes: per-cluster quantized numeric centroids +
  * categorical modes; `cost` is the mean exact mixed distance of the
  * training rows to their final prototype.
  */
class KPrototypesModel(
    override val uid: String,
    val numCenters: Array[Array[Long]],
    val catCenters: Array[Array[String]],
    val cost: Double)
  extends org.apache.spark.ml.Model[KPrototypesModel]
  with KPrototypesParams
  with org.apache.spark.ml.util.MLWritable {

  override def write: org.apache.spark.ml.util.MLWriter =
    new KPrototypesModel.Writer(this)

  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def transformSchema(
      schema: org.apache.spark.sql.types.StructType)
    : org.apache.spark.sql.types.StructType =
    validateSchema(schema, needId = false)
  override def copy(extra: org.apache.spark.ml.param.ParamMap)
    : KPrototypesModel = {
    val m = new KPrototypesModel(uid, numCenters, catCenters, cost)
    copyValues(m, extra).setParent(parent)
  }

  /** Mixed distances to every prototype as one literal-folded array
    * expression (no join, no shuffle).
    */
  private def distArray: org.apache.spark.sql.Column = {
    val centers = numCenters.zip(catCenters)
      .map { case (n, c) => (n.toSeq, c.toSeq) }.toSeq
    val cLit = org.apache.spark.sql.functions.typedlit(centers)
    val numArr = array($(numCols).toSeq.map(c =>
      floor(col(c).cast("double") * lit(1000000.0)).cast("long")): _*)
    val catArr = array($(catCols).toSeq.map(c =>
      coalesce(col(c).cast("string"),
        lit(KPrototypes.NullSentinel))): _*)
    // functions.transform, shadowed here by Model.transform
    org.apache.spark.sql.functions.transform(cLit, c => {
      val nd =
        if ($(numCols).isEmpty) lit(0L)
        else aggregate(zip_with(numArr, c.getField("_1"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
      val cd =
        if ($(catCols).isEmpty) lit(0L)
        else aggregate(zip_with(catArr, c.getField("_2"),
          (a, b) => when(a =!= b, lit(1L)).otherwise(lit(0L))),
          lit(0L), (acc, x) => acc + x)
      nd + lit($(gammaE12)) * cd
    })
  }

  private def numsPresent: org.apache.spark.sql.Column =
    $(numCols).toSeq.map(c => col(c).isNotNull)
      .foldLeft(lit(true))(_ && _)

  override def transform(
      dataset: org.apache.spark.sql.Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    dataset.withColumn($(predictionCol),
      when(numsPresent, graft.functions.Distances.argminIndex(distArray))
        .otherwise(lit(null)))
  }

  /** Mean exact mixed distance of `dataset` to its assigned
    * prototype (numeric-null rows excluded, as in fit); 0.0 when no
    * row is scorable (every row null-numeric, or empty input).
    */
  def computeCost(dataset: org.apache.spark.sql.Dataset[_]): Double =
    KPrototypes.meanMinDist(dataset, numsPresent, distArray)
}

object KPrototypesModel
  extends org.apache.spark.ml.util.MLReadable[KPrototypesModel] {
  /** Persistence (the [[KModesModel]] recipe): one parquet at
    * `<path>/data`, a row per cluster carrying both center parts and
    * the scalars replicated — dependency-free of the private[ml]
    * DefaultParamsWriter machinery.
    */
  private[operators] class Writer(instance: KPrototypesModel)
      extends org.apache.spark.ml.util.MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      instance.numCenters.zip(instance.catCenters).zipWithIndex
        .map { case ((nc, cc), i) =>
          (i, nc.toSeq, cc.toSeq, instance.cost, instance.uid,
            instance.getOrDefault(instance.gammaE12),
            instance.getOrDefault(instance.catCols).toSeq,
            instance.getOrDefault(instance.numCols).toSeq,
            instance.getOrDefault(instance.predictionCol))
        }.toSeq
        .toDF("center_id", "num_center", "cat_center", "cost", "uid",
          "gamma_e12", "cat_cols", "num_cols", "prediction_col")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$path/data")
    }
  }

  private class Reader
      extends org.apache.spark.ml.util.MLReader[KPrototypesModel] {
    override def load(path: String): KPrototypesModel = {
      val rows = sparkSession.read.parquet(s"$path/data")
        .collect().sortBy(_.getAs[Int]("center_id"))
      // < 2 centers cannot have been written by the estimator (k ≥ 2
      // by param validation) — name the path and the corruption
      // instead of letting the k validator throw opaquely
      require(rows.length >= 2,
        s"KPrototypesModel.load: $path/data holds ${rows.length} " +
          "center row(s); a saved model always has >= 2 — the file " +
          "is truncated or hand-edited")
      val head = rows.head
      val model = new KPrototypesModel(
        head.getAs[String]("uid"),
        rows.map(_.getAs[Seq[Long]]("num_center").toArray),
        rows.map(_.getAs[Seq[String]]("cat_center").toArray),
        head.getAs[Double]("cost"))
      model.set(model.k, rows.length)
      model.set(model.gammaE12, head.getAs[Long]("gamma_e12"))
      model.set(model.catCols,
        head.getAs[Seq[String]]("cat_cols").toArray)
      model.set(model.numCols,
        head.getAs[Seq[String]]("num_cols").toArray)
      model.set(model.predictionCol,
        head.getAs[String]("prediction_col"))
      model
    }
  }

  override def read: org.apache.spark.ml.util.MLReader[KPrototypesModel] =
    new Reader
}
