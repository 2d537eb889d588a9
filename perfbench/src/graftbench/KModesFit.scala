package graftbench

import graft.functions.Distances
import graft.operators.{ArrayModeAggregator, KModes, KModesModel, LocalKModes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `kmodes_fit`: the paper's operator on a seeded categorical table —
  * global Lloyd fit over the parquet input, ensemble fit over the same
  * rows held in P partitions, and transform to the noop sink.
  */
final class KModesFit(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val spec = Gen.Categorical(rows = 100000, d = 8, k = 8, vocab = 12,
    noisePermille = 300, nullPermille = 20, partitions = 4)
  val P = 16
  val MaxIter = 10
  /** Fixed fit seed: every cycle repeats the same fit. */
  val FitSeed = 7L

  val ops = Seq("op_main" -> "fit_global", "op_second" -> "fit_ensemble",
    "op_third" -> "transform")

  private var df: DataFrame = _
  private var dfP: DataFrame = _
  private var dir: String = _
  private var model: KModesModel = _
  private val costs = collection.mutable.ArrayBuffer.empty[Double]
  private val ensCosts = collection.mutable.ArrayBuffer.empty[Double]
  private val iters = collection.mutable.ArrayBuffer.empty[Int]

  def setup(d: String): Unit = {
    dir = d
    Gen.categorical(spark, seed, spec).write.parquet(s"$dir/categorical")
    df = spark.read.parquet(s"$dir/categorical")
    // A parquet scan packs small files into about one split per core, so
    // the P-partition input is materialized here: hashed on id into P
    // partitions and held by the block manager.
    dfP = df.repartition(P, col("id")).localCheckpoint(true)
    model = planted
  }

  private def planted: KModesModel = {
    val modes = Gen.plantedModes(spec)
    new KModesModel("planted", modes, 0.0, 0).setFeaturesCol("features")
  }

  private def kmodes(init: String) = new KModes().setK(spec.k).setMaxIter(MaxIter)
    .setSeed(FitSeed).setFeaturesCol("features").setInitMode(init)

  def cycle(rec: Recorder, t: Tracer): Unit = {
    rec.time("fit_global", "KModes.fit_global") {
      val m = kmodes("global").fit(df)
      t.note("iterations", m.iterations)
      m
    }.foreach { m =>
      model = m
      costs += m.summary.cost
      iters += m.iterations
      val recomputed = m.computeCost(df)
      rec.verify("fit_global", math.abs(m.summary.cost - recomputed) < 1e-9,
        s"summary.cost ${m.summary.cost} != computeCost $recomputed")
    }
    rec.time("fit_ensemble", "KModes.fit_ensemble")(kmodes("ensemble").fit(dfP)).foreach { m =>
      ensCosts += m.summary.cost
      rec.verify("fit_ensemble", m.clusterCenters.length == spec.k,
        s"${m.clusterCenters.length} centers, expected ${spec.k}")
    }
    // the shortest operation, so it is sampled three times per cycle
    for (_ <- 1 to 3) rec.time("transform", "KModes.transform") {
      model.transform(df).write.format("noop").mode("overwrite").save()
    }
  }

  private def feats = transform(col("features"),
    x => coalesce(x, lit(ArrayModeAggregator.NullSentinel)))

  def extras(t: Tracer): Unit = {
    val centers = typedlit(model.clusterCenters.map(_.toSeq).toSeq)
    // one partition-sized slice on the driver, and the P×k local modes
    // of stage 1, computed outside any span
    val slice = dfP.select(feats).as[Seq[String]].rdd
      .mapPartitionsWithIndex((i, it) => if (i == 0) it else Iterator.empty)
      .collect().map(_.toArray)
    val (k, mi, sd) = (spec.k, MaxIter, FitSeed)
    val localModes = dfP.select(feats).as[Seq[String]].mapPartitions { it =>
      val data = it.map(_.toArray).toArray
      if (data.isEmpty) Iterator.empty
      else LocalKModes.fit(data, k, mi, sd).centers.iterator.map(_.toSeq)
    }.collect().map(_.toArray)
    for (_ <- 1 to 3) {
      t.span("LocalKModes.fit") {
        t.note("iterations", LocalKModes.fit(slice, k, mi, sd).iterations)
      }
      t.span("LocalKModes.meta_cluster")(LocalKModes.metaCluster(localModes, k, mi, sd))
      t.span("ModeArrayAgg.agg") {
        df.groupBy(Distances.assign(feats, centers).getField("prediction").as("p"))
          .agg(ArrayModeAggregator.modeArray(feats)).collect()
      }
      t.span("Distances.assign") {
        df.select(Distances.assign(feats, centers).as("a"))
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  private var plantedCost = Double.NaN
  override def finish(rec: Recorder): Unit = plantedCost = planted.computeCost(df)

  def detail(rec: Recorder): Seq[(String, Any)] = {
    val transformS = Main.median(rec.samples.getOrElse("transform", Nil).toSeq)
    Seq(
      "fit_global_s" -> Main.median(rec.samples.getOrElse("fit_global", Nil).toSeq),
      "fit_ensemble_s" -> Main.median(rec.samples.getOrElse("fit_ensemble", Nil).toSeq),
      "assign_rows_per_s" -> spec.rows / transformS,
      "cost_global" -> Main.median(costs.toSeq),
      "cost_ensemble" -> Main.median(ensCosts.toSeq),
      "cost_planted_modes" -> plantedCost,
      "global_iterations" -> iters.distinct.sorted,
      "input" -> Seq(
        "categorical" -> Inputs.describe(s"$dir/categorical", spec.rows),
        "P" -> dfP.rdd.getNumPartitions,
        "planted" -> Seq("k" -> spec.k, "d" -> spec.d, "vocab" -> spec.vocab,
          "noise" -> spec.noisePermille / 1000.0, "null" -> spec.nullPermille / 1000.0,
          "max_iter" -> MaxIter)))
  }
}
