package graft

import graft.operators.KMeansQ

/** Integer-quantized Lloyd k-means — separability, exactness rules,
  * partition-independence.
  */
class KMeansQSpec extends SparkSuite {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  test("separable clusters end up separated; inertia is exact") {
    val rows = Seq(
      (1L, vec(0.0, 0.1)), (2L, vec(0.1, 0.0)), (5L, vec(0.05, 0.05)),
      (3L, vec(10.0, 10.1)), (4L, vec(10.1, 10.0)))
      .toDF("vec_id", "embedding")
    val fit = KMeansQ.fit(rows, "vec_id", "embedding",
      k = 2, maxIter = 3, seed = 7L)
    val byCluster = fit.as[(Long, Long, Long)].collect()
      .groupBy(_._2).map { case (c, rs) => rs.map(_._1).toSet }.toSet
    assert(byCluster == Set(Set(1L, 2L, 5L), Set(3L, 4L)),
      byCluster.toString)
    // dist is the exact integer squared-L2 to the final centroid —
    // non-negative, and zero only if a point IS its centroid
    val dists = fit.as[(Long, Long, Long)].collect().map(_._3)
    assert(dists.forall(_ >= 0L))
  }

  test("deterministic under repartition and repeated runs") {
    val rows = (1L to 40L)
      .map(i => (i, vec((i % 7).toDouble, (i % 5).toDouble, 0.3 * i)))
      .toDF("vec_id", "embedding")
    val a = KMeansQ.fit(rows, "vec_id", "embedding", 3, 4, 42L)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val b = KMeansQ.fit(rows.repartition(7), "vec_id", "embedding", 3, 4, 42L)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a == b, "partitioning changed the k-means fit")
    // the large-k fallback plan (two-level min_by) must EQUAL the
    // default conditional-sum plan — force it through the shared seam
    val prevMaxK = graft.operators.KPrototypes.condSumMaxK
    graft.operators.KPrototypes.condSumMaxK = 0
    try {
      val fb = KMeansQ.fit(rows, "vec_id", "embedding", 3, 4, 42L)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(fb == a, "fallback assignment plan diverged from default")
    } finally graft.operators.KPrototypes.condSumMaxK = prevMaxK
    // guards
    intercept[IllegalArgumentException] {
      KMeansQ.fit(rows, "vec_id", "embedding", 1, 3, 1L)
    }
    intercept[IllegalArgumentException] {
      KMeansQ.fit(rows, "vec_id", "embedding", 2, 0, 1L)
    }
    // fewer distinct vectors than k CLAMPS to the vector count (the
    // pre-round-15 contract, restored per round-15 ADVICE): every
    // vector gets a real cluster in 0..n−1, no phantom zero-distance
    // clusters, and a vector that IS its centroid sits at dist 0
    val few = KMeansQ.fit(rows.limit(2), "vec_id", "embedding", 8, 2, 1L)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(few.map(_._1) == Seq(1L, 2L), few.toString)
    assert(few.map(_._2).toSet == Set(0L, 1L),
      s"2 vectors at k=8 must form exactly 2 singleton clusters: $few")
    assert(few.forall(_._3 == 0L),
      s"singleton clusters sit on their own centroid: $few")
    // empty input degrades to an empty assignment, not a raise
    assert(KMeansQ.fit(rows.limit(0), "vec_id", "embedding", 8, 2, 1L)
      .count() == 0L)
  }

  test("estimator: fit ≡ object fit; transform reproduces the fit's " +
      "assignment and assigns held-out rows; null/dim-mismatch rows " +
      "get null predictions; persistence round-trips") {
    val rows = (1L to 40L)
      .map(i => (i, vec((i % 7).toDouble, (i % 5).toDouble, 0.3 * i)))
      .toDF("vec_id", "embedding")
    val model = new graft.operators.KMeansQEstimator()
      .setK(3).setMaxIter(4).setSeed(42L)
      .setIdCol("vec_id").setEmbCol("embedding")
      .fit(rows)
    val direct = KMeansQ.fit(rows, "vec_id", "embedding", 3, 4, 42L)
      .select("id", "cluster").as[(Long, Long)].collect().sortBy(_._1)
    val viaTransform = model.transform(rows)
      .select($"vec_id", $"prediction".cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(viaTransform.toSeq == direct.toSeq,
      "transform over training rows must BE the fit assignment")
    val dists = KMeansQ.fit(rows, "vec_id", "embedding", 3, 4, 42L)
      .select("dist").as[Long].collect()
    assert(model.cost == dists.sum.toDouble / dists.length)
    assert(model.computeCost(rows) == model.cost)
    // null embedding → NULL prediction (fit drops the row); a
    // dim-mismatched embedding scores on the overlapping positions —
    // the fit's own null-skipping/pos-join semantics (round-16 review
    // alignment), so the prediction is REAL and must equal the argmin
    // over hand-computed prefix distances
    val odd = Seq(
      (98L, Option.empty[Seq[Float]]),
      (99L, Some(Seq(1.0f, 2.0f)))) // model is 3-dim
      .toDF("vec_id", "embedding")
    val preds = model.transform(odd).select("vec_id", "prediction")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getInt(1)))).toMap
    assert(preds(98L).isEmpty, "null embedding must yield NULL")
    val q99 = Seq(1000000L, 2000000L)
    val expected99 = model.centers.zipWithIndex.map { case (c, i) =>
      (q99.zip(c.take(2).toSeq).map { case (a, b) =>
        (a - b) * (a - b) }.sum, i)
    }.min._2
    assert(preds(99L).contains(expected99),
      s"dim-mismatch must score on the overlap like fit: $preds")
    // clamp survives into the model: 2 distinct vectors at k=8 → a
    // 2-center model; 1 vector raises (a 1-cluster model answers
    // nothing)
    val clamped = new graft.operators.KMeansQEstimator()
      .setK(8).setMaxIter(2).setSeed(1L)
      .setIdCol("vec_id").setEmbCol("embedding")
      .fit(rows.limit(2))
    assert(clamped.centers.length == 2)
    val eOne = intercept[IllegalArgumentException] {
      new graft.operators.KMeansQEstimator()
        .setK(8).setMaxIter(2).setSeed(1L)
        .setIdCol("vec_id").setEmbCol("embedding")
        .fit(rows.limit(1))
    }
    assert(eOne.getMessage.contains("at least 2"), eOne.getMessage)
    // persistence round-trip: same centers, cost, and transform
    val dir = java.nio.file.Files
      .createTempDirectory("kmeansq_model").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = graft.operators.KMeansQModel.load(dir)
    assert(loaded.centers.map(_.toSeq).toSeq ==
      model.centers.map(_.toSeq).toSeq)
    assert(loaded.cost == model.cost)
    assert(loaded.transform(rows.withColumnRenamed("vec_id", "vid"))
        .select($"vid", $"prediction".cast("long"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      viaTransform.toSeq.map { case (id, c) => (id, c) },
      "a loaded model must transform identically (id col not needed)")
  }

  test("empty embedding is treated like NULL: fit omits it, transform " +
      "predicts NULL, computeCost over the training rows equals cost") {
    val rows = ((1L to 40L)
      .map(i => (i, vec((i % 7).toDouble, (i % 5).toDouble, 0.3 * i))) :+
      ((41L, Seq.empty[Float])))
      .toDF("vec_id", "embedding")
    val fit = KMeansQ.fit(rows, "vec_id", "embedding", 3, 4, 42L)
      .select("id").as[Long].collect()
    assert(fit.length == 40 && !fit.contains(41L), fit.toSeq.toString)
    val model = new graft.operators.KMeansQEstimator()
      .setK(3).setMaxIter(4).setSeed(42L)
      .setIdCol("vec_id").setEmbCol("embedding")
      .fit(rows)
    val pred = model.transform(rows).where($"vec_id" === 41L)
      .select("prediction").head()
    assert(pred.isNullAt(0), s"empty embedding must yield NULL: $pred")
    assert(model.computeCost(rows) == model.cost)
  }
}
