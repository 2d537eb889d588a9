package graft

import graft.functions.Distances
import graft.operators.{ArrayModeAggregator, KModes, KModesModel, LocalKModes, Utf8GlobalKModes}
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import scala.util.Random

/** Distributed K-modes fit/transform (SURVEY §6 tier 2: fixed-point,
  * determinism, ensemble preconditions).
  */
class KModesSpec extends SparkSuite {
  import spark.implicits._

  private def plantedDf(n: Int, f: Int, groups: Int, seed: Int, signal: Double = 0.9) = {
    val rnd = new Random(seed)
    val rows = Seq.tabulate(n) { i =>
      val g = i % groups
      Seq.tabulate(f) { j =>
        if (rnd.nextDouble() < signal) s"g${g}v$j" else s"n${rnd.nextInt(3)}"
      }
    }
    rows.toDF("features")
  }

  test("global fit: recovers planted groups, deterministic across runs") {
    val df = plantedDf(600, 5, 3, 31)
    val m1 = new KModes().setK(3).setMaxIter(15).setSeed(7L).fit(df)
    val m2 = new KModes().setK(3).setMaxIter(15).setSeed(7L).fit(df)
    assert(m1.clusterCenters.map(_.toSeq).toSeq == m2.clusterCenters.map(_.toSeq).toSeq)
    assert(m1.clusterCenters.length == 3)

    val pred = m1.transform(df)
    val purity = pred.groupBy("prediction")
      .agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(purity.sum == 600)
    assert(m1.cost < 2.0, s"cost ${m1.cost}") // well-separated: low mean distance
  }

  test("fixed point: fitted centers are per-column modes of their clusters") {
    val df = plantedDf(300, 4, 3, 37)
    val model = new KModes().setK(3).setMaxIter(20).setSeed(7L).fit(df)
    val assigned = model.transform(df).select("prediction", "features")
      .as[(Int, Seq[String])].collect()
    assigned.groupBy(_._1).foreach { case (c, rows) =>
      (0 until 4).foreach { j =>
        val freq = rows.map(_._2(j)).groupBy(identity).map { case (v, vs) => v -> vs.size }
        val mode = freq.minBy { case (v, cnt) => (-cnt, v) }._1
        assert(model.clusterCenters(c)(j) == mode)
      }
    }
  }

  test("model cost equals computeCost on training data (final centers)") {
    val df = plantedDf(200, 4, 2, 41)
    // maxIter=1 exits un-converged — cost must still match final centers
    val model = new KModes().setK(2).setMaxIter(1).setSeed(7L).fit(df)
    assert(math.abs(model.cost - model.computeCost(df)) < 1e-9)
  }

  test("null features become their own category") {
    val df = Seq(Seq[String]("a", null), Seq("a", null), Seq("b", "x"), Seq("b", "x"))
      .toDF("features")
    val model = new KModes().setK(2).setMaxIter(5).setSeed(7L).fit(df)
    assert(model.cost == 0.0) // two pure clusters incl. the null-category one
  }

  test("ensemble fit: matches reference partition semantics, validates size") {
    val df = plantedDf(400, 4, 2, 43).repartition(4, col("features"))
    val model = new KModes().setK(2).setMaxIter(10).setSeed(7L)
      .setInitMode("ensemble").fit(df)
    assert(model.clusterCenters.length == 2)
    assert(model.cost >= 0.0)

    val tiny = plantedDf(6, 4, 2, 47).repartition(4)
    val err = intercept[IllegalArgumentException] {
      new KModes().setK(5).setMaxIter(5).setSeed(7L).setInitMode("ensemble").fit(tiny)
    }
    assert(err.getMessage.contains("partition"))
  }

  test("ensemble golden snapshot: fixed seed + partitioning pin stage-1/2 output") {
    // SURVEY §8.2 M2: an end-to-end golden value for the ensemble path.
    // Any drift in stage-1 local Lloyd, stage-2 meta-clustering, seeding,
    // or tie-breaking changes these exact centers and fails here.
    // repartition(4, col) hash-partitions deterministically, so the
    // layout-dependence the reference shares is pinned too.
    val rnd = new Random(53)
    val rows = Seq.tabulate(240) { i =>
      val g = i % 3
      Seq.tabulate(4) { j =>
        if (rnd.nextDouble() < 0.85) s"g${g}v$j" else s"n${rnd.nextInt(4)}"
      }
    }
    val df = rows.toDF("features").repartition(4, col("features"))
    val model = new KModes().setK(3).setMaxIter(10).setSeed(7L)
      .setInitMode("ensemble").fit(df)
    val golden = Seq(
      Seq("g2v0", "g2v1", "g2v2", "g2v3"),
      Seq("g0v0", "g0v1", "g0v2", "g0v3"),
      Seq("g1v0", "g1v1", "g1v2", "g1v3"))
    assert(model.clusterCenters.map(_.toSeq).toSeq == golden)
    assert(math.abs(model.cost - 0.5875) < 1e-12, s"cost drifted: ${model.cost}")
    assert(model.iterations == 2)
  }

  test("ensemble stage-2 equals LocalKModes.metaCluster on collected modes") {
    // consistency of the driver-side path with its unit-tested core
    val modes = Array(
      Array("a", "x"), Array("a", "y"), Array("b", "x"), Array("b", "y"),
      Array("a", "x"), Array("b", "x"))
    val r = LocalKModes.metaCluster(modes, 2, 10, 42L)
    assert(r.centers.length == 2)
    assert(r.centers.map(_.toSeq).distinct.length == 2)
  }

  test("scalar predict agrees with distributed transform row by row") {
    val df = plantedDf(300, 4, 3, 67)
    val model = new KModes().setK(3).setMaxIter(10).setSeed(7L).fit(df)
    val rows = model.transform(df)
      .select("features", "prediction").as[(Seq[String], Int)].collect()
    rows.foreach { case (f, p) =>
      assert(model.predict(f) == p, s"scalar/distributed disagree on $f")
    }
    assert(model.clusters.map(_.toSeq).toSeq ==
      model.clusterCenters.map(_.toSeq).toSeq)
  }

  test("frequency assignment step matches LocalKModes.frequencyDissim") {
    val df = plantedDf(400, 4, 3, 43)
    val centers = Array(
      Array("g0v0", "g0v1", "g0v2", "g0v3"),
      Array("g1v0", "g1v1", "g1v2", "g1v3"),
      Array("g2v0", "g2v1", "g2v2", "g2v3"))
    val out = graft.operators.FrequencyAssign.assign(df, "features", centers)
      .select(col("features"), col("prediction"), col("min_dist"))
      .collect()

    // driver-side reference: Hamming populations, then frequencyDissim
    // per candidate cluster with that cluster's tables (empty → Hamming)
    val rows = df.collect().map(_.getSeq[String](0).toArray)
    val hAssign = rows.map { r =>
      centers.indices.minBy(c => (StringLocalKModes.hamming(r, centers(c)), c))
    }
    val sizes = Array.tabulate(centers.length)(c => hAssign.count(_ == c).toLong)
    val freqs = Array.tabulate(centers.length) { c =>
      Array.tabulate(4) { i =>
        rows.zip(hAssign).filter(_._2 == c).groupBy(_._1(i))
          .map { case (v, g) => v -> g.length.toLong }: collection.Map[String, Long]
      }
    }
    def refDist(r: Array[String], c: Int): Double =
      if (sizes(c) == 0) StringLocalKModes.hamming(r, centers(c)).toDouble
      else StringLocalKModes.frequencyDissim(r, centers(c), freqs(c), sizes(c))
    out.foreach { row =>
      val f = row.getSeq[String](0).toArray
      val ds = centers.indices.map(refDist(f, _))
      val expP = centers.indices.minBy(c => (ds(c), c))
      assert(row.getInt(1) == expP, s"row ${f.toSeq}")
      assert(math.abs(row.getDouble(2) - ds.min) < 1e-9)
    }
  }

  test("portable md5 init: deterministic fit, k centers, valid fixed point") {
    val df = plantedDf(300, 4, 3, 53)
    val m1 = new KModes().setK(3).setMaxIter(15).setSeed(7L).setInitHash("md5").fit(df)
    val m2 = new KModes().setK(3).setMaxIter(15).setSeed(7L).setInitHash("md5").fit(df)
    assert(m1.clusterCenters.map(_.toSeq).toSeq == m2.clusterCenters.map(_.toSeq).toSeq)
    assert(m1.clusterCenters.length == 3)
    // same quality contract as the default hash: low cost on planted data
    assert(m1.cost < 2.0, s"cost ${m1.cost}")
  }

  test("model save/load roundtrip preserves centers, cost, and transform") {
    val df = plantedDf(200, 4, 2, 61)
    val model = new KModes().setK(2).setMaxIter(10).setSeed(7L).fit(df)
    val dir = java.nio.file.Files.createTempDirectory("kmodes_model").toString
    model.write.overwrite().save(dir)
    val loaded = graft.operators.KModesModel.load(dir)
    assert(loaded.clusterCenters.map(_.toSeq).toSeq ==
      model.clusterCenters.map(_.toSeq).toSeq)
    assert(loaded.cost == model.cost)
    assert(loaded.iterations == model.iterations)
    val a = model.transform(df).select("prediction").as[Int].collect().toSeq
    val b = loaded.transform(df).select("prediction").as[Int].collect().toSeq
    assert(a == b)
  }

  private def fitted(m: graft.operators.KModesModel) =
    (m.clusterCenters.map(_.toSeq).toSeq, m.cost, m.iterations)

  /** Jobs `body` submits and the shuffle bytes their tasks write, seen by
    * one listener through `body`'s job group.
    */
  private def jobsAndShuffleBytes(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"kmodes-spec-${java.util.UUID.randomUUID}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case g if g == s"$group-marker" => markerJob.set(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      // the bus delivers in order: once the marker job ends here, every
      // event of `group` has been seen
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (jobs.get, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs `body` submits, counted through its job group. */
  private def jobsOf(body: => Unit): Int = jobsAndShuffleBytes(body)._1

  test("null feature arrays are skipped by both fits, like computeCost skips them") {
    val clean = plantedDf(200, 4, 2, 71)
    val nulls = Seq.fill(7)(null: Seq[String]).toDF("features")
    val withNulls = clean.union(nulls)
    val global = new KModes().setK(2).setMaxIter(10).setSeed(7L)
    val m = global.fit(withNulls)
    assert(fitted(m) == fitted(global.fit(clean)))
    assert(math.abs(m.summary.cost - m.computeCost(withNulls)) < 1e-12)

    val ens = new KModes().setK(2).setMaxIter(10).setSeed(7L).setInitMode("ensemble")
    val parts = withNulls.repartition(2)
    val e = ens.fit(parts)
    assert(fitted(e) == fitted(ens.fit(parts.where(col("features").isNotNull))))
    assert(math.abs(e.summary.cost - e.computeCost(parts)) < 1e-12)
  }

  test("empty input raises one error on both fits") {
    val empty = Seq.empty[Seq[String]].toDF("features")
    val allNull = Seq.fill(3)(null: Seq[String]).toDF("features")
    for (df <- Seq(empty, empty.repartition(2), allNull);
         mode <- Seq("global", "ensemble")) {
      val err = intercept[IllegalArgumentException] {
        new KModes().setK(2).setSeed(7L).setInitMode(mode).fit(df)
      }
      assert(err.getMessage.contains("KModes.fit: no rows"), s"$mode: ${err.getMessage}")
    }
  }

  test("global fit is partition-invariant, through maxIter exits and reseeds") {
    val df = plantedDf(120, 4, 2, 7, signal = 0.7)
    def kmodes(maxIter: Int) = new KModes().setK(4).setMaxIter(maxIter).setSeed(7L)
    // after one pass two centers are equal, so pass 2 finds the higher id
    // empty and reseeds it
    val first = kmodes(1).fit(df).clusterCenters.map(_.toSeq)
    assert(first.distinct.length < first.length)
    for (maxIter <- Seq(1, 2, 10)) {
      val byLayout = Seq(df.coalesce(1), df.repartition(4), df.repartition(16))
        .map(d => fitted(kmodes(maxIter).fit(d)))
      assert(byLayout.distinct.length == 1, s"maxIter=$maxIter: $byLayout")
    }
  }

  test("each global Lloyd pass is one Spark job") {
    val df = plantedDf(200, 4, 3, 43)
    def fit(maxIter: Int) = new KModes().setK(3).setMaxIter(maxIter).setSeed(7L).fit(df)
    assert(fit(20).iterations > 3) // still unconverged after pass 3
    val jobs = (1 to 3).map(i => jobsOf(fit(i)))
    assert(jobs(1) - jobs(0) == 1 && jobs(2) - jobs(1) == 1, s"jobs by maxIter: $jobs")
  }

  test("with maxIter = 0 the global fit is one init job and one cost job, " +
      "and writes no shuffle bytes") {
    val df = plantedDf(300, 4, 3, 43)
    val (jobs, bytes) = jobsAndShuffleBytes(
      new KModes().setK(3).setMaxIter(0).setSeed(7L).fit(df))
    assert(jobs == 2, s"jobs $jobs")
    assert(bytes == 0L, s"shuffle-write bytes $bytes")
  }

  test("smallestDistinct returns the rows of distinct().orderBy(keys).limit(n)") {
    // every row three times, spread over the partitions by round robin
    val base = plantedDf(120, 4, 3, 11, signal = 0.6).toDF("f")
    val rows = base.union(base).union(base)
    val nDistinct = base.distinct().count().toInt
    val withDist = (d: org.apache.spark.sql.DataFrame) => d.select(col("f"),
      Distances.assign(col("f"), typedlit(Seq(Seq("g0v0", "g0v1", "g0v2", "g0v3"),
        Seq("g1v0", "n1", "g1v2", "n0")))).getField("min_dist").as("d"))
    for (hash <- Seq("xxhash64", "md5");
         parts <- Seq(1, 4, 16);
         reseed <- Seq(false, true);
         n <- Seq(1, 7, nDistinct + 10)) {
      val df = if (parts == 1) rows.coalesce(1) else rows.repartition(parts)
      val keys = Utf8GlobalKModes.initOrderKeys(hash, 7L)
      val (in, order) =
        if (reseed) (withDist(df), col("d").desc +: keys) else (df, keys)
      val want = in.distinct().orderBy(order: _*).limit(n).collect().toSeq
      val got = Utf8GlobalKModes.smallestDistinct(in, order, n).toSeq
      assert(got == want, s"$hash, $parts partitions, reseed $reseed, n $n")
      assert(got.length == math.min(n, nDistinct))
    }
  }

  test("a fit on raw features with nulls equals the fit on " +
      "KModes.assemble-normalized features") {
    val rnd = new Random(83)
    val cells = Seq.tabulate(400) { i =>
      val g = i % 3
      Seq.tabulate(4) { j =>
        val r = rnd.nextDouble()
        if (r < 0.1) null
        else if (r < 0.15) ArrayModeAggregator.NullSentinel
        else if (r < 0.85) s"g${g}v$j" else s"n${rnd.nextInt(3)}"
      }
    }
    val df = cells.zipWithIndex.map { case (c, i) => (i, c(0), c(1), c(2), c(3)) }
      .toDF("id", "c0", "c1", "c2", "c3")
    val cs = Seq("c0", "c1", "c2", "c3").map(col)
    val raw = df.select(col("id"), array(cs: _*).as("features"))
    val norm = df.select(col("id"), KModes.assemble(cs: _*).as("features"))
    for (maxIter <- Seq(0, 1, 20); hash <- Seq("xxhash64", "md5")) {
      val est = new KModes().setK(3).setMaxIter(maxIter).setSeed(7L).setInitHash(hash)
      val (mr, mn) = (est.fit(raw), est.fit(norm))
      assert(fitted(mr) == fitted(mn), s"maxIter $maxIter, $hash")
      assert(mr.computeCost(raw) == mn.computeCost(norm))
      val pr = mr.transform(raw).orderBy("id").select("prediction").as[Int].collect()
      val pn = mn.transform(norm).orderBy("id").select("prediction").as[Int].collect()
      assert(pr.toSeq == pn.toSeq)
      val rawRows = raw.orderBy("id").select("features").as[Seq[String]].collect()
      assert(rawRows.map(mr.predict).toSeq == pr.toSeq)
    }
  }

  test("an ensemble fit is 2 jobs with no shuffle, and a coded stage-1 " +
      "partition retains fewer bytes per row than its string rows") {
    // held in 4 partitions, as an ensemble's input is laid out before a fit
    val df = plantedDf(2000, 8, 4, 89, signal = 0.7).repartition(4, col("features"))
      .localCheckpoint(true)
    val est = new KModes().setK(4).setMaxIter(10).setSeed(7L).setInitMode("ensemble")
    val (jobs, bytes) = jobsAndShuffleBytes(est.fit(df))
    assert(jobs == 2, s"jobs $jobs")
    assert(bytes == 0L, s"shuffle-write bytes $bytes")

    // one partition as stage 1 holds it, and as the string rows it replaces
    val (rows, coded, strings) = df.select("features").queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        if (pid != 0) Iterator.empty
        else {
          val arrays = it.map(_.getArray(0).copy()).toArray
          val asStrings = arrays.map(_.toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).map(_.toString))
          val asCodes = graft.operators.Coded(arrays.iterator, ArrayModeAggregator.NullSentinelUtf8)
          Iterator.single((arrays.length, org.apache.spark.util.SizeEstimator.estimate(asCodes),
            org.apache.spark.util.SizeEstimator.estimate(asStrings)))
        }
      }.collect().head
    assert(rows > 100)
    val (codedPerRow, stringPerRow) = (coded.toDouble / rows, strings.toDouble / rows)
    info(f"$rows rows: coded $codedPerRow%.1f B/row, strings $stringPerRow%.1f B/row")
    assert(codedPerRow < stringPerRow, s"coded $codedPerRow B/row, strings $stringPerRow B/row")
    // 4 bytes per position and an offset, plus the dictionary spread over the rows
    assert(codedPerRow < 2 * 4 * 8, s"coded $codedPerRow B/row")
  }

  test("the coded global fit equals the UTF8String oracle on 1/4/16-way random " +
      "partitions: ragged rows, nulls next to literal ∅, reseeds, a UTF-8 mode " +
      "tie and malformed byte strings") {
    val rnd = new Random(97)
    // one planted group's rows are all shorter than the other's
    val ragged = Seq.tabulate(300) { i =>
      Seq.tabulate(if (i % 2 == 0) 3 else 4 + rnd.nextInt(2)) { j =>
        val r = rnd.nextDouble()
        if (r < 0.05) null
        else if (r < 0.1) ArrayModeAggregator.NullSentinel
        else if (r < 0.7) s"g${i % 2}v$j" else s"n${rnd.nextInt(3)}"
      }
    }.toDF("features")
    // U+1F600 sorts before U+E000 as UTF-16 and after it as UTF-8; bytes
    // FF and FE are malformed UTF-8 and both decode to U+FFFD
    val (supplementary, privateUse) = ("\uD83D\uDE00", "\uE000")
    assert(new String(Array(0xFF.toByte), "UTF-8") == new String(Array(0xFE.toByte), "UTF-8"))
    val malformed = (x: org.apache.spark.sql.Column) =>
      when(x === "#FF", unhex(lit("FF")).cast("string"))
        .when(x === "#FE", unhex(lit("FE")).cast("string")).otherwise(x)
    val tie = (Seq.fill(3)(Seq(privateUse, "a", "b")) ++ Seq.fill(3)(Seq(supplementary, "a", "b")) ++
      Seq.fill(2)(Seq("#FF", "z", "y")) ++ Seq.fill(2)(Seq("#FE", "z", "y")) ++
      Seq.fill(3)(Seq("q", "z", "y")))
      .toDF("features").select(transform(col("features"), malformed).as("features"))
    var reseeds = 0
    for ((df, k) <- Seq(ragged -> 4, tie -> 2); hash <- Seq("xxhash64", "md5");
         maxIter <- Seq(0, 1, 20)) {
      val want = Utf8GlobalKModes.fit(df, k, maxIter, 7L, hash)
      reseeds += want.reseeds
      for (parts <- Seq(1, 4, 16)) {
        val layout = df.withColumn("key", rand(parts.toLong))
          .repartition(parts, col("key")).drop("key")
        val got = new KModes().setK(k).setMaxIter(maxIter).setSeed(7L).setInitHash(hash).fit(layout)
        assert(fitted(got) == ((want.centers, want.cost, want.iterations)),
          s"k $k, $hash, maxIter $maxIter, $parts partitions")
      }
    }
    assert(reseeds > 0, "no case reseeded an empty cluster")
    // the tie goes to the smaller UTF-8 value, and FF and FE count apart
    // (as one string, 4 of them would outvote the 3 "q")
    val m = new KModes().setK(2).setMaxIter(20).setSeed(7L).fit(tie)
    assert(m.clusterCenters.map(_.toSeq).toSet == Set(Seq(privateUse, "a", "b"), Seq("q", "z", "y")))
  }

  test("a global fit runs its input plan once: an input that ends in an " +
      "exchange is shuffled once per fit") {
    val df = plantedDf(2000, 8, 4, 89, signal = 0.9).repartition(4, col("features"))
    val want = Utf8GlobalKModes.fit(df, 4, 20, 7L, "xxhash64")
    // a reseed ranks by Spark hashes and re-reads the input by design
    assert(want.reseeds == 0 && want.iterations > 1, want.toString)
    val (_, once) = jobsAndShuffleBytes(df.queryExecution.toRdd.count())
    var m: KModesModel = null
    val (_, bytes) = jobsAndShuffleBytes {
      m = new KModes().setK(4).setMaxIter(20).setSeed(7L).fit(df)
    }
    assert(fitted(m) == ((want.centers, want.cost, want.iterations)))
    assert(once > 0 && bytes == once, s"fit wrote $bytes shuffle bytes, one materialization $once")
  }

  test("a global fit unpersists its cached codes on every exit, and caches " +
      "about 4·d + 4 bytes per row") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val (rows, d) = (2000, 8)
    val df = plantedDf(rows, d, 4, 89, signal = 0.9).repartition(4, col("features"))
      .localCheckpoint(true)
    val est = new KModes().setK(4).setMaxIter(20).setSeed(7L)
    val before = persisted

    // sizes the block manager reports for the codes while a fit runs
    val cached = new java.util.concurrent.atomic.AtomicLong
    val fitting = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poll = new Thread(() => while (fitting.get) {
      sc.getRDDStorageInfo.filter(_.name == "KModes.fit coded partitions")
        .foreach(i => cached.accumulateAndGet(i.memSize + i.diskSize, math.max))
      Thread.sleep(1)
    })
    poll.start()
    val converged = try est.fit(df) finally { fitting.set(false); poll.join() }
    assert(converged.iterations < 20)
    assert(persisted == before)

    new KModes().setK(4).setMaxIter(0).setSeed(7L).fit(df)
    assert(persisted == before)
    val err = intercept[IllegalArgumentException](est.fit(Seq.empty[Seq[String]].toDF("features")))
    assert(err.getMessage.contains("KModes.fit: no rows"))
    assert(persisted == before)

    val perRow = cached.get.toDouble / rows
    info(f"cached $perRow%.1f B/row against 4·d + 4 = ${4 * d + 4} (d = $d)")
    assert(perRow > 0 && perRow < 2 * (4 * d + 4), s"$perRow B/row")

    // a spilled partition goes through the session's serializer
    val coded = new graft.operators.Coded.SparkRows(ArrayModeAggregator.NullSentinelUtf8)
    df.select("features").queryExecution.toRdd.map(_.copy()).collect()
      .foreach(r => coded.addRow(r.getArray(0)))
    val c = coded.result()
    val ser = org.apache.spark.SparkEnv.get.serializer.newInstance()
    val back = ser.deserialize[graft.operators.Coded[org.apache.spark.unsafe.types.UTF8String]](
      ser.serialize(c))
    assert(back.codes.toSeq == c.codes.toSeq && back.start.toSeq == c.start.toSeq)
    assert(back.values.map(_.toSeq).toSeq == c.values.map(_.toSeq).toSeq)
    assert(back.code(0, c.values(0)(1)) == 1)
  }

  test("predict equals transform row by row and computeCost is the mean " +
      "distance to transform's centers, for models from both fits") {
    val s = ArrayModeAggregator.NullSentinel
    // group 1's last position is mostly null, so its center holds "∅"
    val train = plantedDf(400, 4, 2, 53).as[Seq[String]]
      .map(f => if (f.head == "g1v0") f.updated(3, null) else f).toDF("features").repartition(2)
    // values that no center holds, ragged lengths, null elements next to a
    // literal "∅", and a null array
    val odd = Seq(Seq("zz", "g0v1", "zz", "g0v3"), Seq("g1v0"), Seq.empty[String],
      Seq("g0v0", "g0v1", "g0v2", "g0v3", "g0v4", "zz"),
      Seq[String](null, s, "g1v2", null), Seq[String](s, null), null)
    val df = train.union(odd.toDF("features"))
    for (mode <- Seq("global", "ensemble")) {
      val m = new KModes().setK(2).setMaxIter(10).setSeed(7L).setInitMode(mode).fit(train)
      assert(m.clusterCenters.exists(_.contains(s)), mode)
      val rows = m.transform(df).select("features", "prediction")
        .as[(Seq[String], Option[Int])].collect()
      val dists = rows.flatMap {
        case (null, p) =>
          assert(p.isEmpty, s"$mode: a null array gets no prediction")
          None
        case (f, p) =>
          assert(p.contains(m.predict(f)), s"$mode: $f")
          val ds = m.clusterCenters.map(
            StringLocalKModes.hamming(f.map(v => if (v == null) s else v).toArray, _))
          assert(ds(p.get) == ds.min, s"$mode: $f")
          Some(ds(p.get))
      }
      assert(dists.length == rows.length - 1)
      assert(math.abs(m.computeCost(df) - dists.sum.toDouble / dists.length) < 1e-12, mode)
    }
  }

  test("the init keys computed from a row's values equal Spark's xxhash64, " +
      "md5 and concat_ws keys row by row: nulls next to literal ∅, empty and " +
      "ragged rows, U+1F600 next to U+E000, malformed byte strings") {
    val s = ArrayModeAggregator.NullSentinel
    val malformed = (x: org.apache.spark.sql.Column) =>
      when(x === "#FF", unhex(lit("FF")).cast("string"))
        .when(x === "#FE", unhex(lit("FE")).cast("string")).otherwise(x)
    val rows = Seq(Seq[String](null, "a"), Seq(s, "a"), Seq[String](null), Seq(s), Seq.empty[String],
      Seq("a"), Seq("a", "b", "c"), Seq("a", "b"), Seq("\uD83D\uDE00", "x"), Seq("\uE000", "x"),
      Seq("#FF", "y"), Seq("#FE", "y"), Seq("#FF", "#FE", null), Seq("", ""), Seq(""))
    val df = rows.toDF("features").select(transform(col("features"), malformed).as("features"))
    val f = transform(col("features"), x => coalesce(x, lit(s)))
    for (seed <- Seq(7L, -3L, 0L)) {
      val keyed = df.select(col("features"), xxhash64(f, lit(seed)),
        md5(concat_ws("\u0001", lit(seed.toString), f)),
        concat_ws("\u0001", f).cast("binary")).queryExecution.toRdd.map(_.copy()).collect()
      assert(keyed.length == rows.length)
      // the rows as the fit holds them: coded, a null element read as ∅
      val coded = new graft.operators.Coded.SparkRows(ArrayModeAggregator.NullSentinelUtf8)
      keyed.foreach(r => coded.addRow(r.getArray(0)))
      val data = coded.result()
      val (xx, md) = (new graft.operators.InitOrder("xxhash64", seed),
        new graft.operators.InitOrder("md5", seed))
      val (xxKeys, mdKeys) = (new Array[Long](rows.length), new Array[Long](2 * rows.length))
      keyed.zipWithIndex.foreach { case (r, i) =>
        val what = s"seed $seed, row ${rows(i)}"
        xx.key(data, i, xxKeys)
        md.key(data, i, mdKeys)
        assert(xxKeys(i) == r.getLong(1), what)
        assert(f"${mdKeys(2 * i)}%016x${mdKeys(2 * i + 1)}%016x" == r.getUTF8String(2).toString, what)
        assert(md.joined(data, i).getBytes.toSeq == r.getBinary(3).toSeq, what)
      }
    }
  }

  test("a global fit that reseeds runs its input plan once: an input that " +
      "ends in an exchange is shuffled once per fit") {
    val df = plantedDf(120, 4, 2, 7, signal = 0.7).repartition(4, col("features"))
    val want = Utf8GlobalKModes.fit(df, 4, 10, 7L, "xxhash64")
    assert(want.reseeds > 0, want.toString)
    val (_, once) = jobsAndShuffleBytes(df.queryExecution.toRdd.count())
    var m: KModesModel = null
    val (_, bytes) = jobsAndShuffleBytes {
      m = new KModes().setK(4).setMaxIter(10).setSeed(7L).fit(df)
    }
    assert(fitted(m) == ((want.centers, want.cost, want.iterations)))
    assert(once > 0 && bytes == once, s"fit wrote $bytes shuffle bytes, one materialization $once")
  }

  test("the frequency assignment step equals the driver reference on degenerate " +
      "input: a null array, rows shorter and longer than the centers, nulls next " +
      "to a literal ∅, centers of unequal length and a center with no rows") {
    val s = ArrayModeAggregator.NullSentinel
    // no row holds a "q" value, so the last center's Hamming cluster is empty
    val centers = Array(Array("a", "b", "c"), Array("d", "e", s, "g"),
      Array("q0", "q1", "q2", "q3", "q4"))
    val rnd = new Random(101)
    val vocab = Array("a", "b", "c", "d", "e", "g", "x", s, null)
    val random = Seq.fill(150)(Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length))))
    val odd = Seq(null, Seq.empty[String], Seq("x", "y", "z", "w", "v"), Seq[String](null, s),
      Seq("d", "e", null, "g", "a", "b"), Seq("d", "e", s))
    val out = graft.operators.FrequencyAssign.assign((random ++ odd).toDF("features"), "features",
      centers).select("features", "prediction", "min_dist").collect()
    assert(out.length == random.length + odd.length)

    // driver reference over the non-null arrays, a null element read as ∅:
    // Hamming populations, then frequencyDissim (an empty cluster: Hamming)
    val asRow = (f: Seq[String]) => f.map(v => if (v == null) s else v).toArray
    val rows = (random ++ odd).filter(_ != null).map(asRow)
    val hAssign = rows.map { r =>
      centers.indices.minBy(c => (StringLocalKModes.hamming(r, centers(c)), c))
    }
    val sizes = Array.tabulate(centers.length)(c => hAssign.count(_ == c).toLong)
    assert(sizes(0) > 0 && sizes(1) > 0 && sizes(2) == 0, sizes.toSeq)
    val freqs = Array.tabulate(centers.length) { c =>
      Array.tabulate(centers(c).length) { i =>
        rows.zip(hAssign).collect { case (r, `c`) if r.length > i => r(i) }
          .groupBy(identity).map { case (v, g) => v -> g.length.toLong }: collection.Map[String, Long]
      }
    }
    def refDist(r: Array[String], c: Int): Double =
      if (sizes(c) == 0) StringLocalKModes.hamming(r, centers(c)).toDouble
      else StringLocalKModes.frequencyDissim(r, centers(c), freqs(c), sizes(c))
    out.foreach { row =>
      if (row.isNullAt(0)) assert(row.isNullAt(1) && row.isNullAt(2), "a null array")
      else {
        val f = asRow(row.getSeq[String](0))
        val ds = centers.indices.map(refDist(f, _))
        val expP = centers.indices.minBy(c => (ds(c), c))
        assert(row.getInt(1) == expP, s"row ${f.toSeq}")
        assert(row.getDouble(2) == ds(expP), s"row ${f.toSeq}")
      }
    }
  }

  test("building the frequency assignment step runs one job and writes no " +
      "shuffle bytes") {
    val df = plantedDf(400, 4, 3, 43).localCheckpoint(true)
    val centers = Array(
      Array("g0v0", "g0v1", "g0v2", "g0v3"),
      Array("g1v0", "g1v1", "g1v2", "g1v3"),
      Array("g2v0", "g2v1", "g2v2", "g2v3"))
    val (jobs, bytes) = jobsAndShuffleBytes(
      graft.operators.FrequencyAssign.assign(df, "features", centers))
    assert(jobs == 1, s"jobs $jobs")
    assert(bytes == 0L, s"shuffle-write bytes $bytes")
  }

  test("an ensemble fit with frequency stage 2 equals the String oracle: each " +
      "partition's local fit, then the frequency-weighted fit of their modes") {
    val (k, maxIter, seed) = (4, 10, 7L)
    val df = plantedDf(800, 6, 4, 59, signal = 0.6).repartition(4, col("features"))
      .localCheckpoint(true)
    val parts = df.select("features").as[Seq[String]].rdd.glom().collect()
    assert(parts.length == 4)
    val modes = parts.zipWithIndex.flatMap { case (part, pid) =>
      StringLocalKModes.fit(part.map(_.toArray), k, maxIter, seed + pid)._1.centers
    }
    val (want, _) = StringLocalKModes.fit(modes, k, maxIter, seed, useFrequency = true)
    assert(want.iterations > 1, "no pass ran with the frequency weights")
    val m = new KModes().setK(k).setMaxIter(maxIter).setSeed(seed).setInitMode("ensemble")
      .setDistance("frequency").fit(df)
    assert(m.clusterCenters.map(_.toSeq).toSeq == want.centers.map(_.toSeq).toSeq)
    assert(m.iterations == want.iterations)
  }
}
