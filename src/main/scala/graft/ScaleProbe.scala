package graft
import org.apache.spark.sql.functions._
import graft.operators._

/** 10×-bench-scale stress probe (50k docs / 20k vectors with planted
  * 10-member near-dup families) — empirical check that the dedup/ANN
  * paths scale linearly-ish and the skew guards hold. Not part of the
  * driver gates; run manually: `sbt "runMain graft.ScaleProbe <dir>"`.
  * Self-contained: if `<dir>` does not exist, it is generated by
  * replicating the sf0.1 tables 10× with offset ids. Documents get a
  * per-replica suffix token, so each family is 10 pairwise NEAR
  * duplicates (jaccard ≈ 0.95+) that exact-dup collapse cannot remove —
  * the LSH candidate path does real work; embeddings replicate
  * identically — the exact-collapse skew guard does the work there.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/scale10"
    // optional 2nd arg: replication multiplier (default 10 = bench 10×;
    // 100 ⇒ 500k docs / 200k vectors — the "would this survive another
    // decade of corpus growth" probe)
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.builder("32", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val sf = "/root/testdata/sf0.1"
      val docsBase = spark.read.parquet(s"$sf/documents.parquet")
      // suffix cycles mod 10: families are ≤11 distinct near-dup
      // VARIANTS; at mult > 10 each variant additionally repeats as an
      // EXACT copy (mult/10 of them), so the probe exercises both
      // guards at once — exact-identity collapse absorbs the copies,
      // LSH verifies representative pairs only. (An uncapped per-replica
      // suffix would plant mult-member all-distinct near-dup families:
      // pairwise verification of those is quadratic in mult BY
      // DEFINITION — ~27M hydrated pairs at mult=100 — which measures
      // the input's demand, not the operator's overhead.)
      (0 until mult).map(i => docsBase
          .withColumn("doc_id", col("doc_id") + i * 1000000L)
          .withColumn("text",
            if (i == 0) col("text") else concat(col("text"), lit(s" probe${i % 10}"))))
        .reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val embsBase = spark.read.parquet(s"$sf/embeddings.parquet")
      (0 until mult).map(i => embsBase.withColumn("vec_id", col("vec_id") + i * 1000000L))
        .reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // events keep their timeline; users are offset so the session
      // count scales with users, not session length
      val ev = spark.read.parquet(s"$sf/events.parquet")
      (0 until mult).map(i => ev
          .withColumn("event_id", col("event_id") + i * 10000000L)
          .withColumn("user_id", col("user_id") + i * 1000000L))
        .reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val events = Tables.normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    // optional 3rd arg: label-substring filter — re-probe one family
    // without paying for the whole sweep
    val only = if (args.length > 2) args(2) else ""
    // Gated setup blocks (the rNN families whose EAGER statements —
    // index builds, collects — must not run under an unrelated filter)
    // are selected by their short TAG: a filter that is a substring of
    // the tag ("r15", "r1") opens the block, and so does a full row
    // LABEL (every gated row label starts with "<tag> ", so `only`
    // pasted from a printed label re-opens exactly its own block —
    // the "tag + space" test is what keeps a "r15km..." label from
    // opening the prefix-sharing r15 siblings, whose eager index
    // loads would crash on a dir the filtered run never built).
    // A filter matching only the MIDDLE of a row label (e.g.
    // "KPrototypes") does NOT open gated blocks — use the tag
    // (round-16 ADVICE fix: the old tag.contains(only) silently
    // skipped label-fragment filters in both directions).
    def gate(tag: String): Boolean =
      only.isEmpty || tag.contains(only) || only.startsWith(tag + " ")
    // spill accounting for the constrained-heap probe (SCALING.md
    // "memory-pressure validation"): sum task-level memory/disk spill
    // bytes via a listener, report the delta per op — distinguishes
    // "spilled gracefully" from "fit in memory" at a glance
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            memSpill.addAndGet(m.memoryBytesSpilled)
            diskSpill.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    def time(label: String)(f: => Long): Unit =
      if (label.contains(only)) {
        val (m0, d0) = (memSpill.get(), diskSpill.get())
        val t0 = System.nanoTime()
        val n = f
        val secs = (System.nanoTime() - t0) / 1e9
        val dm = (memSpill.get() - m0) / 1e6
        val dd = (diskSpill.get() - d0) / 1e6
        println(f"$label: $n rows in $secs%.1f s" +
          (if (dm > 0 || dd > 0) f" [spill mem $dm%.0f MB disk $dd%.0f MB]"
           else ""))
      }
    time(s"minhashLSH(0.7) @${mult*5}k docs")(
      Dedup.minhashLSH(docs, "doc_id", "text", threshold = 0.7).count())
    time(s"ngramJaccard(0.5) @${mult*5}k docs")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5).count())
    time(s"simhashPairs(3) @${mult*5}k docs")(
      Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3).count())
    time(s"dedupGroups @${mult*5}k docs")(
      Dedup.connectedComponents(
        Dedup.minhashLSH(docs, "doc_id", "text", threshold = 0.7)).count())
    time(s"cosineNearDup(0.9) @${mult*2}k vecs")(
      Similarity.cosineNearDupPairs(embs, "vec_id", "embedding",
        dim = 64, threshold = 0.9, numBlocks = 16, planesPerBlock = 4).count())
    time(s"lshTopK @${mult*2}k corpus")(
      Similarity.lshTopK(embs, embs.where(col("vec_id") < 10),
        "vec_id", "embedding", dim = 64, k = 5).count())
    time(s"bruteTopK @${mult*2}k corpus")(
      Similarity.bruteForceTopK(embs, embs.where(col("vec_id") < 10),
        "vec_id", "embedding", 5).count())
    val ivf = IvfIndex.build(embs, "vec_id", "embedding", nLists = 64)
    time(s"ivfSearch @${mult*2}k corpus")(
      IvfIndex.search(ivf, embs, embs.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 8).count())
    // honest approximate IVF on the planted-cluster fixture shape (q55):
    // derived vectors, nProbe = 2 of 16 ⇒ each query scores ~1/8 of the
    // 20k corpus; result-set size must match brute force (100% recall)
    time(s"ivfProbe honest nProbe=2/16 @${mult*2}k derived clustered vecs")(
      { // Queries.clusteredVec: the SAME derived fixture the q55 oracle
        // certifies — probing a private copy could silently drift
        val cv = embs.select(col("vec_id"), Queries.clusteredVec.as("cv"))
        val idx = IvfIndex.build(cv, "vec_id", "cv", nLists = 16,
          trainFraction = 1.0, kmeansMaxIter = 10)
        IvfIndex.search(idx, cv, cv.where(col("vec_id") < 100), "vec_id", "cv",
          k = 5, nProbe = 2).count() })
    // image decode at 10×: 50k synthesized BMP/PPM assets through the
    // byte-level parsers in one narrow pass (same pixel formula as q57)
    time(s"imageStats @${mult*5}k synthesized BMP/PPM")(
      { import spark.implicits._
        val assets = docs.select(col("doc_id")).as[Long]
          .map(Fixtures.imageAssetFor _)
        Multimodal.imageStats(assets).count() })
    time(s"corpusPrep gate+dedup @${mult*5}k docs")(
      CorpusPrep.clean(docs, "doc_id", "text").count())
    time(s"kmodes fit @${mult*5}k docs")(
      { val df = docs.select(KModes.assemble(col("lang"), col("source"),
          floor(col("n_chars") / 100).cast("int")).as("features"))
        val m = new KModes().setK(8).setMaxIter(10).setSeed(42L).fit(df)
        m.transform(df).groupBy("prediction").count().count() })
    time(s"sessionize @${mult}x events (${mult}x users)")(
      Sessionize.sessions(events.withColumn("ts", expr("ts div 1000")),
        "user_id", "ts", "event_id", "value", 30L * 60 * 1000 * 1000).count())
    time(s"tfidf topTerms @${mult*5}k docs")(
      TextAnalysis.topTerms(docs, "doc_id", "text", 5).count())
    // planted 90%-hot-key skew: every salted row must still find its match
    time("saltedInnerJoin @1.5M probe rows, 90% one key")(
      { val probe = spark.range(1500000).select(
          when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 1000).as("k"),
          col("id").as("v"))
        val build = spark.range(1000).select(col("id").as("k"), (col("id") * 10).as("w"))
        SkewJoin.saltedInnerJoin(probe, build, Seq("k"), numSalts = 32).count() })
    time(s"minhashLSHJoin 500-new vs ${mult*5}k corpus")(
      Dedup.minhashLSHJoin(
        docs.where(col("doc_id") < 500), docs.where(col("doc_id") >= 500),
        "doc_id", "text", threshold = 0.7).count())
    // index LIFECYCLE at scale (round 5): persist the corpus index once,
    // append one ingest batch (half exact-dup merges, half novel texts —
    // ids offset past every replica to honor the monotone contract),
    // then probe from the LOADED tables — the 100 TB operating shape,
    // where build cost amortizes across every later batch and stream.
    time(s"idx: saveCorpusIndex @${mult*5}k docs")({
      IndexStore.saveCorpusIndex(docs, "doc_id", "text", s"$dir/cidx")
      spark.read.parquet(s"$dir/cidx/bands").count() })
    time(s"idx: appendCorpusIndex ${mult/2*10}00-doc batch")({
      val batch = docs.where(col("doc_id") % 1000000L < 500)
        .withColumn("doc_id", col("doc_id") + 1000000000L)
        .withColumn("text", when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" fresh"))))
      IndexStore.appendCorpusIndex(batch, "doc_id", "text", s"$dir/cidx")
      spark.read.parquet(s"$dir/cidx/members").count() })
    time(s"idx: loaded-index probe 500 new vs @${mult*5}k corpus")({
      val probe = docs.where(col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + 2000000000L)
      Dedup.minhashLSHJoinIndexed(probe,
        IndexStore.loadCorpusIndex(spark, s"$dir/cidx"),
        "doc_id", "text", threshold = 0.7).count() })
    time(s"idx: vector save+append+loaded lshTopK @${mult*2}k vecs")({
      IndexStore.saveVectorIndex(embs, "vec_id", "embedding", s"$dir/vidx", dim = 64)
      IndexStore.appendVectorIndex(
        embs.where(col("vec_id") % 1000000L < 200)
          .withColumn("vec_id", col("vec_id") + 1000000000L),
        "vec_id", "embedding", s"$dir/vidx")
      Similarity.lshTopKIndexed(IndexStore.loadVectorIndex(spark, s"$dir/vidx"),
        embs.where(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, k = 5).count() })
    time(s"bpe: trained-tokenizer count @${mult*5}k docs (rows=token total)")({
      val bpe = graft.functions.Bpe.load(spark,
        "/root/repo/fixtures/bpe_merges.parquet")
      docs.select(graft.functions.Bpe.countUdf(bpe)(col("text")).as("n"))
        .agg(sum(col("n"))).head.getLong(0) })
    time("scrubPii @1.5M rows")(
      { val probe = spark.range(1500000).select(concat(lit("user"),
          col("id").cast("string"), lit("@example.com calls +1 (555) 123-4567 from 10.0.0."),
          (col("id") % 256).cast("string")).as("raw"))
        probe.select(graft.functions.TextFunctions.scrubPii(col("raw")).as("s"))
          .where(length(col("s")) > 0).count() })
    // sketch family at 10×: all one-pass map-side-combined states — the
    // probes confirm the build cost scales with the scan, not the state
    time(s"hllState+estimate @${mult}x events")(
      Sketches.hllRawEstimate(
        Sketches.hllState(events.select(col("event_type"), col("user_id")),
          "user_id", Seq("event_type")), Seq("event_type")).count())
    time(s"cmSketch+lookup @${mult}x events")(
      { val sk = Sketches.cmSketch(events.select(col("user_id")), "user_id",
          depth = 4, width = 1024)
        val probes = events.select(col("user_id")).where(col("user_id") < 100)
          .distinct()
        Sketches.cmLookup(sk, probes, "user_id").count() })
    time(s"bloomBits+probe @${mult*5}k build keys, ${mult}x-events probe")(
      { val bloom = Sketches.bloomBits(docs.select(col("doc_id")), "doc_id",
          mBits = 1 << 20, k = 3) // sized for 50k keys (~14% fill)
        Sketches.bloomProbe(bloom, events.select(col("user_id")).distinct(),
          "user_id").count() })
    time(s"chunk 50/10 @${mult*5}k docs")(
      CorpusPrep.chunk(docs, "doc_id", "text").count())
    // interval-overlap self-join at ${mult}x: per-user activity windows
    // [ts, ts + 10·value seconds]; bucket = 256 s keeps fan-out ~2
    time(s"intervalOverlap @${mult}x events")(
      { val iv = events.select((col("user_id") % 1000).as("k"),
          col("event_id").as("id"),
          expr("ts div 1000000000").as("s0"),
          (expr("ts div 1000000000") + (col("value") * 10).cast("long")).as("e0"))
        IntervalJoin.selfOverlapPairs(iv, "k", "id", "s0", "e0",
          bucketSize = 256).count() })
    time(s"topK(5) agg @${mult}x events (vs window sort)")(
      { events.groupBy(col("event_type"))
          .agg(TopKAgg.topK(col("value"), col("event_id"), 5).as("top"))
          .count() })
    time(s"outliers 3-sigma @${mult}x events")(
      Stats.outliers(events.select(col("event_id"), col("event_type"),
        col("value")), Seq("event_type"), "value").count())
    time(s"ngramContamination @${mult*5}k corpus vs 500-doc eval")(
      Dedup.ngramContamination(
        docs.where(col("doc_id") >= 500), docs.where(col("doc_id") < 500),
        "doc_id", "text").count())
    // round-5 additions: training-mix assembly ops. All four must stay
    // scan-bound — the mix/sample/pack shapes are one narrow filter or
    // one per-stratum shuffle regardless of corpus size.
    time(s"temperatureSample @${mult*5}k docs")(
      Sampling.temperatureSample(docs, "lang", "doc_id", baseRate = 0.5)
        .count())
    time(s"exactKSample k=1000 @${mult*5}k docs")(
      Sampling.exactKSample(docs, "lang", "doc_id", k = 1000).count())
    time(s"packSequences ctx=2048 @${mult*5}k docs (approx tokens)")(
      // approximate tokens (length/4): the probe measures the PACKING
      // shape — prefix sum + span explode — not the tokenizer UDF
      CorpusPrep.packSequences(
        docs.select(col("doc_id"), col("lang"),
          (length(col("text")) / 4).cast("long").as("n")),
        "lang", "doc_id", "n", ctxLen = 2048L).count())
    time(s"embeddingDecontaminate 200-vec eval vs @${mult*2}k corpus")(
      Similarity.embeddingDecontaminate(embs,
        embs.where(col("vec_id") % 1000000L < 2)
          .withColumn("vec_id", col("vec_id") + 3000000000L),
        "vec_id", "embedding", threshold = 0.99).count())
    // round-5b additions: behavior analytics, layout, quality, graph —
    // all must stay one-or-two-shuffle shapes on the user/key column or
    // aggregate-grain arithmetic, regardless of event/file count.
    time(s"keySkew top-20 @${mult}x events")(
      Profile.keySkew(events.select(col("user_id")), "user_id", 20).count())
    time(s"decayedSum 7d half-life @${mult}x events")(
      Stats.decayedSum(events.select(col("user_id"),
          expr("ts div 86400000000000").as("day"), col("value")),
        "user_id", "day", "value", halfLifeDays = 7).count())
    time(s"funnel 3-step @${mult}x events (${mult}x users)")(
      Behavior.funnel(events, "user_id", "ts", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"))).count())
    time(s"retention weekly @${mult}x events")(
      Behavior.retention(events.select(col("user_id"),
          expr("ts div 86400000000000").as("day")),
        "user_id", "day", bucket = 7).count())
    time(s"transitions matrix @${mult}x events")(
      Behavior.transitions(events, "user_id", "ts", "event_id",
        "event_type").count())
    time(s"pathNgrams n=3 top-50 @${mult}x events")(
      Behavior.pathNgrams(events, "user_id", "ts", "event_id",
        "event_type", n = 3, topK = 50).count())
    time(s"coalesceIntervals 30-min windows @${mult}x events")(
      { val iv = events.select(col("user_id"), col("event_id"),
          expr("ts div 1000000000").as("s0"),
          (expr("ts div 1000000000") + 1800L).as("e0"))
        IntervalJoin.coalesceIntervals(iv, "user_id", "event_id",
          "s0", "e0").count() })
    time(s"quality gate 5 checks @${mult}x events")(
      Quality.run(events, Seq(
        Quality.NotNull("value"),
        Quality.InRange("value", 0.0, 100.0, maxPpm = 1000000L),
        Quality.InSet("event_type",
          Seq("view", "click", "purchase", "signup", "error")),
        Quality.Unique(Seq("event_id")),
        Quality.RefIntegrity("user_id",
          events.select(col("user_id")), "user_id"))).count())
    // synthetic 2M-edge graph over 200k nodes + a planted 50k-degree
    // hub: degree orientation must keep the hub apex-silent (its wedge
    // contribution would otherwise be C(50k,2) ≈ 1.25G pairs)
    time("triangles @2M-edge graph, planted 50k-degree hub")(
      { val rand = spark.range(2000000).select(
          pmod(hash(col("id")), lit(200000)).cast("long").as("src"),
          pmod(hash(col("id") * 7 + 1), lit(200000)).cast("long").as("dst"))
        val hub = spark.range(50000).select(lit(999999L).as("src"),
          (col("id") + 1).as("dst"))
        Graph.triangles(rand.union(hub)).head().getLong(3) })
    // 20M-point z-order layout: profile 64x64-cell zones and price a
    // box scan — pure integer arithmetic end to end
    time("zorder profile+boxScan @20M points")(
      { val pts = spark.range(20000000).select(
          (col("id") % 65536).as("x"),
          pmod(col("id") * 2654435761L, lit(65536L)).as("y"))
        val z = pts.withColumn("z", Layout.zValue(col("x"), col("y"), 16))
        val zones = Layout.zoneProfile(z, shiftright(col("z"), 12), "x", "y")
        Layout.boxScan(zones, 1000, 3000, 1000, 3000).count() })
    time("compactionPlan @2M-file listing, 1000 partitions")(
      { val files = spark.range(2000000).select(
          (col("id") % 1000).as("p"), col("id").as("fid"),
          (pmod(hash(col("id")), lit(100000000)) + 1).as("sz"))
        Layout.compactionPlan(files, Seq("p"), "fid", "sz",
          targetBytes = 512L * 1024 * 1024).count() })
    // ---------------------------------------------------- round-5c family
    // BM25 over the replicated corpus: term filter kills non-matching
    // docs before any join; cost must track matching docs, not corpus
    time(s"r5c bm25TopK @${mult * 5}k docs, 2 queries")(
      TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq(1L -> "spark hash join", 2L -> "stream window agg"), 10).count())
    // basket mining at 2M baskets x 5 items over a 2k vocabulary: the
    // pair fan-out is C(5,2)=10 per basket -> 20M pair rows into one
    // map-side-combined count
    time("r5c basketRules @2M baskets x 5 items, 2k vocab")(
      { val items = spark.range(10000000).select(
          expr("id div 5").as("b"),
          pmod(hash(col("id")), lit(2000)).cast("long").as("i"))
        Basket.pairRules(items, "b", "i", minSupport = 15).count() })
    // attribution over the replicated event stream: bucketed pairing,
    // volume tracks (conversions x touches-in-window), not |events|^2
    time(s"r5c attribution @${mult}x events")(
      Behavior.attribution(events, "user_id", "ts", "event_id",
        "event_type", "value", "purchase", Seq("view", "click", "signup"),
        lookback = 86400000000000L).count())
    // CUSUM over 100k keys x 300 points: one window shuffle; the
    // closed form must not degrade on many short series
    time("r5c cusumShift @100k keys x 300 points")(
      { val series = spark.range(30000000).select(
          (col("id") % 100000).as("k"), expr("id div 100000").as("t"),
          (pmod(hash(col("id")), lit(50)) + lit(100)).cast("long").as("x"))
        Stats.cusumShift(series, "k", "t", "x", 1, 25)
          .where(col("shift_up") || col("shift_dn")).count() })
    // BFS from 3 seeds on the 2M-edge graph: frontier joins are
    // node-grain; depth 4 must not re-scan prior levels
    time("r5c bfsLevels @2M-edge graph, depth 4")(
      { val rand = spark.range(2000000).select(
          pmod(hash(col("id")), lit(200000)).cast("long").as("src"),
          pmod(hash(col("id") * 7 + 1), lit(200000)).cast("long").as("dst"))
        Graph.bfsLevels(rand, Seq(1L, 2L, 3L), maxDepth = 4).count() })
    // PSI on 20M-vs-20M values: two bin-grain counts, report-grain rest
    time("r5c psi @20M vs 20M values, 100 bins")(
      { val va = spark.range(20000000).select(
          pmod(hash(col("id")), lit(100000)).cast("double").as("v"))
        val vb = spark.range(20000000).select(
          pmod(hash(col("id") + 7), lit(120000)).cast("double").as("v"))
        Stats.psi(va, vb, "v", binWidth = 1000L, maxBin = 99).count() })
    // HLL overlap across the event types at mult x: state build is the
    // only data-sized pass; the pairwise merge is 64-register grain
    time(s"r5c hllOverlap @${mult}x events, 5 types")(
      Sketches.hllOverlap(Sketches.hllState(
        events.select(col("event_type"), col("user_id")),
        "user_id", Seq("event_type")), "event_type").count())
    // ---- round-5e family (q134-q143) ----
    // target encoding at 20M rows x 100k categories: one combine
    // aggregation + one broadcast-back join
    time("r5e targetEncodeLoo @20M rows, 100k categories")(
      { val df = spark.range(20000000).select(col("id"),
          pmod(hash(col("id")), lit(100000)).cast("string").as("k"),
          (pmod(hash(col("id") + 3), lit(1000000)).cast("double") / 100).as("y"))
        Encoding.targetEncodeLoo(df, "k", "y")
          .agg(count(col("loo_e6"))).head.getLong(0) })
    // bloom prune of a 20M-row fact against a 400-key dim: the prune
    // must stay narrow (3 broadcast semis), killing ~99.6% of rows
    // before any shuffle
    time("r5e bloomPrune @20M fact rows, 400-key dim")(
      { val dim = spark.range(400).select((col("id") * 251).as("k"))
        val fact = spark.range(20000000).select(
          pmod(hash(col("id")), lit(100000)).as("k"))
        Sketches.bloomPrune(Sketches.bloomBits(dim, "k"), fact, "k").count() })
    // k-core on the 2M-edge hub graph: 4 peel rounds, edge table
    // shrinking monotonically
    time("r5e kCore @2M-edge graph, k=8, 4 rounds")(
      { val e = spark.range(2000000).select(
          pmod(hash(col("id")), lit(500000)).as("src"),
          pmod(hash(col("id") + 1), lit(500000)).as("dst"))
        Graph.kCore(e, k = 8, rounds = 4).count() })
    // rank/winsorize at 20M rows x 26 groups: the group-partitioned
    // window is the cost; no global sort may appear
    time("r5e rankNormalize @20M rows, 26 groups")(
      { val df = spark.range(20000000).select(col("id"),
          pmod(hash(col("id")), lit(26)).cast("string").as("g"),
          pmod(hash(col("id") + 9), lit(1000000)).cast("double").as("v"))
        // aggregate a window OUTPUT so the optimizer cannot prune the
        // window node under a bare count()
        Stats.rankNormalize(df, Seq("g"), "v")
          .agg(count(col("pct_e6"))).head.getLong(0) })
    time("r5e winsorize @20M rows, 26 groups")(
      { val df = spark.range(20000000).select(
          pmod(hash(col("id")), lit(26)).cast("string").as("g"),
          (pmod(hash(col("id") + 11), lit(1000000)).cast("double") / 100).as("v"))
        Stats.winsorize(df, Seq("g"), "v").count() })
    // PMI over the mult-x corpus: vocab prune + per-doc distinct terms
    // bound the pair fan-out
    time(s"r5e pmiPairs @${mult}x docs, minDf 50")(
      TextAnalysis.pmiPairs(docs, "doc_id", "text",
        minDf = 50, maxTermsPerDoc = 400).count())
    // walk-forward folds: narrow explode, 8 folds
    time(s"r5e walkForwardFolds @${mult}x events, 8 folds")(
      { val day = 86400000000000L
        Sampling.walkForwardFolds(events.select(col("event_id"), col("ts")),
          "ts", nFolds = 8, trainMin = 3 * day, step = day,
          horizon = day, embargo = day / 4).count() })
    // ---- round-5f family (q144-q151) ----
    // spatial grid join at 2M points: candidate volume governed by the
    // cell density, never all-pairs
    time("r5f spatialJoin @2M points, r=1500 on 1e5 grid")(
      { val pts = spark.range(2000000).select(col("id"),
          pmod(hash(col("id")), lit(100000)).as("x"),
          pmod(hash(col("id") + 1), lit(100000)).as("y"))
        SpatialJoin.radiusSelfPairs(pts, "id", "x", "y", 1500L)
          .agg(count(lit(1))).head.getLong(0) })
    // negative sampling at 1M anchors x 8 draws against a 100k pool
    time("r5f negativeSamples @1M anchors, 100k pool, k=4")(
      { val pos = spark.range(1000000).select(col("id").as("a"),
          pmod(hash(col("id")), lit(100000)).as("p"))
        val pool = spark.range(100000).select(col("id").as("item"))
        Sampling.negativeSamples(pos, pool, "a", "p", "item", k = 4)
          .agg(count(lit(1))).head.getLong(0) })
    // CDC apply: 20M-row snapshot, 200k-row delta — verdict side must
    // broadcast, snapshot must not shuffle twice
    time("r5f applyCdc @20M snapshot, 200k delta")(
      { val snap = spark.range(20000000).select(col("id"),
          col("id").cast("string").as("v"))
        val ch = spark.range(200000).select((col("id") * 100).as("id"),
          lit(10L).as("ts"), col("id").as("tie"),
          when(col("id") % 10 === 0, "D").otherwise("U").as("op"),
          concat(lit("v2_"), col("id")).as("v"))
        ChangeCapture.applyCdc(snap, ch, "id", "ts", "tie", "op", Seq("v"))
          .agg(count(lit(1))).head.getLong(0) })
    // point-in-time: 10M facts against a 1M-interval history
    time("r5f pointInTime @10M facts, 1M dim versions")(
      { val dim = spark.range(1000000).select(
          (col("id") % 100000).as("k"),
          expr("id div 100000 * 1000").as("valid_from"),
          when(expr("id div 100000") < 9,
            expr("id div 100000 * 1000 + 1000")).as("valid_to"),
          concat(lit("t"), col("id") % 7).as("tier"))
        val facts = spark.range(10000000).select(col("id").as("fid"),
          (col("id") % 100000).as("k"),
          pmod(hash(col("id")), lit(10000)).cast("long").as("ts"))
        ChangeCapture.pointInTime(facts, dim, "k", "ts", Seq("tier"))
          .agg(count(col("tier"))).head.getLong(0) })
    // deterministic walk corpus on the 2M-edge graph: per step two
    // equi-joins of the frontier; corpus size = nodes x walks x steps
    time("r5g deterministicWalks @2M-edge graph, 2 walks x 6 steps")(
      { val e = spark.range(2000000).select(
          pmod(hash(col("id")), lit(500000)).as("src"),
          pmod(hash(col("id") + 1), lit(500000)).as("dst"))
        Graph.deterministicWalks(e, walksPerNode = 2, steps = 6).count() })
    // round-5c additions: link analysis, clustering, resampling — each
    // must stay iteration-bounded (HITS), component-grain (k-means),
    // wedge-bounded with the hub cap visible (two-hop/clustering), or
    // grid-bounded (bootstrap/permutation) regardless of input size.
    time("r5h hits 4 iters @2M-edge graph")(
      { val e = spark.range(2000000).select(
          pmod(hash(col("id")), lit(200000)).cast("long").as("src"),
          pmod(hash(col("id") * 7 + 1), lit(200000)).cast("long").as("dst"))
        Graph.hits(e, iterations = 4, broadcastScores = false).count() })
    time("r5h localClustering @2M-edge graph")(
      { val e = spark.range(2000000).select(
          pmod(hash(col("id")), lit(200000)).cast("long").as("src"),
          pmod(hash(col("id") * 7 + 1), lit(200000)).cast("long").as("dst"))
        Graph.localClustering(e).count() })
    time("r5h twoHopPairs maxDeg=32 @2M-edge graph")(
      { val e = spark.range(2000000).select(
          pmod(hash(col("id")), lit(200000)).cast("long").as("src"),
          pmod(hash(col("id") * 7 + 1), lit(200000)).cast("long").as("dst"))
        Graph.twoHopPairs(e, maxMiddleDegree = 32L).count() })
    time(s"r5h kmeans k=8 x3 iters @${mult * 2}k vecs, 64-dim")(
      KMeansQ.fit(embs, "vec_id", "embedding", k = 8, maxIter = 3,
        seed = 42L).count())
    time(s"r5h bootstrapMeanCI B=200 @${mult}x events day series")(
      { import org.apache.spark.sql.expressions.Window
        val daily = events.groupBy(col("event_type"),
            expr("ts div 86400000000000").as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("v"))
        val idx = daily.withColumn("idx",
          (row_number().over(Window.partitionBy("event_type")
            .orderBy("day")) - 1).cast("long"))
        Stats.bootstrapMeanCI(idx, Seq("event_type"), "idx", "v",
          nResamples = 200).count() })
    time(s"r5h permutationTest B=100 @${mult}x events day series")(
      { val daily = events.groupBy(expr("ts div 86400000000000").as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("v"))
          .withColumn("lab", col("day") % 7 >= 5)
        Stats.permutationTest(daily, Seq.empty, "day", "lab", "v",
          nPerms = 100).count() })
    time(s"r5h prorate @${mult}x events (order = user, line = event)")(
      { val w = events.select(col("user_id"), col("event_id"),
          floor(col("value") * 10).cast("long").as("w"))
        val tot = events.groupBy(col("user_id").as("u"))
          .agg(floor(sum(col("value")) * 100).cast("long").as("total"))
        Rollup.prorate(w.join(tot, col("u") === col("user_id")),
          "user_id", "event_id", "w", "total").count() })
    time(s"r5h clampedBalance @${mult}x events")(
      { val e = events.withColumn("d",
          when(col("event_type").isin("purchase", "signup"),
            floor(col("value") * 100).cast("long"))
            .otherwise(-floor(col("value") * 100).cast("long")))
        Behavior.clampedBalance(e, "user_id", "ts", "event_id", "d")
          .count() })
    time(s"r5h entropyReport 4 cols @${mult}x events")(
      Profile.entropyReport(events,
        Seq("event_type", "user_id", "value", "event_id")).count())
    // ---- round-8 family: the round-6/7 operators (SCC + condensation +
    // dagLevels, quantile sketch, media decode/dedup, hammingPairs) ----
    // Directed 2M-edge graph over 200k nodes PLUS two adversarial
    // plants: a 4096-node directed cycle (one SCC of diameter 4096 —
    // naive propagation would need 4096 rounds; pointer jumping must
    // finish in ~log2 = 12) and a 24-deep chain of singleton SCCs
    // hanging off it (condensation depth the dagLevels probe must
    // climb). Budgets must cover the data's depth under the raising
    // contract: hash-order propagation needs ≈ 3·log₂(diameter) rounds
    // (Graph.scala round-constant note), so the 4096-cycle needs ~36 —
    // the probe runs at maxRounds=48/maxPhases=12. The raise itself was
    // observed at smaller budgets, confirming the guard trips before
    // any silent split.
    def diGraph() = {
      val rand = spark.range(2000000).select(
        pmod(hash(col("id")), lit(200000)).cast("long").as("src"),
        pmod(hash(col("id") * 7 + 1), lit(200000)).cast("long").as("dst"))
      val cyc = spark.range(4096).select(
        (col("id") + 1000000L).as("src"),
        (((col("id") + 1) % 4096) + 1000000L).as("dst"))
      // chain ids are PERMUTED (id·17 mod 25), not monotone: FW-BW
      // min-label retires a monotone-id chain ONE singleton per phase
      // (the min vertex is always at one end) — an O(n)-phase input no
      // legal phase budget covers; shuffled ids retire every
      // path-local minimum per phase, ~log2(25) phases, while the
      // LEVEL depth (what dagLevels must climb) stays 24 regardless.
      // The chain hangs off the RANDOM part (node 0), not the cycle:
      // a small-hash tail on the 4096-cycle is the documented
      // dead-hub adversary (Graph.propagate honest-worst-case note)
      // that serializes the cycle's backward pass to one hop per round
      // — O(4096) rounds, beyond any legal budget; on the random part
      // the same structure only serializes a diameter-~7 segment.
      val chain = spark.range(24).select(
        when(col("id") === 0, lit(0L))
          .otherwise(pmod(col("id") * 17, lit(25)) + 2000000L).as("src"),
        (pmod((col("id") + 1) * 17, lit(25)) + 2000000L).as("dst"))
      rand.union(cyc).union(chain)
    }
    lazy val sccAssign = Graph.stronglyConnectedComponents(diGraph(),
        maxRounds = 48, maxPhases = 12)
      .localCheckpoint(true)
    time("r8 scc @2M-edge digraph + planted 4096-cycle")(
      sccAssign.count())
    time("r8 scc condensation edges + dagLevels (24-deep planted chain)")(
      { val e = diGraph()
          .join(sccAssign.select(col("id").as("src"),
            col("scc").as("s_scc")), Seq("src"))
          .join(sccAssign.select(col("id").as("dst"),
            col("scc").as("d_scc")), Seq("dst"))
          .where(col("s_scc") =!= col("d_scc"))
          .select(col("s_scc").as("src"), col("d_scc").as("dst"))
          .distinct()
        Graph.dagLevels(e, maxRounds = 32)
          .agg(max(col("level"))).head.getLong(0) })
    // quantile sketch at 20M rows x 26 groups: the state build is one
    // map-side-combined aggregation; state size is (group x level x
    // cap)-grain, never row-grain
    time("r8 quantState+quantiles @20M rows, 26 groups")(
      { val df = spark.range(20000000).select(
          pmod(hash(col("id")), lit(26)).cast("string").as("g"),
          pmod(hash(col("id") + 5), lit(1000000)).cast("long").as("v"),
          col("id").cast("string").as("rid"))
        Sketches.quantQuantiles(
          Sketches.quantState(df, "v", "rid", groupCols = Seq("g")),
          qPpms = Seq(500000L, 990000L)).count() })
    time("r8 quantRolling @20M rows, 26 groups x 100 days, 7-day window")(
      { val df = spark.range(20000000).select(
          pmod(hash(col("id")), lit(26)).cast("string").as("g"),
          (col("id") % 100).as("day"),
          pmod(hash(col("id") + 5), lit(1000000)).cast("long").as("v"),
          col("id").cast("string").as("rid"))
        Sketches.quantRolling(df, "v", "rid", Seq("g"), "day",
          windowDays = 7, qPpms = Seq(500000L)).count() })
    // media decode at mult x 5k assets, synthesized in-executor from
    // the committed fixture formulas (the q237/q240/q241/q242 shapes);
    // outputs stay class-grain summaries — decode cost is the product
    time(s"r8 videoDedup signature @${mult * 5}k AVI assets")(
      { import spark.implicits._
        val assets = docs.select(col("doc_id")).as[Long]
          .map(id => Multimodal.MediaAsset(id, "video",
            Fixtures.videoAssetFor(id % 250).media))
        val part = concat_ws(":", col("frame_idx"), col("luma_sum"),
          col("edge_count"), col("frame_bytes"))
        Multimodal.videoFrameStats(assets)
          .groupBy(col("asset_id"))
          .agg(concat_ws("|", sort_array(collect_list(part))).as("sig"))
          .groupBy(col("sig")).agg(count(lit(1))).count() })
    time(s"r8 audioDedup exact sums @${mult * 5}k WAV assets")(
      { import spark.implicits._
        val assets = docs.select(col("doc_id")).as[Long]
          .map(id => Multimodal.MediaAsset(id, "audio",
            Fixtures.wavAssetFor(id % 200).media))
        assets.mapPartitions(_.flatMap { a =>
          Multimodal.decodeWavSamples(a.media).map { case (_, s) =>
            var s1 = 0L; var s2 = 0L
            s.foreach { v => s1 += v; s2 += v.toLong * v }
            (s.length.toLong, s1, s2)
          }
        }).toDF("n", "s1", "s2").groupBy("n", "s1", "s2").count().count() })
    time(s"r8 audioEnvelopeDedup @${mult * 5}k amplitude-scaled WAVs")(
      { import spark.implicits._
        docs.select(col("doc_id")).as[Long]
          .map(id => Multimodal.MediaAsset(id, "audio",
            Fixtures.wavScaledAssetFor(id).media))
          .mapPartitions(_.flatMap { a =>
            Multimodal.decodeWavSamples(a.media).map { case (_, s) =>
              (s.length.toLong,
                Multimodal.energyEnvelope(s, 8, 1000L).mkString("|"))
            }
          }).toDF("n", "env").groupBy("n", "env").count().count() })
    time(s"r8 dhash64 decode @${mult * 5}k JPEG assets")(
      { import spark.implicits._
        docs.select(col("doc_id")).as[Long]
          .mapPartitions(_.flatMap(id =>
            Multimodal.dhash64(Fixtures.dhashAssetFor(id).media)))
          .toDF("dh").count() })
    // hammingPairs blocking at 500k signatures with SMALL families
    // (8 members: 4 exact copies at each of two hashes 1 bit apart) —
    // the output is family-bounded (28 pairs each), so this measures
    // the collapse + banded-join machinery, not an inherently
    // quadratic result set. The q241 fixture's 110 giant families
    // would make the OUTPUT quadratic in corpus size by definition —
    // same rationale as the capped-suffix document replication above.
    time(s"r8 hammingPairs @${mult * 50}k hashes, ${mult * 50 / 8}k families")(
      { val hashes = spark.range(mult * 50000L).select(
          col("id"),
          xxhash64(expr("id div 8"))
            .bitwiseXOR(when(col("id") % 8 >= 4, 1L).otherwise(0L))
            .as("dh"))
        Dedup.hammingPairs(hashes, "id", "dh", maxDist = 3).count() })
    // r9: the persisted media-index probe path — the shape a 100 TB
    // ingest actually runs (q245/mediaGateIndexed): one-time index
    // lifecycle over the same mult*50k signature families as the
    // hammingPairs row (save 80%, append 20% — append pays the
    // bands-presence anti-join too), then a mult*5k-asset batch
    // screened via hammingJoinIndexed. Each batch hash sits 1–2 bits
    // off one family (matches all 8 members, nothing else), so output
    // is batch-bounded — this measures the banded probe + member
    // re-expansion, never a quadratic result set.
    time(s"r9 mediaIndex save+append @${mult * 50}k signatures")(
      { val path = s"$dir/media_idx_probe"
        val hashes = spark.range(mult * 50000L).select(
          col("id"),
          xxhash64(expr("id div 8"))
            .bitwiseXOR(when(col("id") % 8 >= 4, 1L).otherwise(0L))
            .as("dh"))
        val cut = mult * 40000L
        IndexStore.saveMediaIndex(hashes.where(col("id") < cut),
          "id", "dh", path)
        IndexStore.appendMediaIndex(hashes.where(col("id") >= cut),
          "id", "dh", path)
        spark.read.parquet(IndexStore.tableDir(spark, path, "bands")).count() })
    time(s"r9 hammingJoinIndexed @${mult * 5}k batch vs ${mult * 50}k corpus")(
      { val batch = spark.range(mult * 5000L).select(
          (col("id") + 1000000000L).as("id"),
          xxhash64(col("id")).bitwiseXOR(lit(2L)).as("dh"))
        Dedup.hammingJoinIndexed(batch,
          IndexStore.loadMediaIndex(spark, s"$dir/media_idx_probe"),
          "id", "dh").count() })
    // r9: one FULL ingest round (q248's ingestMedia) at the same scale:
    // half the batch sits 1–2 bits off an indexed family (rejected),
    // half carries fresh random signatures (admitted + appended with
    // their band rows). Runs after the screen row, so the index it
    // mutates is rebuilt by the save row on any re-run.
    time(s"r9 ingestMedia round @${mult * 5}k batch, 50% admitted")(
      { val fams = mult * 50000L / 8L
        val batch = spark.range(mult * 5000L).select(
          (col("id") + 2000000000L).as("id"),
          when(col("id") % 2 === 0,
            xxhash64(pmod(col("id"), lit(fams))).bitwiseXOR(lit(2L)))
            .otherwise(xxhash64(col("id") + 7L, lit("novel"))).as("dh"))
        IndexStore.ingestMedia(batch, "id", "dh",
          s"$dir/media_idx_probe").where(col("status") === "admitted")
          .count() })
    // r9: the other two persisted-screen paths at the same scale. The
    // replicated embeddings are mult-fold EXACT copies — the vector
    // index's rep collapse carries the duplication (reps stay 2k,
    // members mult×2k), so the screen measures block join + hydrate +
    // member expansion under the duplication the collapse exists for.
    time(s"r9 vectorIndex save+append @${mult * 2}k vectors")(
      { val path = s"$dir/vec_idx_probe"
        val cut = math.max(1L, mult * 8L / 10L) * 1000000L
        IndexStore.saveVectorIndex(embs.where(col("vec_id") < cut),
          "vec_id", "embedding", path, dim = 64)
        IndexStore.appendVectorIndex(embs.where(col("vec_id") >= cut),
          "vec_id", "embedding", path)
        spark.read.parquet(IndexStore.tableDir(spark, path, "blocks")).count() })
    time(s"r9 cosineJoinIndexed @2k batch vs ${mult * 2}k-vector index")(
      Similarity.cosineJoinIndexed(
        IndexStore.loadVectorIndex(spark, s"$dir/vec_idx_probe"),
        embs.where(col("vec_id") < 2000), "vec_id", "embedding",
        dim = 64, threshold = 0.9).count())
    time(s"r9 textIndex save+append @${mult * 5}k docs")(
      { val path = s"$dir/text_idx_probe"
        val cut = math.max(1L, mult * 8L / 10L) * 1000000L
        IndexStore.saveTextIndex(docs.where(col("doc_id") < cut),
          "doc_id", "text", path)
        IndexStore.appendTextIndex(docs.where(col("doc_id") >= cut),
          "doc_id", "text", path)
        spark.read.parquet(IndexStore.tableDir(spark, path, "postings")).count() })
    time(s"r9 bm25ScreenIndexed @${mult * 5}k-doc index")(
      TextAnalysis.bm25ScreenIndexed(
        IndexStore.loadTextIndex(spark, s"$dir/text_idx_probe"),
        Seq(1L -> "spark hash join", 2L -> "stream window agg"),
        minScoreE6 = 1000000L).count())
    // r10: the LIVING-INDEX loop end to end — ten consecutive
    // ingestMedia rounds against one growing index, measuring the
    // append-amplification curve compactIndex exists to fix: every
    // round appends a few small parquet files per table, every later
    // round's load pays the grown listing + per-file footer reads.
    // Per-round batches: half 1–2 bits off an indexed family
    // (rejected), half novel with a per-round salt (admitted — the
    // index grows ~batch/2 signatures per round). Labels carry the
    // PRE-round file counts so the curve reads straight off the log.
    // Self-contained under its own path: filter with "r10 living".
    locally {
      val path = s"$dir/media_idx_living"
      val fams = mult * 50000L / 8L
      def files(t: String) = {
        val d = new java.io.File(IndexStore.tableDir(spark, path, t))
        Option(d.listFiles()).map(_.count(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith(".")))
          .getOrElse(0)
      }
      def batchAt(base: Long) = spark.range(mult * 5000L).select(
        (col("id") + base).as("id"),
        when(col("id") % 2 === 0,
          xxhash64(pmod(col("id"), lit(fams))).bitwiseXOR(lit(2L)))
          .otherwise(xxhash64(col("id"), lit(s"novel$base"))).as("dh"))
      time(s"r10 living-index build @${mult * 50}k signatures")(
        { val hashes = spark.range(mult * 50000L).select(
            col("id"),
            xxhash64(expr("id div 8"))
              .bitwiseXOR(when(col("id") % 8 >= 4, 1L).otherwise(0L))
              .as("dh"))
          IndexStore.saveMediaIndex(hashes, "id", "dh", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "bands")).count() })
      for (r <- 1 to 10)
        time(s"r10 living-index round $r/10 @${mult * 5}k batch " +
            s"[pre-round files bands=${files("bands")} members=${files("members")}]")(
          IndexStore.ingestMedia(batchAt(3000000000L + r * 10000000L),
              "id", "dh", path)
            .where(col("status") === "admitted").count())
      time(s"r10 living-index compactIndex " +
          s"[pre files bands=${files("bands")} members=${files("members")}]")(
        IndexStore.compactIndex(spark, path)
          .map(s => s.filesBefore - s.filesAfter).sum)
      time(s"r10 living-index post-compact round " +
          s"[files bands=${files("bands")} members=${files("members")}]")(
        IndexStore.ingestMedia(batchAt(4000000000L), "id", "dh", path)
          .where(col("status") === "admitted").count())
      // file-size dial: the 128 MB default is the cluster-right target
      // (1000 executors, splittable anyway); at local[32] it leaves the
      // 29M-row bands scan only bytes/128MB ≈ 3 splits, so the
      // comparison row below compacts to 16 MB files to keep all 32
      // cores decoding — the knob a small deployment turns
      time(s"r10 living-index compactIndex 16MB target " +
          s"[pre files bands=${files("bands")} members=${files("members")}]")(
        IndexStore.compactIndex(spark, path, targetBytesPerFile = 16L << 20)
          .map(_.filesAfter).sum)
      time(s"r10 living-index post-compact-16MB round " +
          s"[files bands=${files("bands")} members=${files("members")}]")(
        IndexStore.ingestMedia(batchAt(4100000000L), "id", "dh", path)
          .where(col("status") === "admitted").count())
      // r11: the maintenance observability ops at the same index size —
      // describeIndex is listings-only (no Spark job); checkIndex's
      // media invariant is one distinct-dh anti-join over the full
      // band/member tables, the audit a maintenance cadence runs
      time(s"r11 living-index describeIndex")(
        IndexStore.describeIndex(spark, path).map(_.files).sum)
      time(s"r11 living-index checkIndex (healthy)")(
        IndexStore.checkIndex(spark, path).size.toLong)
      time(s"r11 living-index reapIndexGenerations")(
        IndexStore.reapIndexGenerations(spark, path).size.toLong)
    }
    // r13b: takedown deletes at index scale (media kind) — the delete
    // is a narrow validated append; the post-delete round pays one
    // runtime-broadcast anti-join per load; the vacuum is one
    // scan-shaped members rewrite + a band semi-join prune.
    // Self-contained under its own path (filter with "r13b").
    locally {
      val path = s"$dir/media_idx_r13b"
      val fams = mult * 50000L / 8L
      def batchAt(base: Long) = spark.range(mult * 5000L).select(
        (col("id") + base).as("id"),
        when(col("id") % 2 === 0,
          xxhash64(pmod(col("id"), lit(fams))).bitwiseXOR(lit(2L)))
          .otherwise(xxhash64(col("id"), lit(s"novel$base"))).as("dh"))
      time(s"r13b media index build @${mult * 50}k signatures (setup)")(
        { val hashes = spark.range(mult * 50000L).select(
            col("id"),
            xxhash64(expr("id div 8"))
              .bitwiseXOR(when(col("id") % 8 >= 4, 1L).otherwise(0L))
              .as("dh"))
          IndexStore.saveMediaIndex(hashes, "id", "dh", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "bands"))
            .count() })
      time(s"r13b deleteFromMediaIndex @${mult * 500} of " +
          s"${mult * 50}k assets (1%)")(
        IndexStore.deleteFromMediaIndex(spark, path,
          spark.range(mult * 500L).select((col("id") * 100L).as("id"))))
      time("r13b post-delete ingest round (tombstone anti-join)")(
        IndexStore.ingestMedia(batchAt(5000000000L), "id", "dh", path)
          .where(col("status") === "admitted").count())
      time(s"r13b vacuumMediaIndex @${mult * 500} tombstones")(
        IndexStore.vacuumMediaIndex(spark, path))
      time("r13b post-vacuum ingest round (anti-join retired)")(
        IndexStore.ingestMedia(batchAt(5100000000L), "id", "dh", path)
          .where(col("status") === "admitted").count())
    }
    // r13b: the MaxScore LOSSLESS cut on the exact shape the dense
    // volume law punishes — a stopword-dominated corpus (every doc
    // carries 10 universal terms with df = N, idf ≈ 0, ub = 0, plus 10
    // doc-unique terms) screened by exact-copy batches at a
    // decontamination-grade threshold. Raw cost is Σ_t df·queries —
    // the stopword postings multiplied by every query — while the
    // pruned screen scores only docs carrying an essential
    // (doc-unique) term: same verdicts by proof, candidate-sized cost.
    locally {
      val path = s"$dir/text_idx_r13b_stop"
      val corpus = spark.range(2000000L).select(col("id").as("doc_id"),
        concat(lit("the of and to in a is for on with "),
          concat_ws(" ", transform(sequence(lit(1), lit(10)),
            i => concat(lit("u"), col("id").cast("string"), lit("x"),
              i.cast("string"))))).as("text"))
      time("r13b stopword-heavy text index build @2M docs (setup)")(
        { IndexStore.saveTextIndex(corpus, "doc_id", "text", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "postings"))
            .count() })
      def copies(n: Long, base: Long) = corpus.where(col("doc_id") < n)
        .select((col("doc_id") + base).as("doc_id"), col("text"))
      // raw vs pruned on the SAME 20-copy batch: raw multiplies the
      // 2M-row stopword postings by every query (400M pairs); pruned
      // skips them all (ub = 0 ⇒ non-essential at any threshold)
      time("r13b ingestText RAW @20-copy batch vs 2M-doc stopword " +
          "corpus (400M-pair screen)")(
        IndexStore.ingestText(copies(20L, 8000000000L), "doc_id", "text",
            path, minScoreE6 = 50000000L)
          .where(col("status") === "duplicate").count())
      time("r13b ingestText maxScorePrune @20-copy batch (same " +
          "verdicts, candidates only)")(
        IndexStore.ingestText(copies(20L, 8100000000L), "doc_id", "text",
            path, minScoreE6 = 50000000L, maxScorePrune = true)
          .where(col("status") === "duplicate").count())
      // the 200-copy batch's UNPRUNED volume is 4B pairs — over the
      // default budget — but with the prune on the guardrail budgets
      // the TRUE candidate-restricted volume, so the round passes
      // under the DEFAULT budget (no conscious raise) where the raw
      // run would be a 10×-r12-OOM shape
      time("r13b ingestText maxScorePrune @200-copy batch under the " +
          "DEFAULT budget (unpruned volume would estimate 4B pairs)")(
        IndexStore.ingestText(copies(200L, 8200000000L), "doc_id", "text",
            path, minScoreE6 = 50000000L, maxScorePrune = true)
          .where(col("status") === "duplicate").count())
    }
    // r14: the RANKED (top-k) MaxScore prune on the same dense-volume
    // law — a 2M-doc corpus where every doc carries 10 universal
    // stopwords (df = N, ub = 0) plus 10 family-shared terms
    // (families of 100, df = 100 — ub ≈ 10M each), ranked by 20
    // family-doc queries. Raw top-k scores the stopword postings for
    // every query (400M pairs); the pruned form seeds each query's
    // rarest terms (one family's 100 docs), takes the exact 10th seed
    // score as θ (≈ 99M here), finds the stopwords' ascending-ub
    // prefix non-essential, and scores family candidates only — the
    // SAME ranking by proof (q272's hash oracle), candidate-sized
    // cost. Self-contained under "r14".
    if (gate("r14")) locally {
      val path = s"$dir/text_idx_r14_topk"
      val corpus = spark.range(2000000L).select(col("id").as("doc_id"),
        concat(lit("the of and to in a is for on with "),
          concat_ws(" ", transform(sequence(lit(1), lit(10)),
            i => concat(lit("f"), expr("id div 100").cast("string"),
              lit("x"), i.cast("string"))))).as("text"))
      time("r14 family text index build @2M docs (setup)")(
        { IndexStore.saveTextIndex(corpus, "doc_id", "text", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "postings"))
            .count() })
      val queries = corpus.where(pmod(col("doc_id"), lit(100000L)) === 0)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val idx = IndexStore.loadTextIndex(spark, path)
      time("r14 bm25TopKIndexed RAW top-10 @20 family queries vs " +
          "2M-doc stopword corpus (400M-pair scoring)")(
        TextAnalysis.bm25TopKIndexed(idx, queries, 10).count())
      time("r14 bm25TopKIndexed maxScorePrune top-10 (same ranking by " +
          "proof, candidates only)")(
        TextAnalysis.bm25TopKIndexed(idx, queries, 10,
          maxScorePrune = true).count())
      // r14: the compliance MEGA-SWEEP — a 1M-id takedown in one call.
      // All four validations (non-empty / null-free / duplicate-free /
      // all-live) ride ONE aggregate over del ⟕ live; the write is one
      // narrow 1M-row append. The vacuum that retires the read-side
      // anti-join stays compaction-class.
      time("r14 deleteFromTextIndex @1M ids of 2M docs (fused " +
          "one-aggregate validation)")(
        IndexStore.deleteFromTextIndex(spark, path,
          corpus.where(pmod(col("doc_id"), lit(2)) === 1)
            .select("doc_id")))
      time("r14 vacuumTextIndex @1M tombstones over 40M postings")(
        IndexStore.vacuumTextIndex(spark, path))
      // r14: rectification at scale — one leased call replaces 100k of
      // the 1M live docs (tombstone + fresh-id append; the re-crawl
      // shape). Cost = the fused delete + one append, nothing more.
      time("r14 replaceTextDocs @100k of 1M live docs (one leased " +
          "delete+append)")(
        { val old = corpus.where(pmod(col("doc_id"), lit(20L)) === 0)
          IndexStore.replaceTextDocs(
            old.select((col("doc_id") + 3000000L).as("doc_id"),
              col("text")),
            "doc_id", "text", path,
            old.select("doc_id"))._1 })
    }
    // r13b: the OTHER kinds' shard merges at probe scale. Media is a
    // union + band re-derivation (scan-shaped); vector and corpus pay
    // the consolidation regroup — one shuffle on the vector/text VALUE
    // over the member grain — which is the honest price of cross-shard
    // exact-dup family re-keying.
    locally {
      val a = s"$dir/media_shard_a"; val b = s"$dir/media_shard_b"
      def hashesAt(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id"),
        xxhash64(expr("id div 8"))
          .bitwiseXOR(when(col("id") % 8 >= 4, 1L).otherwise(0L)).as("dh"))
      time(s"r13b media shard build x2 @${mult * 25}k signatures each " +
          "(setup)")(
        { IndexStore.saveMediaIndex(hashesAt(0L, mult * 25000L),
            "id", "dh", a)
          IndexStore.saveMediaIndex(
            hashesAt(mult * 25000L, mult * 50000L), "id", "dh", b)
          2L })
      time(s"r13b mergeMediaIndexes @2x${mult * 25}k-signature shards")(
        IndexStore.mergeMediaIndexes(spark, Seq(a, b),
          s"$dir/media_merged"))
      val va = s"$dir/vec_shard_a"; val vb = s"$dir/vec_shard_b"
      // replica blocks live at id + i*1e6 — split the replica space
      val cut = math.max(1L, mult / 2L) * 1000000L
      time(s"r13b vector shard build x2 @${mult}k vectors each (setup)")(
        { IndexStore.saveVectorIndex(embs.where(col("vec_id") < cut),
            "vec_id", "embedding", va, dim = 64)
          IndexStore.saveVectorIndex(embs.where(col("vec_id") >= cut),
            "vec_id", "embedding", vb, dim = 64)
          2L })
      time(s"r13b mergeVectorIndexes @2x${mult}k-vector shards " +
          "(consolidation regroup on the vector value)")(
        IndexStore.mergeVectorIndexes(spark, Seq(va, vb),
          s"$dir/vec_merged"))
      val ca = s"$dir/corpus_shard_a"; val cb = s"$dir/corpus_shard_b"
      val dcut = math.max(1L, mult / 2L) * 1000000L
      time(s"r13b corpus shard build x2 @${mult * 25 / 10}k docs each " +
          "(setup)")(
        { IndexStore.saveCorpusIndex(docs.where(col("doc_id") < dcut),
            "doc_id", "text", ca)
          IndexStore.saveCorpusIndex(docs.where(col("doc_id") >= dcut),
            "doc_id", "text", cb)
          2L })
      time(s"r13b mergeCorpusIndexes @2 shards of the ${mult * 5}k-doc " +
          "corpus (consolidation regroup on the text value)")(
        IndexStore.mergeCorpusIndexes(spark, Seq(ca, cb),
          s"$dir/corpus_merged"))
    }
    // r10: the OTHER two ingest-round kinds at probe scale (media has
    // the living loop above; the semantic and lexical rounds complete
    // the family). Batches re-id monotonically above the index; ~half
    // duplicates (exact replica copies — certain candidacy), ~half
    // novel by construction (negated vectors / fully-synthetic texts).
    time(s"r10 vectorIndex build @${mult * 8 / 5}k vectors (ingest fixture)")(
      { val cut = math.max(1L, mult * 8L / 10L) * 1000000L
        IndexStore.saveVectorIndex(embs.where(col("vec_id") < cut),
          "vec_id", "embedding", s"$dir/vec_idx_ingest", dim = 64)
        spark.read.parquet(s"$dir/vec_idx_ingest/members").count() })
    time(s"r10 ingestVector round @${mult * 2 / 5}k batch, ~50% admitted " +
        s"vs ${mult * 8 / 5}k-vector index")(
      { val cut = math.max(1L, mult * 8L / 10L) * 1000000L
        val batch = embs.where(col("vec_id") >= cut).select(
          (col("vec_id") + 1000000000L).as("vec_id"),
          when(pmod(col("vec_id"), lit(2)) === 0, col("embedding"))
            .otherwise(transform(col("embedding"), x => -x)).as("embedding"))
        IndexStore.ingestVector(batch, "vec_id", "embedding",
            s"$dir/vec_idx_ingest", threshold = 0.9)
          .where(col("status") === "admitted").count() })
    time(s"r10 corpusIndex build @${mult * 4}k docs (ingest fixture)")(
      { val cut = math.max(1L, mult * 8L / 10L) * 1000000L
        IndexStore.saveCorpusIndex(docs.where(col("doc_id") < cut),
          "doc_id", "text", s"$dir/corpus_idx_ingest")
        spark.read.parquet(s"$dir/corpus_idx_ingest/members").count() })
    time(s"r10 ingestCorpus round @${mult}k batch, ~50% admitted " +
        s"vs ${mult * 4}k-doc index")(
      { val cut = math.max(1L, mult * 8L / 10L) * 1000000L
        val batch = docs.where(col("doc_id") >= cut).select(
          (col("doc_id") + 1000000000L).as("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0, col("text"))
            .otherwise(concat_ws(" ", transform(sequence(lit(1), lit(60)),
              i => concat(lit("nv"), col("doc_id").cast("string"),
                lit("x"), i.cast("string"))))).as("text"))
        IndexStore.ingestCorpus(batch, "doc_id", "text",
            s"$dir/corpus_idx_ingest", threshold = 0.7)
          .where(col("status") === "admitted").count() })
    // ---- round-12 family: the two maintenance rewrites that lacked
    // probe rows, plus the new text ingest round ----
    // rebuildIvf at 1M vectors: retrain is maxTrainRows-bounded (200k
    // sample regardless of corpus size); the corpus-sized cost is ONE
    // reassign pass + the two-table write, published by one swap
    locally {
      val path = s"$dir/ivf_rebuild_probe"
      val vecs = spark.range(1000000L).select(col("id"),
          transform(sequence(lit(1), lit(16)),
            d => sin(col("id") * d).cast("double")).as("v"))
        .localCheckpoint(true)
      time("r12 ivf save+append setup @1M synthetic 16-dim vectors")(
        { IndexStore.saveIvf(IvfIndex.build(
            vecs.where(col("id") < 200000L), "id", "v", nLists = 64), path)
          IndexStore.appendIvf(vecs.where(col("id") >= 200000L),
            "id", "v", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "assign"))
            .count() })
      time("r12 rebuildIvf @1M vectors, nLists=64, train<=200k")(
        { IndexStore.rebuildIvf(vecs, "id", "v", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "assign"))
            .count() })
    }
    // repairTextIndex + ingestText over a dedicated full-corpus text
    // index (self-contained: the r12 filter alone builds what it needs)
    time(s"r12 text index build @${mult * 5}k docs (setup for the rows below)")(
      { IndexStore.saveTextIndex(docs, "doc_id", "text",
          s"$dir/text_idx_r12")
        spark.read.parquet(
          IndexStore.tableDir(spark, s"$dir/text_idx_r12", "postings"))
          .count() })
    // one anti-join count over the distinct posting doc ids + one
    // semi-join rewrite of the narrow doclen table, published by swap
    time(s"r12 repairTextIndex @${mult * 5}k-doc text index, " +
        "50k planted doclen orphans (rows = orphans pruned)")(
      { val dl = IndexStore.tableDir(spark, s"$dir/text_idx_r12", "doclen")
        spark.range(50000).select((col("id") + 5000000000L).as("doc_id"),
          lit(37L).as("dl")).write.mode("append").parquet(dl)
        IndexStore.repairTextIndex(spark, s"$dir/text_idx_r12") })
    time("r12 repairTextIndex healthy re-check (0-row no-op)")(
      IndexStore.repairTextIndex(spark, s"$dir/text_idx_r12") + 1L)
    // ingestText round: novel-heavy batch (the production
    // decontamination shape — novel vocabulary touches NO postings, so
    // its cost is the tokenize alone) plus a dense-copy slice whose
    // cost is the honest worst case: an exact copy of a
    // shared-vocabulary doc scores against every corpus doc sharing a
    // term, so the screen's volume is Σ_t |postings(t)| · |queries(t)|
    // over the batch's matched terms — inherent to exact BM25 (every
    // (query, doc, term) triple contributes a score term), which is
    // why the copy slice is SIZED (100 docs ≈ 300M join rows against
    // this corpus's dense shared vocabulary; 500 blew past the probe's
    // 8g heap) and why a production decontamination batch over
    // same-distribution text must be budgeted by matched-posting
    // volume, not row count
    time(s"r12 ingestText round @${mult * 100}-novel + ${mult}-copy " +
        s"batch vs ${mult * 5}k-doc text index")(
      { val novel = docs.where(col("doc_id") % 1000000L < 100)
          .select((col("doc_id") + 6000000000L).as("doc_id"),
            concat_ws(" ", transform(sequence(lit(1), lit(60)),
              i => concat(lit("tx"), col("doc_id").cast("string"),
                lit("x"), i.cast("string")))).as("text"))
        val copies = docs.where(col("doc_id") % 1000000L < 1)
          .select((col("doc_id") + 7000000000L).as("doc_id"), col("text"))
        IndexStore.ingestText(novel.unionByName(copies), "doc_id", "text",
            s"$dir/text_idx_r12", minScoreE6 = 30000000L)
          .where(col("status") === "admitted").count() })
    // r13: the guardrail on the dense batch shape that OOM'd the r12
    // probe (500 copies ≈ 1.5B scored rows > the 1B default budget):
    // the refusal costs one narrow estimate job — seconds, not an
    // hours-long spill-then-OOM — and collapseFirst then completes the
    // SAME batch by collapsing the copies intra-batch so only family
    // heads pay the index screen
    // ONE construction for both probes — the claim is "the SAME batch"
    val r13Dense = docs.where(col("doc_id") % 1000000L < 5)
      .select((col("doc_id") + 8500000000L).as("doc_id"), col("text"))
    time(s"r13 ingestText guardrail refusal @${mult * 5}-dense-copy " +
        s"batch vs ${mult * 5}k-doc index (rows = 1 iff refused)")(
      try {
        IndexStore.ingestText(r13Dense, "doc_id", "text",
          s"$dir/text_idx_r12", minScoreE6 = 1000000L): Unit
        0L
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("maxScreenPairs") => 1L
      })
    time(s"r13 ingestText collapseFirst @same ${mult * 5}-copy batch " +
        "(rows = family heads that paid the index screen)")(
      IndexStore.ingestText(r13Dense, "doc_id", "text",
          s"$dir/text_idx_r12", minScoreE6 = 1000000L,
          collapseFirst = true)
        .where(col("status") =!= "collapsed").count())
    // r13: the CHEAP end of ingestText's volume law, pinned at a
    // multi-million-doc index — the round-12 verdict's unprobed claim.
    // A novel-vocabulary batch's terms hit no postings, so the round's
    // cost is the tokenize + ONE scan-shaped pass of postings for the
    // estimate and one for the screen join (both stream postings past
    // a small broadcast term set — no product blowup); the 10-copy
    // slice adds the bounded exact-score work (~30 terms × df each)
    locally {
      val path = s"$dir/text_idx_r13"
      val corpus = spark.range(5000000L).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(30)),
          i => concat(lit("w"),
            pmod(col("id") * i, lit(9973)).cast("string")))).as("text"))
      time("r13/r13b text index build @5M synthetic 30-token docs (setup)")(
        { IndexStore.saveTextIndex(corpus, "doc_id", "text", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "postings"))
            .count() })
      time("r13 ingestText NOVEL-dominated round @10k-novel + 10-copy " +
          "batch vs 5M-doc/150M-posting index")(
        { val novel = spark.range(10000L)
            .select((col("id") + 8000000000L).as("doc_id"),
              concat_ws(" ", transform(sequence(lit(1), lit(40)),
                i => concat(lit("nv"), col("id").cast("string"),
                  lit("x"), i.cast("string")))).as("text"))
          val copies = corpus.where(col("doc_id") < 10)
            .select((col("doc_id") + 9000000000L).as("doc_id"), col("text"))
          IndexStore.ingestText(novel.unionByName(copies), "doc_id",
              "text", path, minScoreE6 = 30000000L)
            .count() })
      // r13b: SHARD-PARALLEL build + merge at the same 5M-doc scale —
      // two 2.5M-doc shards built independently (the 100 TB build
      // path: no single job tokenizes the whole corpus; K builders
      // each index a disjoint id range concurrently), then one merge
      // rewrite whose cost class is one compaction of the result
      time("r13b shard build x2 @2.5M docs each (setup, sequential " +
          "here; independent jobs on a cluster)")(
        { IndexStore.saveTextIndex(
            corpus.where(pmod(col("doc_id"), lit(2)) === 0),
            "doc_id", "text", s"$dir/text_shard_a")
          IndexStore.saveTextIndex(
            corpus.where(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text", s"$dir/text_shard_b")
          2L })
      time("r13b mergeTextIndexes @2x2.5M-doc shards -> 5M-doc index")(
        IndexStore.mergeTextIndexes(spark,
          Seq(s"$dir/text_shard_a", s"$dir/text_shard_b"),
          s"$dir/text_merged"))
      // r13b: TOMBSTONE deletes at the 5M scale — the delete is a
      // narrow validated append (heavy tables untouched); the
      // post-delete screen pays one runtime-broadcast anti-join per
      // table; the vacuum is one scan-shaped rewrite (compaction's
      // cost class); the post-vacuum screen pays nothing extra
      time("r13b deleteFromTextIndex @50k of 5M docs (1%)")(
        IndexStore.deleteFromTextIndex(spark, path,
          spark.range(50000L).select((col("id") * 100L).as("doc_id"))))
      time("r13b bm25ScreenIndexed post-delete (tombstone anti-join)")(
        TextAnalysis.bm25ScreenIndexed(
          IndexStore.loadTextIndex(spark, path),
          Seq(1L -> "w17 w23 w99"), minScoreE6 = 1000000L).count())
      time("r13b vacuumTextIndex @50k tombstones over 5M docs")(
        IndexStore.vacuumTextIndex(spark, path))
      time("r13b bm25ScreenIndexed post-vacuum (anti-join retired)")(
        TextAnalysis.bm25ScreenIndexed(
          IndexStore.loadTextIndex(spark, path),
          Seq(1L -> "w17 w23 w99"), minScoreE6 = 1000000L).count())
    }
    // r15: ranked retrieval over a DATA-SIZED query RELATION
    // (bm25TopKJoin — the q275 shape at probe scale). Self-contained
    // under "r15". Two laws measured:
    // (a) the r14 adversarial stopword corpus probed by a 100-row
    //     query RELATION through the PRUNED path with NO broadcast
    //     hints anywhere (AQE decides every join) — the candidate cut
    //     must survive hint-free planning. The RAW form at this query
    //     count would score 100 × 10 × 2M = 2e9 stopword pairs (5× the
    //     r14 raw row's 400M / 49.5 s) — deliberately not run.
    // (b) a 100k-row query relation (the EXPOSURE point: the
    //     driver-literal Seq form would have to collect a data-sized
    //     relation to the driver) against a selective-vocabulary
    //     corpus — the hard-negative-mining shape where every query
    //     term is family-grain and the matched volume is
    //     Σ_t df(t)·|queries(t)| ≈ 1e8 pairs, not the stopword law.
    //     Pruned and unpruned both run: with EVERY family queried,
    //     every doc is some query's seed doc, so the prune degrades
    //     to re-scans of the same matched volume — the measured
    //     finding that maxScorePrune pays only when the query relation
    //     leaves most of the corpus un-seeded.
    if (gate("r15")) locally {
      val path = s"$dir/text_idx_r15_join"
      val corpus = spark.range(2000000L).select(col("id").as("doc_id"),
        concat(lit("the of and to in a is for on with "),
          concat_ws(" ", transform(sequence(lit(1), lit(10)),
            i => concat(lit("f"), expr("id div 100").cast("string"),
              lit("x"), i.cast("string"))))).as("text"))
      time("r15 stopword-family text index build @2M docs (setup)")(
        { IndexStore.saveTextIndex(corpus, "doc_id", "text", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "postings"))
            .count() })
      val idx = IndexStore.loadTextIndex(spark, path)
      val qRel = corpus.where(pmod(col("doc_id"), lit(20000L)) === 0)
      time("r15 bm25TopKJoin PRUNED top-10 @100-query RELATION vs " +
          "2M-doc stopword corpus (hint-free; raw would be 2e9 pairs)")(
        TextAnalysis.bm25TopKJoin(idx, qRel, "doc_id", "text", 10,
          maxScorePrune = Some(true)).count())
    }
    // r15bm: BLOCK-MAX headroom A/B for the MaxScore prune (verdict-14
    // ask #3, measure-first). The global ub (maxScoreUb) is df-only —
    // it assumes every posting could saturate tf. The adversarial
    // mid-df shape where that loses: 20 families × 10 mid terms
    // (df = 100k each), region A (ids < 1M) carries its family terms
    // at tf = 3 (contribution 4.7e6/term), region B at tf = 1 padded
    // to the same dl by unique fillers (contribution 3.0e6/term).
    // Screening 200 family queries at thr = 40e6: TRUE scores are
    // A ≈ 47e6 (pass) and B ≈ 30e6 (fail), but the global ub
    // (6.6e6/term) keeps EVERY matched doc essential — zero candidate
    // cut — while a per-(term, block) ub of the exact max contribution
    // prunes every region-B block outright (Σ ubb_B = 30e6 < thr).
    // Blocks here align PERFECTLY with the regions (id div 125k) — the
    // measured gap is therefore the BEST-CASE headroom, an upper bound
    // on what production block-max could recover. Self-contained under
    // "r15bm".
    if (gate("r15bm")) locally {
      import graft.operators.TextAnalysis.{bm25ScoredIndexed, bm25TermE6}
      import spark.implicits._
      val path = s"$dir/text_idx_r15bm"
      val famTerms = transform(sequence(lit(0), lit(9)),
        j => concat(lit("m"), ((col("id") % 20) * 10 + j).cast("string")))
      val corpus = spark.range(2000000L).select(col("id").as("doc_id"),
        when(col("id") < 1000000L,
          concat_ws(" ", flatten(transform(famTerms,
            t => array_repeat(t, 3)))))
        .otherwise(concat_ws(" ", concat(famTerms,
          transform(sequence(lit(1), lit(20)),
            j => concat(lit("f"), col("id").cast("string"),
              lit("x"), j.cast("string")))))).as("text"))
      time("r15bm mid-df two-region text index build @2M docs (setup)")(
        { IndexStore.saveTextIndex(corpus, "doc_id", "text", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "postings"))
            .count() })
      val idx = IndexStore.loadTextIndex(spark, path)
      val queries = (0L until 200L).map(q => (q,
        (0 until 10).map(j => s"m${(q % 20) * 10 + j}").mkString(" ")))
      val thr = 40000000L
      time("r15bm bm25Screen RAW @200 queries x 100k-df terms " +
          "(200M-pair multiply)")(
        TextAnalysis.bm25ScreenIndexed(idx, queries, thr).count())
      time("r15bm bm25Screen GLOBAL-ub maxScorePrune (mid-df: zero " +
          "candidate cut expected)")(
        TextAnalysis.bm25ScreenIndexed(idx, queries, thr,
          maxScorePrune = true).count())
      // the block-max-lite candidate set, built declaratively from the
      // same relations the screen derives: per-(term, block) ub = the
      // exact MAX per-doc contribution in the block, essential prefix
      // per (query, block), candidates = docs in blocks carrying an
      // essential term
      val qt = queries.flatMap { case (qid, text) =>
        text.split(" ").map(t => (qid, t)) }.toSeq
        .toDF("query_id", "term")
      val stats = idx.doclen
        .agg(count(lit(1)).as("__n"), sum(col("dl")).as("__sumdl"))
      val tfQ0 = idx.postings
        .join(broadcast(qt.select("term").distinct()), Seq("term"))
      val dfRel = tfQ0.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val ubb = tfQ0.join(idx.doclen, Seq("doc_id"))
        .join(broadcast(dfRel), Seq("term")).crossJoin(broadcast(stats))
        .select(col("term"), (col("doc_id") / lit(125000L)).cast("long")
          .as("__blk"), bm25TermE6(1.2, 0.75).as("__e6"))
        .groupBy(col("term"), col("__blk")).agg(max(col("__e6")).as("__ub"))
      val wBlk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"), col("__blk"))
        .orderBy(col("__ub").asc, col("term").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val essential = qt.join(broadcast(ubb), Seq("term"))
        .withColumn("__cum", sum(col("__ub")).over(wBlk))
        .where(col("__cum") >= lit(thr))
        .select(col("term"), col("__blk")).distinct()
      val bmCands = tfQ0
        .select(col("term"), col("doc_id"),
          (col("doc_id") / lit(125000L)).cast("long").as("__blk"))
        .join(broadcast(essential), Seq("term", "__blk"))
        .select(col("doc_id")).distinct()
      time("r15bm block-max candidate count (global keeps 2M)")(
        bmCands.count())
      time("r15bm bm25Screen BLOCK-MAX candidates (region B never " +
          "scored)")(
        bm25ScoredIndexed(idx, qt, 1.2, 0.75,
            candidateDocs = Some(bmCands))
          .where(col("score_e6") >= thr).count())
    }
    if (gate("r15")) locally {
      val path = s"$dir/text_idx_r15_sel"
      val corpus = spark.range(2000000L).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(10)),
          i => concat(lit("s"), expr("id div 100").cast("string"),
            lit("x"), i.cast("string")))).as("text"))
      time("r15 selective text index build @2M docs (setup)")(
        { IndexStore.saveTextIndex(corpus, "doc_id", "text", path)
          spark.read.parquet(IndexStore.tableDir(spark, path, "postings"))
            .count() })
      val idx = IndexStore.loadTextIndex(spark, path)
      val qRel = corpus.where(pmod(col("doc_id"), lit(20L)) === 0)
      // Some(false), NOT the auto default: this row is the UNPRUNED
      // baseline the A/B law cites — auto would fold the pre-flight
      // aggregate into the control's wall (and would track the
      // decision rule instead of pinning the direct plan)
      time("r15 bm25TopKJoin top-10 @100k-query RELATION vs 2M-doc " +
          "selective corpus (driver-literal form would collect 100k " +
          "rows)")(
        TextAnalysis.bm25TopKJoin(idx, qRel, "doc_id", "text", 10,
          maxScorePrune = Some(false)).count())
      time("r15 bm25TopKJoin maxScorePrune @100k-query RELATION (every " +
          "family seeded - measured prune overhead, not a win)")(
        TextAnalysis.bm25TopKJoin(idx, qRel, "doc_id", "text", 10,
          maxScorePrune = Some(true)).count())
    }
    // r16: the AUTO maxScorePrune decision (verdict-15 ask #1) at the
    // two round-15 probe shapes that DEFINE the decision rule. Auto
    // must (a) choose the winning side at both shapes — its wall must
    // sit at min(pruned, unpruned) plus the pre-flight aggregate — and
    // (b) print the pre-flight statistic so the decision margins are
    // on record (SCALING §r16). Self-contained under "r16".
    if (gate("r16")) locally {
      def stats3(idx: TextAnalysis.TextIndex,
                 qRel: org.apache.spark.sql.DataFrame,
                 label: String): Unit = {
        val qt = TextAnalysis.queryTermsOf(qRel, "doc_id", "text")
        val (sv, tv, n) = TextAnalysis.topKPruneStats(idx, qt, 10, 1.2)
        val d = TextAnalysis.autoPruneDecision(sv, tv, n)
        println(s"r16 pre-flight [$label]: seedVol=$sv totVol=$tv " +
          s"n=$n -> prune=$d")
      }
      // shape A: 100-query relation vs the stopword-dominated corpus —
      // the prune WINS ≥5× here; auto must pick it
      val pathA = s"$dir/text_idx_r16_stop"
      val corpusA = spark.range(2000000L).select(col("id").as("doc_id"),
        concat(lit("the of and to in a is for on with "),
          concat_ws(" ", transform(sequence(lit(1), lit(10)),
            i => concat(lit("f"), expr("id div 100").cast("string"),
              lit("x"), i.cast("string"))))).as("text"))
      time("r16 stopword-family text index build @2M docs (setup)")(
        { IndexStore.saveTextIndex(corpusA, "doc_id", "text", pathA)
          spark.read.parquet(IndexStore.tableDir(spark, pathA, "postings"))
            .count() })
      val idxA = IndexStore.loadTextIndex(spark, pathA)
      val qRelA = corpusA.where(pmod(col("doc_id"), lit(20000L)) === 0)
      stats3(idxA, qRelA, "selective 100-query vs stopword corpus")
      time("r16 bm25TopKJoin AUTO top-10 @100-query RELATION vs 2M-doc " +
          "stopword corpus (must pick PRUNED - raw law is 2e9 pairs)")(
        TextAnalysis.bm25TopKJoin(idxA, qRelA, "doc_id", "text", 10)
          .count())
      // the screen's auto at the same shape: decontamination-grade
      // threshold → essential slice is small → prune; a floor
      // threshold keeps everything essential → direct
      time("r16 bm25ScreenJoin AUTO thr=2e6 @100-query RELATION vs " +
          "stopword corpus (must pick PRUNED)")(
        TextAnalysis.bm25ScreenJoin(idxA, qRelA, "doc_id", "text",
          minScoreE6 = 2000000L).count())
      // shape B: 100k-query relation vs the selective corpus — every
      // family is seeded, the prune LOSES ~3×; auto must pick direct
      val pathB = s"$dir/text_idx_r16_sel"
      val corpusB = spark.range(2000000L).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(10)),
          i => concat(lit("s"), expr("id div 100").cast("string"),
            lit("x"), i.cast("string")))).as("text"))
      time("r16 selective text index build @2M docs (setup)")(
        { IndexStore.saveTextIndex(corpusB, "doc_id", "text", pathB)
          spark.read.parquet(IndexStore.tableDir(spark, pathB, "postings"))
            .count() })
      val idxB = IndexStore.loadTextIndex(spark, pathB)
      val qRelB = corpusB.where(pmod(col("doc_id"), lit(20L)) === 0)
      stats3(idxB, qRelB, "exhaustive 100k-query vs selective corpus")
      time("r16 bm25TopKJoin AUTO top-10 @100k-query RELATION vs 2M-doc " +
          "selective corpus (must pick DIRECT - prune re-scans 3x)")(
        TextAnalysis.bm25TopKJoin(idxB, qRelB, "doc_id", "text", 10)
          .count())
    }
    // r15km: KMeansQ at probe scale — the numeric Lloyd's law with the
    // same 2M-record × 8-component × k=8 × 3-pass shape as r15kp, so
    // the two operators' assignment plans compare directly.
    // Self-contained under "r15km".
    if (gate("r15km")) locally {
      val vecs = spark.range(2000000L).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          i => ((col("id") % (i * 13 + 7)).cast("double") / lit(100.0))
            .cast("float")).as("embedding"))
      time("r15km KMeansQ fit @2M vectors, 8 dims, k=8, 3 Lloyd passes")(
        graft.operators.KMeansQ.fit(vecs, "vec_id", "embedding",
            k = 8, maxIter = 3, seed = 42L)
          .groupBy(col("cluster")).agg(count(lit(1))).count())
    }
    // r15kp: k-prototypes at probe scale — the mixed-distance Lloyd's
    // per-iteration shape is two k-fan joins (k × rows component
    // pairs) + two map-side-combined aggregations + one argmin window,
    // nothing pairwise; this row pins the law at 2M records × (2 cat +
    // 2 num) × k=8 × 3 passes. Self-contained under "r15kp".
    if (gate("r15kp")) locally {
      val rows = spark.range(2000000L).select(col("id"),
        concat(lit("brand"), (col("id") % 40).cast("string")).as("c1"),
        concat(lit("type"), (col("id") % 7).cast("string")).as("c2"),
        ((col("id") % 97).cast("double") / lit(100.0)).as("n1"),
        ((col("id") % 31).cast("double") / lit(10.0)).as("n2"))
      time("r15kp KPrototypes fit @2M records, 2 cat + 2 num, k=8, " +
          "3 Lloyd passes (k-fan joins, no pairwise)")(
        graft.operators.KPrototypes.fit(rows, "id", Seq("c1", "c2"),
            Seq("n1", "n2"), k = 8, gammaE12 = 1000000000000L,
            maxIter = 3, seed = 42L)
          .groupBy(col("cluster")).agg(count(lit(1))).count())
    }
    spark.stop()
  }
}
