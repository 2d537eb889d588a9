package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    // untimed warmup: spin up executor threads and JIT the shared
    // machinery the timed queries run on — parquet scan, hash
    // aggregation, shuffle, sort-merge/broadcast join, window exec,
    // text kernels — so the first timed queries measure their plan,
    // not JVM startup. Tiny slices keep this a few seconds.
    locally {
      import org.apache.spark.sql.functions._
      spark.range(1000000).selectExpr("sum(id * 2)").collect()
      val o = Tables.table(spark, sfDir, "orders").limit(2000)
      val c = Tables.table(spark, sfDir, "customer").limit(2000)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")), count(lit(1)))
        .collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      o.select(row_number().over(w), rank().over(w)).collect()
      Tables.table(spark, sfDir, "documents").limit(200)
        .select(graft.functions.TextFunctions.shingles(col("text"), 3),
          graft.functions.TextFunctions.tokens(col("text")),
          xxhash64(col("text")))
        .collect()
    }
    // DRIFT SENTINELS (round-15 verdict ask #6): two fixed synthetic
    // workloads timed on every bench run and recorded in the JSON, so
    // cross-round comparisons can NORMALIZE by the box's speed that
    // day instead of re-litigating per-query outliers (the bench box
    // drifts 10-15% intra-day; r14/r15 both needed manual A/B
    // archaeology, and the r16 q267/q268 adjudication found 1.25-1.8×
    // uniform drift on untouched code). `sentinel_cpu_sec` is pure
    // codegen arithmetic (no I/O, no data shuffle — 2e9-row range
    // aggregate); `sentinel_io_sec` writes + reads a fixed ~50 MB
    // parquet in a temp dir (the index-lifecycle queries are
    // disk-bound, and disk and CPU drift independently — the r16
    // adjudication saw 1.25× CPU-ish vs 1.8× disk-ish inflation).
    // Best-of-N, like queries_min: load can only ADD time. How to
    // read: if round B's sentinel is 1.15× round A's, expect ~15%
    // uniform inflation on B's walls before calling any single query
    // a regression (SURVEY §9).
    def sentinelTime(reps: Int)(body: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); body
        (System.nanoTime() - t0) / 1e9
      }.min
    val sentinelCpu = sentinelTime(3) {
      spark.range(2000000000L)
        .selectExpr("sum(id * 3 + (id % 7))").collect(): Unit
    }
    val sentinelIo = sentinelTime(2) {
      val d = java.nio.file.Files
        .createTempDirectory("graft_bench_sentinel").toFile
      try {
        spark.range(5000000L)
          .selectExpr("id", "id * 7 AS a", "CAST(id % 97 AS STRING) AS s")
          .write.mode("overwrite").parquet(d.toString)
        spark.read.parquet(d.toString)
          .selectExpr("sum(a)", "count(s)").collect(): Unit
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(d)
      }
    }
    // netlib BLAS fallback warnings arrive via java.util.logging, not
    // log4j, and would otherwise land in the output tail the driver
    // parses — silence JUL below SEVERE for the whole run.
    locally {
      val root = java.util.logging.Logger.getLogger("")
      root.setLevel(java.util.logging.Level.SEVERE)
      root.getHandlers.foreach(_.setLevel(java.util.logging.Level.SEVERE))
    }
    // sorted order: stable attribution across rounds. Timed against the
    // noop sink: every row is fully materialized through the whole plan
    // (sorts, projections, top-level exprs included) — `count()` would
    // let Catalyst prune all of that under the aggregate. Median of
    // `runs` passes per query (interleaved GC/JIT wobble on sub-second
    // queries masqueraded as 6× regressions in round 3); a query that
    // throws records -1.0 and is named in `failed` — never a plausible
    // elapsed time. Passes run ROUND-ROBIN (q01..qNN, q01..qNN, ...)
    // rather than back-to-back per query: a sustained co-located load
    // burst then taxes one pass of MANY queries — which the median
    // absorbs — instead of all passes of ONE query, which it cannot
    // (round 4's driver medians showed 15× phantom regressions from
    // exactly that). `queries_min` (per-query best-of) is emitted
    // alongside the medians as the load-immune floor.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // local-iteration subset (comma-separated name substrings); the
    // driver leaves this unset and benches everything
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(p) => val pats = p.split(','); n => pats.exists(n.contains)
      case None => _ => true
    }
    val named = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1))
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (_ <- 1 to runs; (name, fn) <- named) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples(name) =
          samples.getOrElse(name, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val results = named.map { case (name, _) =>
      val times = samples.getOrElse(name, Vector.empty)
      val median =
        if (times.isEmpty) -1.0
        else {
          val s = times.sorted
          // true midpoint for even counts: a 1-of-3 failure leaves two
          // samples, and reporting the worse one would re-introduce the
          // wobble misattribution the median exists to fix
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        }
      (name, median, if (times.isEmpty) -1.0 else times.min, times.size)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, m, _) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val ns = results.map { case (k, _, _, n) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, 0) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // interference-free run total: the sum of per-query best-of-N
    // floors. Two runs of the same code agree on total_min even when
    // co-located load taxes different queries in each (the r8/r9
    // driver-vs-quiet totals diverged by 15 s with identical code);
    // compare THIS across runs, `value` only within one.
    val totalMin = results.map(_._3).filter(_ >= 0).sum
    // side-file default is PER-RUN UNIQUE (cpus + sf in the name): the
    // round-16 driver ran the bench twice (32-core main + 8-core
    // scaling companion) and both wrote the old fixed default
    // BENCH_LOCAL.json — the second clobbered the first, so the round's
    // per-query ground truth (PERF per_query, the scaling block) was
    // LOST. The stdout pointer below always names the actual file, so
    // consumers never guess.
    val sfTag = sfDir.replaceAll(".*/", "").replaceAll("[^A-Za-z0-9._-]", "_")
    val sideFile = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", s"BENCH_LOCAL_c${cpus}_$sfTag.json")
    // Paths are JSON-escaped in BOTH outputs — env-supplied
    // SPARK_GRAFT_SF_DIR / SPARK_GRAFT_BENCH_OUT may contain
    // quotes/backslashes/control bytes.
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // per-query interference flag: a median >1.5× the best-of-N floor
    // means at least half the passes were taxed by co-located load —
    // the min is the load-immune signal (GC/JIT/neighbor bursts can
    // only ADD time). Emitting the adjudication in the artifact stops
    // humans re-litigating machine noise (r7 q212, r8 q212+q111: the
    // mins agreed across runs, the medians didn't).
    val noisy = results.collect {
      case (k, med, min, n) if n > 1 && min > 0 && med / min > 1.5 => jstr(k)
    }.mkString("[", ",", "]")
    // full record (per-query medians + best-of + run counts) — side
    // file ONLY. The driver reads just a 2000-character stdout tail, so
    // the ~20 KB per-query maps can never ride the primary channel: six
    // rounds of `parsed: null` were exactly that (the tail started
    // mid-line). Stdout gets a SHORT summary line (<1 KB) instead, with
    // a pointer to the side file carrying the maps.
    val fullJson =
      s"""{"metric":"total","value":$total,"total_min":$totalMin,"unit":"sec","sentinel_cpu_sec":$sentinelCpu,"sentinel_io_sec":$sentinelIo,"queries":$qs,"queries_min":$mins,"runs_per_query":$ns,"noisy":$noisy,"failed":$failed,"sf":${jstr(sfDir)}}"""
      // (fullJson keeps the failed name LIST — it has no size budget)
    // stdout stays bounded no matter how many queries fail: a failure
    // COUNT, not the name list (~6 KB at 240 names — that would blow
    // the 2000-char driver tail exactly when the signal matters most);
    // the full names ride the side file.
    val shortJson =
      s"""{"metric":"total","value":$total,"total_min":$totalMin,"unit":"sec","sentinel_cpu_sec":$sentinelCpu,"sentinel_io_sec":$sentinelIo,"n_queries":${results.size},"n_failed":${results.count(_._4 == 0)},"n_noisy":${results.count { case (_, med, min, n) => n > 1 && min > 0 && med / min > 1.5 }},"sf":${jstr(sfDir)},"detail":${jstr(sideFile)}}"""
    // side file FIRST so the stdout pointer never dangles on a crash
    // between the two writes; a failed side-file write is reported on
    // stderr and must not eat the primary channel. Both happen BEFORE
    // spark.stop() so shutdown logs can't trail the line.
    try java.nio.file.Files.write(java.nio.file.Paths.get(sideFile),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"bench side-file write failed: ${e.getMessage}")
    }
    System.out.println(shortJson)
    System.out.flush()
    spark.stop()
  }
}
