package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Times operations, counts attempts and failures. A failed operation
  * (it threw, or its output check did not hold) yields no sample.
  */
final class Recorder(tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run `body` as the timed operation `op`, inside span `span`. */
  def time[T](op: String, span: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(span)(body)
      samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$op threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Output check of an operation already counted by [[time]]. Runs
    * outside the timed region; a failed check drops the op's sample.
    */
  def verify(op: String, ok: Boolean, what: => String): Unit =
    if (!ok) {
      fail(s"$op: $what")
      samples.get(op).foreach(s => if (s.nonEmpty) s.remove(s.size - 1))
    }

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"graftbench: FAILED $msg")
  }
}

/** One benchmark workload: set-up writes its inputs under a directory,
  * `cycle` runs its timed operations once, `extras` makes the traced
  * run's additional direct calls into single layers.
  */
trait Workload {
  /** Timed operations of a cycle, in order: (end-to-end role, name). */
  def ops: Seq[(String, String)]
  def setup(dir: String): Unit
  def cycle(rec: Recorder, t: Tracer): Unit
  def extras(t: Tracer): Unit
  /** End-of-run output checks. */
  def finish(rec: Recorder): Unit = ()
  /** Workload-specific results, printed by name on the detail line. */
  def detail(rec: Recorder): Seq[(String, Any)]
  /** Untimed cycles run before timing starts. */
  def warmupCycles: Int = 1
}

object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      // the session graft.Bench runs
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    spark
  }

  /** Drift sentinel: a fixed mix of plain Spark work that calls no engine
    * code — a shuffle aggregate over 500 000 rows, a 100 000-row parquet
    * write and its read-back. The host may be shared and its speed drift
    * by a third within minutes; a timed operation divided by the run's
    * best sentinel time cancels that drift (graft.Bench records best-of-N
    * drift sentinels for the same reason: load can only add time). The
    * best, not the median, because a sentinel run right after a heavy
    * cycle still pays for its clean-up. Returns seconds.
    */
  def sentinel(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 500000, 1, Cores).selectExpr("id % 1000 AS k", "xxhash64(id) AS h")
      .groupBy("k").agg(org.apache.spark.sql.functions.max("h")).collect()
    spark.range(0, 100000, 1, Cores).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).selectExpr("sum(length(s))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest whole percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val p = (100 * (s.size - 10)) / s.size
      Some(p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.fold("null")(json)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      kv.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case o => json(o.toString)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    new java.io.File(work).mkdirs()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      System.currentTimeMillis() * 1000000L + System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    val spark = session(work)
    val sc = spark.sparkContext
    val off = new Tracer(sc, enabled = false, s"$name-$seed")
    val w: Workload = name match {
      case "kmodes_fit" => new KModesFit(spark, seed)
      case "dedup_cc" => new DedupCC(spark, seed)
      case "index_lifecycle" => new IndexLifecycle(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    phase("jvm_and_session")
    // Set-up: the first repetition pays class loading and JIT; the
    // median of three repetitions is reported, the last one is kept.
    val setupTimes = (1 to 3).map { i =>
      val dir = s"$work/input-$i"
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) rm(new java.io.File(s"$work/input-${i - 1}"))
      s
    }
    phase("setup")
    // Warm-up: untimed cycles, so timed cycles see a warm JIT. A traced
    // run always warms up, so its traced and untraced cycles compare
    // like with like.
    for (_ <- 1 to math.max(w.warmupCycles, if (traced) 1 else 0)) w.cycle(new Recorder(off), off)
    phase("warmup")

    val rec = new Recorder(off)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      // cycles until `seconds` have passed, at least two, each followed
      // by the drift sentinel
      def sentinelSample() = rec.samples.getOrElseUpdate("sentinel", mutable.ArrayBuffer.empty) +=
        sentinel(spark, s"$work/sentinel")
      sentinel(spark, s"$work/sentinel")
      sentinelSample()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var cycles = 0
      while (cycles < 2 || System.nanoTime() < end) {
        w.cycle(rec, off)
        sentinelSample()
        cycles += 1
      }
      phase("measure")
      metrics("setup_s") = (median(setupTimes), "s")
      val unit = rec.samples("sentinel").min
      for ((role, op) <- w.ops)
        metrics(s"${role}_rel") = (median(rec.samples.getOrElse(op, Nil).toSeq) / unit, "x")
    } else {
      // Untraced and traced cycles alternate for twice `seconds`, at
      // least two of each, so the overhead compares cycles run under the
      // same conditions. The listener only listens to traced cycles.
      val listener = new SpanListener
      val tracer = new Tracer(sc, enabled = true, s"$name-$seed")
      val trec = new Recorder(tracer)
      val gc0 = gcSeconds()
      resetPeakHeap()
      val end = System.nanoTime() + (2 * seconds * 1e9).toLong
      var cycles = 0
      var tracedNs = 0L
      while (cycles < 4 || System.nanoTime() < end) {
        if (cycles % 2 == 0) w.cycle(rec, off)
        else {
          sc.addSparkListener(listener)
          val t0 = System.nanoTime()
          w.cycle(trec, tracer)
          tracedNs += System.nanoTime() - t0
          listener.drain(sc)
          sc.removeSparkListener(listener)
        }
        cycles += 1
      }
      val top = tracer.spans.filter(_.parent == 0).map(_.wallS).sum
      sc.addSparkListener(listener)
      w.extras(tracer)
      val gcS = gcSeconds() - gc0
      val peakMb = peakHeapMb()
      listener.drain(sc)
      sc.removeSparkListener(listener)
      val counters = Attribution.counters(tracer.spans.toSeq, listener.jobs.values.toSeq)
      Layers.emit(tracer, counters, metrics)
      metrics("jvm.gc_s") = (gcS, "s")
      metrics("jvm.peak_heap_mb") = (peakMb, "MB")
      // overhead: traced minus untraced medians of the same operations
      for ((role, op) <- w.ops)
        metrics(s"trace.overhead.${role}_s") = (
          median(trec.samples.getOrElse(op, Nil).toSeq) -
            median(rec.samples.getOrElse(op, Nil).toSeq), "s")
      // uncovered: traced cycle time outside every top-level span
      metrics("trace.uncovered_s") = (tracedNs / 1e9 - top, "s")
      rec.attempted += trec.attempted
      rec.failed += trec.failed
      rec.failures ++= trec.failures
      opts.get("spans").foreach(Layers.writeSpans(_, tracer, counters))
      phase("traced")
    }
    w.finish(rec)
    phase("finish")

    val timings = rec.samples.map { case (op, xs) =>
      op -> mutable.LinkedHashMap[String, Any]("median_s" -> median(xs.toSeq), "n" -> xs.size,
        "samples_s" -> xs,
        "tail" -> tail(xs.toSeq).map { case (p, v) => Map("p" -> p, "value_s" -> v) })
    }
    val detail = Seq[(String, Any)](
      "workload" -> name, "seed" -> seed, "cores" -> Cores,
      "spark" -> spark.version, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup_s" -> setupTimes, "phases_s" -> phases, "timings" -> timings,
      "ops_failed_ratio" -> rec.failed.toDouble / math.max(1, rec.attempted),
      "failures" -> rec.failures.take(20)) ++ w.detail(rec)
    println("GRAFTBENCH-DETAIL " + json(detail))
    val ok = rec.failed == 0 && metrics.values.forall(v => !v._1.isNaN)
    println("GRAFTBENCH-RESULT " + json(Seq(
      "correct" -> ok, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) })))
    spark.stop()
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  private def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
