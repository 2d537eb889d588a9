package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One recorded span: a call into an engine layer, timed from outside. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L,
    attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written once at the end of
  * the run. While a span is open its id rides on the driver thread as the
  * local property [[Tracer.SpanProp]], so every Spark job the call submits
  * carries it. Disabled, `span` only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.fold(0)(_.id), run,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a counter to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.head.attrs(key) = value

  /** Attach a counter to the latest span of that name. */
  def noteLast(name: String, key: String, value: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name).foreach(_.attrs(key) = value)
}

object Tracer {
  val SpanProp = "graftbench.span"
  val MarkerProp = "graftbench.marker"
}

/** Per-job counters gathered by [[SpanListener]]. */
final class JobRec(val id: Int, val startMs: Long, val prop: Option[Int],
    val execId: Option[Long]) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var maxTaskMs = 0L
}

/** Attributes Spark jobs, stages and tasks to spans. A job belongs to the
  * span named by its [[Tracer.SpanProp]] local property; a job without it
  * (an adaptive-execution stage job submitted off the driver thread)
  * inherits the span of another job of the same SQL execution, and
  * failing that the innermost span open when it started.
  */
final class SpanListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var markerJob = -1
  @volatile var markerSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    if (prop(Tracer.MarkerProp).isDefined) { markerJob = e.jobId; return }
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
    jobs(e.jobId) = new JobRec(e.jobId, e.time, prop(Tracer.SpanProp).map(_.toInt),
      exec.map(_.toLong))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    if (e.jobId == markerJob) markerSeen = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Block until every event posted before this call has been delivered:
    * a marker job is submitted and its end awaited (the bus is FIFO).
    */
  def drain(sc: SparkContext): Unit = {
    markerSeen = false
    sc.setLocalProperty(Tracer.MarkerProp, "1")
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, null)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(Tracer.MarkerProp, null)
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
    val deadline = System.nanoTime() + 30000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerSeen, "trace: listener bus did not drain within 30 s")
  }
}

/** Per-span counter set C of the benchmark, summed over the span and its
  * descendants.
  */
final case class Counters(wallS: Double, jobs: Int, stages: Int, tasks: Int,
    executorRunS: Double, shuffleWriteBytes: Long, spillBytes: Long,
    driverGapS: Double, maxTaskS: Double, inputBytes: Long, outputBytes: Long)

object Attribution {
  /** Resolve every job to a span id, then roll counters up per span. */
  def counters(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Counters] = {
    val byExec = jobs.flatMap(j => for (e <- j.execId; p <- j.prop) yield e -> p).toMap
    def innermostAt(ms: Long): Option[Int] = spans
      .filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => -s.startNs).headOption.map(_.id)
    val owner: Map[Int, Int] = jobs.flatMap { j =>
      j.prop.orElse(j.execId.flatMap(byExec.get)).orElse(innermostAt(j.startMs))
        .map(j.id -> _)
    }.toMap
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val jobsOf = jobs.groupBy(j => owner.getOrElse(j.id, 0))
    spans.map { s =>
      val js = subtree(s.id).flatMap(jobsOf.getOrElse(_, Nil))
      // union of the jobs' intervals, clipped to the span
      val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (0L, -1L)
      for ((a, b) <- iv) {
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> Counters(s.wallS, js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
        js.map(_.runMs).sum / 1e3, js.map(_.shuffleWrite).sum, js.map(_.spill).sum,
        math.max(0.0, s.wallS - covered / 1e3),
        if (js.isEmpty) 0.0 else js.map(_.maxTaskMs).max / 1e3,
        js.map(_.inputBytes).sum, js.map(_.outputBytes).sum)
    }.toMap
  }
}
