package graftbench

import scala.collection.mutable

/** The per-layer metrics of the traced run: one entry per span name with
  * the counters it reports. A metric's value is the median over that
  * span's calls in the traced run; a layer that does no work on a
  * workload reports 0.
  */
object Layers {
  val C = Seq("wall_s", "jobs", "stages", "tasks", "executor_run_s",
    "shuffle_write_bytes", "spill_bytes", "driver_gap_s")

  val spans: Seq[(String, Seq[String])] = Seq(
    "KModes.fit_global" -> (C ++ Seq("iterations", "input_bytes")),
    "KModes.fit_ensemble" -> (C :+ "max_task_s"),
    "KModes.transform" -> C,
    "LocalKModes.fit" -> Seq("wall_s", "iterations"),
    "LocalKModes.meta_cluster" -> Seq("wall_s"),
    "ModeArrayAgg.agg" -> C,
    "Distances.assign" -> C,
    "Dedup.minhash_lsh" -> (C ++ Seq("pairs", "max_task_s")),
    "Dedup.connected_components" -> (C :+ "components"),
    "Dedup.lsh_join_indexed" -> C,
    "IndexStore.ingest" -> (C ++ Seq("output_bytes", "admitted")),
    "IndexStore.load" -> C,
    "IndexStore.delete" -> C,
    "IndexStore.vacuum" -> (C :+ "output_bytes"))

  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("bytes") => "bytes"
    case "peak_heap_mb" => "MB"
    case _ => "count"
  }

  private def counter(c: Counters, s: Span, key: String): Double = key match {
    case "wall_s" => c.wallS
    case "jobs" => c.jobs
    case "stages" => c.stages
    case "tasks" => c.tasks
    case "executor_run_s" => c.executorRunS
    case "shuffle_write_bytes" => c.shuffleWriteBytes.toDouble
    case "spill_bytes" => c.spillBytes.toDouble
    case "driver_gap_s" => c.driverGapS
    case "max_task_s" => c.maxTaskS
    case "input_bytes" => c.inputBytes.toDouble
    case "output_bytes" => c.outputBytes.toDouble
    case attr => s.attrs.getOrElse(attr, 0.0)
  }

  def emit(t: Tracer, counters: Map[Int, Counters],
      out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    def med(name: String, f: Span => Double): Double = {
      val calls = t.spans.filter(_.name == name).toSeq
      if (calls.isEmpty) 0.0 else Main.median(calls.map(f))
    }
    for ((name, keys) <- spans; key <- keys)
      out(s"$name.$key") = (med(name, s => counter(counters(s.id), s, key)), unitOf(key))
    // index storage as `describeIndex` reports it after each round
    for (key <- Seq("files", "bytes"))
      out(s"IndexStore.$key") = (med("IndexStore.describe", _.attrs(key)), unitOf(key))
  }

  /** Write every span, with parent id, run id and its counters, as one
    * JSON document.
    */
  def writeSpans(path: String, t: Tracer, counters: Map[Int, Counters]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val rows = t.spans.map { s =>
      val c = counters(s.id)
      Seq[(String, Any)]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "executor_run_s" -> c.executorRunS, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "driver_gap_s" -> c.driverGapS,
        "max_task_s" -> c.maxTaskS, "input_bytes" -> c.inputBytes,
        "output_bytes" -> c.outputBytes, "attrs" -> s.attrs)
    }
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Main.json(Seq("spans" -> rows.toSeq)))
    finally w.close()
  }
}
