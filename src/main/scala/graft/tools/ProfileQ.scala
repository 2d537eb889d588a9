package graft.tools

import org.apache.spark.scheduler._

/** Optimization-round measurement harness (NOT part of the engine;
  * guide §1 "measure first"). Runs one or more registered queries
  * against the noop sink with a SparkListener attached, then prints a
  * per-query decomposition: total wall, Spark-job wall (sum of job
  * spans), driver gap (wall minus job spans — plan/analysis/file ops),
  * job count, stage count, task count, shuffle bytes, and the top
  * jobs by duration. Usage:
  *   runMain graft.tools.ProfileQ <sfDir> <nameSubstr>[,<substr>...] [reps]
  */
object ProfileQ {
  private class Rec extends SparkListener {
    case class Job(id: Int, start: Long, var end: Long, desc: String)
    val jobs = scala.collection.mutable.Map.empty[Int, Job]
    var stages = 0
    var tasks = 0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var taskTimeMs = 0L
    // call-site attribution: first graft frame (or Spark API line) of
    // each completed stage, with stage count + task-time totals
    val sites = scala.collection.mutable.Map.empty[String, (Int, Long, Long)]
    private def siteOf(details: String): String =
      details.split('\n').find(l => l.contains("graft."))
        .orElse(details.split('\n').headOption).getOrElse("?").trim
    // ACTION attribution: SQLExecutionStart's description is the
    // call-site of the driver action (head/count/checkpoint/write); a
    // job carries its execution id in its properties — so jobs roll up
    // to the action that submitted them, seeing through the AQE
    // stage-job thread pool the stage-site attribution cannot.
    val execs = scala.collection.mutable.Map.empty[Long, String]
    val jobExec = scala.collection.mutable.Map.empty[Int, String]
    override def onOtherEvent(
        e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execs(s.executionId) = s.description.split('\n').head.take(130)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs(e.jobId) = Job(e.jobId, e.time, e.time,
        Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
      jobExec(e.jobId) = Option(
          e.properties.getProperty("spark.sql.execution.id"))
        .map(_.toLong).flatMap(execs.get).getOrElse("(no sql execution)")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += e.stageInfo.numTasks
      shuffleRead += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
      shuffleWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      taskTimeMs += e.stageInfo.taskMetrics.executorRunTime
      val k = siteOf(e.stageInfo.details)
      val wall = e.stageInfo.completionTime.getOrElse(0L) -
        e.stageInfo.submissionTime.getOrElse(0L)
      val (c, t, w) = sites.getOrElse(k, (0, 0L, 0L))
      sites(k) = (c + 1, t + e.stageInfo.taskMetrics.executorRunTime, w + wall)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: ProfileQ <sfDir> <nameSubstr>[,<substr>...] [reps]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val pats = args(1).split(',')
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // A/B seam: PROF_CONFS="k=v;k=v" applies extra session confs
    val extra = sys.env.get("PROF_CONFS").toSeq
      .flatMap(_.split(';')).map(_.split("=", 2)).collect {
        case Array(k, v) => (k, v)
      }
    val spark0 = graft.GraftSession.builder(cpus, cpus)
    val spark = extra.foldLeft(spark0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    // warmup identical in spirit to Bench's
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val named = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => pats.exists(kv._1.contains))
    for ((name, fn) <- named) {
      var best = Double.MaxValue
      var bestRec: Rec = null
      for (_ <- 1 to reps) {
        val rec = new Rec
        spark.sparkContext.addSparkListener(rec)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(rec)
        if (wall < best) { best = wall; bestRec = rec }
      }
      val jobSpans = bestRec.jobs.values.toSeq.sortBy(_.start)
      // merge overlapping job spans so concurrent jobs don't double-count
      var covered = 0L
      var (cs, ce) = (0L, 0L)
      for (j <- jobSpans) {
        if (j.start > ce) { covered += ce - cs; cs = j.start; ce = j.end }
        else ce = math.max(ce, j.end)
      }
      covered += ce - cs
      println(f"== $name wall=$best%.2fs jobWall=${covered / 1e3}%.2fs " +
        f"driverGap=${best - covered / 1e3}%.2fs jobs=${jobSpans.size} " +
        f"stages=${bestRec.stages} tasks=${bestRec.tasks} " +
        f"shufR=${bestRec.shuffleRead / 1048576.0}%.1fMB " +
        f"shufW=${bestRec.shuffleWrite / 1048576.0}%.1fMB " +
        f"taskTime=${bestRec.taskTimeMs / 1e3}%.1fs")
      jobSpans.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
        println(f"   job ${j.id}%4d ${(j.end - j.start) / 1e3}%6.2fs  ${j.desc.take(110)}")
      }
      bestRec.sites.toSeq.sortBy(-_._2._3).take(15).foreach {
        case (site, (c, t, w)) =>
          println(f"   site n=$c%3d stageWall=${w / 1e3}%6.2fs taskTime=${t / 1e3}%6.2fs  ${site.take(120)}")
      }
      // per-ACTION rollup: jobs grouped by the SQL execution (driver
      // action) that submitted them
      bestRec.jobs.values.toSeq
        .groupBy(j => bestRec.jobExec.getOrElse(j.id, "?"))
        .map { case (k, js) =>
          (k, js.size, js.map(j => j.end - j.start).sum / 1e3)
        }.toSeq.sortBy(-_._3).take(25).foreach { case (k, n, w) =>
          println(f"   exec jobs=$n%3d wall=$w%6.2fs  $k")
        }
    }
    spark.stop()
  }
}
