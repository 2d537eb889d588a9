package graft.tools

/** Plan-capture harness (measurement only): writes
  * `<outDir>/<query>_<tag>.txt` with `.explain("formatted")` output for
  * every registered query matching a name substring. Usage:
  *   runMain graft.tools.ExplainQ <sfDir> <outDir> <tag> <substr>[,...]
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: ExplainQ <sfDir> <outDir> <tag> <substr>[,<substr>...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag, pat) = args.take(4)
    val pats = pat.split(',')
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => pats.exists(kv._1.contains))
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
            plan.getBytes("UTF-8"))
          println(s"explained $name")
        } catch {
          case e: Throwable =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
