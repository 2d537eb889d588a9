package graftbench

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `dedup_cc`: near-duplicate removal over a replicated corpus with
  * planted families — `Dedup.deduplicate`, and its two stages called
  * directly: the MinHash-LSH pair search and connected components.
  */
final class DedupCC(spark: SparkSession, seed: Long) extends Workload {
  val spec = Gen.Docs(base = 4000, maxFamily = 10, hotFamily = 400, nullDocs = 20)

  val ops = Seq("op_main" -> "deduplicate", "op_second" -> "minhash_lsh",
    "op_third" -> "connected_components")

  private var dir: String = _
  private var docs: DataFrame = _
  /** Ids that must survive: every family's minimum id (singletons, the
    * hot family's first variant, null-text docs).
    */
  private var expected: Set[Long] = _
  private var docCount = 0L
  /** Family size → number of planted families of that size. */
  private var familyShape: Map[Long, Int] = Map.empty
  private val pairCounts = collection.mutable.ArrayBuffer.empty[Long]
  private val componentCounts = collection.mutable.ArrayBuffer.empty[Long]

  def setup(d: String): Unit = {
    dir = d
    Gen.dedupDocs(spark, seed, spec, 4).write.parquet(s"$dir/documents")
    docs = spark.read.parquet(s"$dir/documents").select("doc_id", "text")
    val fams = spark.read.parquet(s"$dir/documents")
      .groupBy("family").agg(count(lit(1)).as("n"), min("doc_id").as("min_id")).collect()
    expected = fams.map(_.getLong(2)).toSet
    docCount = fams.map(_.getLong(1)).sum
    familyShape = fams.groupBy(_.getLong(1)).map { case (n, rs) => n -> rs.length }
  }

  def cycle(rec: Recorder, t: Tracer): Unit = {
    rec.time("deduplicate", "Dedup.deduplicate") {
      Dedup.deduplicate(docs, "doc_id", "text").select("doc_id").collect().map(_.getLong(0))
    }.foreach { kept =>
      val got = kept.toSet
      rec.verify("deduplicate", kept.length == got.size && got == expected,
        s"kept ${got.size} ids (${(got -- expected).size} unexpected, " +
          s"${(expected -- got).size} missing) of ${expected.size} expected")
    }
    rec.time("minhash_lsh", "Dedup.minhash_lsh") {
      Dedup.minhashLSH(docs, "doc_id", "text").localCheckpoint(true)
    }.foreach { pairs =>
      val n = pairs.count()
      pairCounts += n
      t.noteLast("Dedup.minhash_lsh", "pairs", n.toDouble)
      rec.time("connected_components", "Dedup.connected_components") {
        Dedup.connectedComponents(pairs).localCheckpoint(true)
      }.foreach { cc =>
        val comps = cc.select("group_id").distinct().count()
        componentCounts += comps
        t.noteLast("Dedup.connected_components", "components", comps.toDouble)
        val families = familyShape.filter(_._1 > 1).values.sum
        rec.verify("connected_components", comps == families,
          s"$comps components, $families planted families")
      }
    }
  }

  def extras(t: Tracer): Unit = ()

  def detail(rec: Recorder): Seq[(String, Any)] = Seq(
    "dedup_s" -> Main.median(rec.samples.getOrElse("deduplicate", Nil).toSeq),
    "pairs" -> pairCounts.distinct, "components" -> componentCounts.distinct,
    "input" -> Seq(
      "documents" -> Inputs.describe(s"$dir/documents", docCount),
      "planted" -> Seq("families_by_size" -> familyShape.toSeq.sortBy(_._1)
          .map { case (n, c) => n.toString -> c },
        "hot_family" -> spec.hotFamily, "null_text_docs" -> spec.nullDocs,
        "survivors" -> expected.size)))
}
