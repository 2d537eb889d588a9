package graftbench

import graft.operators.{Dedup, IndexStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `index_lifecycle`: a persisted MinHash-LSH corpus index under a fixed
  * sequence of rounds, starting from the base index built at set-up.
  * Each round (one cycle) ingests a batch (write), probes a read-only
  * batch (load + indexed LSH join) and deletes a fixed id set followed
  * by a vacuum (rewrite). The run goes as far along the sequence as its
  * time allows.
  */
final class IndexLifecycle(spark: SparkSession, seed: Long) extends Workload {
  val spec = Gen.Lifecycle(base = 1500, batch = 150, rounds = 12,
    nearPermille = 200, exactPermille = 100, deletesPerCycle = 60)

  require(spec.rounds * spec.deletesPerCycle <= spec.base / 2,
    "delete sets must stay distinct within the upper half of the base")

  val ops = Seq("op_main" -> "ingest", "op_second" -> "probe",
    "op_third" -> "maintain")
  /** A warm-up round would cost a whole round to remove a cold-JIT
    * penalty of a few seconds, most of which the set-up's index build
    * already pays, so rounds are timed from the first one.
    */
  override def warmupCycles: Int = 0

  private var dir: String = _
  private var batches: Seq[DataFrame] = _
  private var probes: Seq[DataFrame] = _
  private var deletes: Seq[DataFrame] = _
  /** Per round: the planted status of every batch doc. */
  private var planted: Seq[Map[Long, String]] = _
  private def path = s"$dir/index"
  private var round = 0
  private var finalStats: Seq[IndexStore.TableStat] = Nil

  def setup(d: String): Unit = {
    dir = d
    round = 0
    val l = spec
    Gen.indexBase(spark, seed, l).write.parquet(s"$dir/base")
    Gen.indexBatches(spark, seed, l, probe = false).write.parquet(s"$dir/batches")
    Gen.indexBatches(spark, seed, l, probe = true).write.parquet(s"$dir/probes")
    Gen.deleteIds(spark, l).write.parquet(s"$dir/deletes")
    IndexStore.saveCorpusIndex(spark.read.parquet(s"$dir/base"), "doc_id", "text", path)

    def byRound(t: String, cols: String*) = {
      val df = spark.read.parquet(s"$dir/$t")
      (0 until l.rounds).map(r => df.where(col("round") === r).select(cols.map(col): _*))
    }
    batches = byRound("batches", "doc_id", "text")
    probes = byRound("probes", "doc_id", "text")
    deletes = byRound("deletes", "member_id")
    planted = spark.read.parquet(s"$dir/batches").select(col("round"), col("doc_id"),
        when(col("target").isNull, "admitted").otherwise("duplicate")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => r.getLong(1) -> r.getString(2)).toMap)
  }

  def cycle(rec: Recorder, t: Tracer): Unit = {
    val r = round
    require(r < spec.rounds, s"index_lifecycle: the ${spec.rounds}-round sequence is used up")
    round += 1
    rec.time("ingest", "IndexStore.ingest") {
      IndexStore.ingestCorpus(batches(r), "doc_id", "text", path).collect()
    }.foreach { verdict =>
      val got = verdict.map(v => v.getLong(0) -> v.getString(1)).toMap
      t.noteLast("IndexStore.ingest", "admitted", got.values.count(_ == "admitted"))
      val wrong = planted(r).count { case (id, s) => !got.get(id).contains(s) }
      rec.verify("ingest", wrong == 0 && got.size == planted(r).size,
        s"round $r: $wrong of ${planted(r).size} verdicts differ from the planted status")
    }
    rec.time("probe", "op.probe") {
      val idx = t.span("IndexStore.load")(IndexStore.loadCorpusIndex(spark, path))
      t.span("Dedup.lsh_join_indexed") {
        Dedup.minhashLSHJoinIndexed(probes(r), idx, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
    }
    rec.time("maintain", "op.maintain") {
      t.span("IndexStore.delete")(IndexStore.deleteFromCorpusIndex(spark, path, deletes(r)))
      t.span("IndexStore.vacuum")(IndexStore.vacuumCorpusIndex(spark, path))
    }
    finalStats = t.span("IndexStore.describe") {
      val st = IndexStore.describeIndex(spark, path)
      t.note("files", st.map(_.files).sum.toDouble)
      t.note("bytes", st.map(_.bytes).sum.toDouble)
      st
    }
  }

  def extras(t: Tracer): Unit =
    for (r <- 0 until math.min(round, 3)) {
      val pairs = t.span("Dedup.minhash_lsh")(
        Dedup.minhashLSH(batches(r), "doc_id", "text").localCheckpoint(true))
      t.noteLast("Dedup.minhash_lsh", "pairs", pairs.count().toDouble)
    }

  private var liveDocs = 0L
  private var rebuildMatches: Seq[(String, Boolean)] = Nil

  /** Append ≡ rebuild: the index the last cycle left behind must equal,
    * table by table, `saveCorpusIndex` over the docs it should hold
    * (base minus deletes plus every admitted doc).
    */
  override def finish(rec: Recorder): Unit = {
    rec.attempted += 1
    val done = col("round") < round
    val live = spark.read.parquet(s"$dir/base")
      .join(spark.read.parquet(s"$dir/deletes").where(done)
        .select(col("member_id").as("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(spark.read.parquet(s"$dir/batches").where(done && col("target").isNull)
        .select("doc_id", "text"))
    IndexStore.saveCorpusIndex(live, "doc_id", "text", s"$dir/rebuild")
    val a = IndexStore.loadCorpusIndex(spark, path)
    val b = IndexStore.loadCorpusIndex(spark, s"$dir/rebuild")
    // one job per index: row count and hash sum of each table
    def digest(idx: Dedup.CorpusIndex) = {
      val tables = Seq(idx.bands, idx.sets, idx.members)
      tables.zipWithIndex.map { case (t, i) =>
        t.select(lit(i).as("t"), xxhash64(t.columns.map(col).toIndexedSeq: _*).as("h"))
      }.reduce(_ unionByName _).groupBy("t")
        .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    }
    val (da, db) = (digest(a), digest(b))
    rebuildMatches = Seq("bands", "sets", "members").zipWithIndex.map { case (n, i) =>
      n -> (da.get(i) == db.get(i))
    }
    liveDocs = da.get(2).fold(0L)(_._1)
    val bad = rebuildMatches.filterNot(_._2).map(_._1)
    if (bad.nonEmpty) rec.fail(s"append != rebuild on ${bad.mkString(", ")}")
  }

  def detail(rec: Recorder): Seq[(String, Any)] = {
    def med(op: String) = Main.median(rec.samples.getOrElse(op, Nil).toSeq)
    Seq(
      "ingest_batch_s" -> med("ingest"),
      "probe_batch_s" -> med("probe"),
      "maintain_cycle_s" -> med("maintain"),
      "index_bytes_per_doc" -> finalStats.map(_.bytes).sum.toDouble / liveDocs,
      "index_files" -> finalStats.map(_.files).sum,
      "live_docs" -> liveDocs,
      "append_equals_rebuild" -> rebuildMatches,
      "rounds_run" -> round,
      "input" -> Seq(
        "base" -> Inputs.describe(s"$dir/base", spec.base),
        "batches" -> Inputs.describe(s"$dir/batches", planted.map(_.size).sum.toLong),
        "probes" -> Inputs.describe(s"$dir/probes", spec.batch.toLong * spec.rounds),
        "deletes" -> Inputs.describe(s"$dir/deletes", spec.deletesPerCycle.toLong * spec.rounds),
        "rounds" -> spec.rounds,
        "batch_duplicate_share" -> planted.map(m =>
          m.values.count(_ == "duplicate").toDouble / m.size)))
  }
}
