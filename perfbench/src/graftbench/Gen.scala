package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id), computed by Spark hash expressions over `range`, so
  * the same seed writes the same rows into the same part files. The
  * engine only ever sees the parquet these write.
  */
object Gen {
  /** Uniform draw in [0, n) keyed by (seed, tag, keys...). */
  def draw(seed: Long, tag: Int, n: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: keys): _*), lit(n.toLong)).cast("int")

  // ------------------------------------------------------------ categorical

  final case class Categorical(
      rows: Long, d: Int, k: Int, vocab: Int, noisePermille: Int,
      nullPermille: Int, partitions: Int)

  /** Seed of the categorical table's values. The global fit is
    * deterministic in the multiset of rows and its Lloyd iteration count
    * depends on it, so the values are fixed and the workload seed only
    * decides the row ids: the order of rows in the files and which rows
    * share an ensemble partition.
    */
  val TableSeed = 1L

  /** The k planted modes, k × d. */
  def plantedModes(c: Categorical): Array[Array[String]] = {
    val r = new java.util.SplittableRandom(TableSeed)
    Array.fill(c.k)(Array.tabulate(c.d)(j => s"f${j}_v${r.nextInt(c.vocab)}"))
  }

  /** (id, cluster, features array<string>), sorted by id: row r belongs
    * to planted cluster `pmod(hash, k)`; each feature keeps the cluster's
    * mode value except with probability noise (uniform vocabulary draw),
    * and is null with probability nullPermille / 1000. One 64-bit hash
    * per cell feeds all three draws (shifted by 0, 20 and 40 bits). The
    * id is a hash of (seed, r).
    */
  def categorical(spark: SparkSession, seed: Long, c: Categorical): DataFrame = {
    val modes = typedlit(plantedModes(c).toSeq.flatMap(_.toSeq))
    val r = col("id")
    val cluster = draw(TableSeed, 1, c.k, r)
    val feats = (0 until c.d).map { j =>
      val h = xxhash64(lit(TableSeed), lit(2), r, lit(j))
      def bits(shift: Int, n: Int) = pmod(shiftright(h, shift), lit(n.toLong))
      when(bits(40, 1000) >= c.nullPermille,
        when(bits(0, 1000) < c.noisePermille,
          concat(lit(s"f${j}_v"), bits(20, c.vocab).cast("string")))
          .otherwise(element_at(modes, cluster * c.d + j + 1)))
    }
    spark.range(0, c.rows, 1, c.partitions)
      .select(xxhash64(lit(seed), r).as("id"), cluster.as("cluster"), array(feats: _*).as("features"))
      .sort("id")
  }

  // -------------------------------------------------------------- documents

  val WordCount = 600

  /** Synthetic vocabulary: `WordCount` distinct lowercase tokens. */
  val words: Seq[String] = (0 until WordCount).map(i => "w" + Integer.toString(i, 36))

  /** Random text of 20..79 tokens keyed by (seed, tag, key). Two such
    * texts share a word 3-shingle with negligible probability, so no
    * unplanted pair ever nears a Jaccard threshold of 0.7.
    */
  def text(seed: Long, tag: Int, key: Column): Column = {
    val len = draw(seed, tag, 60, key) + 20
    val vocab = typedlit(words)
    concat_ws(" ", transform(sequence(lit(0), len - 1),
      t => element_at(vocab, draw(seed, tag + 1, WordCount, key, t) + 1)))
  }

  final case class Docs(base: Int, maxFamily: Int, hotFamily: Int, nullDocs: Int)

  val ReplicaStride = 1000000L
  val HotBase = 90000000L
  val NullBase = 95000000L

  /** `dedup_cc` corpus, the ScaleProbe recipe on generated base text:
    * base doc b is replicated `size(b)` ∈ [1, maxFamily] times at ids
    * b + r·1e6, replica r > 0 carrying the suffix token `probe<r>` (a
    * family of pairwise near duplicates, Jaccard ≥ 0.9; size 1 is a
    * singleton outside any family). One hot family of `hotFamily`
    * variants (`hot<i>` suffixes) sits at ids from 9e7, kept under the
    * default maxBucketSize so it is verified rather than skipped. A few
    * null-text docs at ids from 9.5e7 must survive untouched.
    * Columns: doc_id, text, family (min id of the planted family).
    */
  def dedupDocs(spark: SparkSession, seed: Long, d: Docs, partitions: Int): DataFrame = {
    val b = col("id")
    val size = draw(seed, 10, d.maxFamily, b) + 1
    val families = spark.range(0, d.base, 1, partitions)
      .select(b, text(seed, 20, b).as("t"), size.as("size"))
      .select(col("id").as("family"), col("t"),
        explode(sequence(lit(0), col("size") - 1)).as("r"))
      .select((col("family") + col("r") * ReplicaStride).as("doc_id"),
        when(col("r") === 0, col("t"))
          .otherwise(concat(col("t"), lit(" probe"), col("r").cast("string"))).as("text"),
        col("family"))
    val hotText = text(seed, 30, lit(-1L))
    val hot = spark.range(0, d.hotFamily, 1, partitions)
      .select((lit(HotBase) + col("id")).as("doc_id"),
        concat(hotText, lit(" hot"), col("id").cast("string")).as("text"),
        lit(HotBase).as("family"))
    val nulls = spark.range(0, d.nullDocs, 1, 1)
      .select((lit(NullBase) + col("id")).as("doc_id"),
        lit(null).cast("string").as("text"), (lit(NullBase) + col("id")).as("family"))
    families.unionByName(hot).unionByName(nulls)
  }

  // ------------------------------------------------------------ index corpus

  final case class Lifecycle(base: Int, batch: Int, rounds: Int,
      nearPermille: Int, exactPermille: Int, deletesPerCycle: Int)

  /** Base corpus: `base` singleton docs, ids 0 until base. */
  def indexBase(spark: SparkSession, seed: Long, l: Lifecycle): DataFrame =
    spark.range(0, l.base, 1, 4)
      .select(col("id").as("doc_id"), text(seed, 40, col("id")).as("text"))

  /** Every round's ingest batch (or, with `probe`, read-only probe
    * batch), tagged with its round. Ids rise with the round, above every
    * earlier id (the index's monotone-id rule). A `nearPermille` share
    * are near copies (suffix token) and an `exactPermille` share exact
    * copies of base docs from the lower half of the base, which no delete
    * touches; the rest are fresh text.
    * Columns: round, doc_id, text, target (the copied base id, or null).
    */
  def indexBatches(spark: SparkSession, seed: Long, l: Lifecycle, probe: Boolean): DataFrame = {
    val tag = if (probe) 60 else 50
    val id = lit(l.base.toLong + (if (probe) 5000000L else 0L)) + col("id")
    val kind = draw(seed, tag, 1000, id)
    val target = draw(seed, tag + 1, l.base / 2, id).cast("long")
    val baseText = text(seed, 40, target)
    spark.range(0, l.rounds.toLong * l.batch, 1, 1)
      .select((col("id") / l.batch).cast("int").as("round"), id.as("doc_id"),
        when(kind < l.nearPermille, concat(baseText, lit(" copy"), id.cast("string")))
          .when(kind < l.nearPermille + l.exactPermille, baseText)
          .otherwise(text(seed, tag + 2, id)).as("text"),
        when(kind < l.nearPermille + l.exactPermille, target).as("target"))
  }

  /** Every round's fixed delete-id set: distinct base docs from the upper
    * half of the base, which no batch copies.
    */
  def deleteIds(spark: SparkSession, l: Lifecycle): DataFrame = {
    val half = l.base / 2
    spark.range(0, l.rounds.toLong * l.deletesPerCycle, 1, 1)
      .select((col("id") / l.deletesPerCycle).cast("int").as("round"),
        (lit(half.toLong) + pmod(col("id"), lit((l.base - half).toLong))).as("member_id"))
  }
}

/** Size and content digest of a written parquet input. The digest covers
  * each part file's data pages, not its footer: the writer lists a
  * column's encodings in hash-set order, which differs between JVMs.
  */
object Inputs {
  def describe(dir: String, rows: Long): Seq[(String, Any)] = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { f =>
      val b = java.nio.file.Files.readAllBytes(f.toPath)
      // layout: data pages, footer, 4-byte little-endian footer length, "PAR1"
      val footer = java.nio.ByteBuffer.wrap(b, b.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      md.update(b, 0, b.length - 8 - footer)
    }
    Seq("rows" -> rows, "files" -> files.length, "bytes" -> files.map(_.length).sum,
      "data_sha256" -> md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
