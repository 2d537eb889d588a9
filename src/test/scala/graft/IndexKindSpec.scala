package graft

import graft.operators.{IndexStore, IvfIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The kind-generic lifecycle verbs, table-driven over all five index
  * kinds: the path-only dispatchers delete and vacuum every kind, the
  * vacuum folds each tombstone once, and a vacuumed index equals a
  * fresh save over its live rows — table for table, in the save-time
  * column order. A kindless or unknown meta raises naming the op.
  */
class IndexKindSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_kindspec").toString

  /** One kind under test: its save over (id, v) rows, the live member
    * ids its load serves, and its raw tables (deletes excluded).
    */
  private case class Kind(
      name: String, rows: DataFrame, tables: Seq[String],
      save: (DataFrame, String) => Unit, liveIds: String => Set[Long])

  // Fixture shape shared by every kind: ids 2/5 and 3/4 carry equal
  // values (an exact-dup family for the grouping kinds, rep = min id).
  // Deleting 3, 4, 5, 6 kills family {3, 4} and singleton 6 and
  // thins family {2, 5} without touching its rep, so a fresh save over
  // the live ids {1, 2} is the exact target of the vacuum.
  private val deleted = Seq(3L, 4L, 5L, 6L)
  private val live = Set(1L, 2L)
  private def withFamilies[V](v: Int => V): Seq[(Long, V)] =
    Seq(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 6)
      .map { case (id, k) => (id.toLong, v(k)) }

  private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
  private def text(k: Int): String =
    (0 until 12).map(i => words((i * k + k) % words.size)).mkString(" ")
  private def vec(k: Int): Seq[Double] =
    (0 until 8).map(d => if (d % 4 == k % 4) 4.0 + k else 0.5 * k)
  private val centroids = Array(Array.fill(8)(0.0), Array.fill(8)(5.0))

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(col(c)).as[Long].collect().toSet

  private lazy val kinds = Seq(
    Kind("text", withFamilies(text).toDF("id", "v"), Seq("postings", "doclen"),
      (df, p) => IndexStore.saveTextIndex(df, "id", "v", p),
      p => ids(IndexStore.loadTextIndex(spark, p).doclen, "doc_id")),
    Kind("media", withFamilies(k => 0x1111L * k).toDF("id", "v"),
      Seq("bands", "members"),
      (df, p) => IndexStore.saveMediaIndex(df, "id", "v", p),
      p => ids(IndexStore.loadMediaIndex(spark, p).members, "member_id")),
    Kind("vector", withFamilies(vec).toDF("id", "v"),
      Seq("blocks", "reps", "members"),
      (df, p) => IndexStore.saveVectorIndex(df, "id", "v", p, dim = 8),
      p => ids(IndexStore.loadVectorIndex(spark, p).members, "member_id")),
    Kind("corpus", withFamilies(text).toDF("id", "v"),
      Seq("bands", "sets", "members"),
      (df, p) => IndexStore.saveCorpusIndex(df, "id", "v", p),
      p => ids(IndexStore.loadCorpusIndex(spark, p).members, "member_id")),
    Kind("ivf", withFamilies(vec).toDF("id", "v"), Seq("assign", "centroids"),
      (df, p) => IndexStore.saveIvf(IvfIndex.Model(centroids,
        IvfIndex.assign(df, "id", "v", centroids)), p),
      p => ids(IndexStore.loadIvf(spark, p).assignments, "id")))

  /** Row count and hash sum of a raw table, columns taken in `order` —
    * the benchmark's append ≡ rebuild digest.
    */
  private def digest(t: DataFrame, order: Seq[String]): (Long, BigDecimal) = {
    val r = t.select(xxhash64(order.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  for (k <- Seq("text", "media", "vector", "corpus", "ivf"))
    test(s"$k: deleteFromIndex hides the ids, vacuumIndex folds them " +
        "once, and the vacuumed tables equal a fresh save over the live " +
        "rows in save-time column order") {
      val kind = kinds.find(_.name == k).get
      val path = tmp()
      kind.save(kind.rows, path)
      assert(IndexStore.deleteFromIndex(spark, path, deleted.toDF("id")) ==
        deleted.size.toLong)
      assert(kind.liveIds(path) == live)
      assert(IndexStore.vacuumIndex(spark, path) == deleted.size.toLong)
      assert(IndexStore.vacuumIndex(spark, path) == 0L,
        "a second vacuum has nothing left to fold")
      assert(kind.liveIds(path) == live)
      val fresh = tmp()
      kind.save(kind.rows.where(col("id").isin(live.toSeq: _*)), fresh)
      kind.tables.foreach { t =>
        val got = spark.read.parquet(IndexStore.tableDir(spark, path, t))
        val want = spark.read.parquet(IndexStore.tableDir(spark, fresh, t))
        assert(got.columns.toSeq == want.columns.toSeq,
          s"$k/$t column order after vacuum")
        assert(digest(got, want.columns.toSeq) ==
          digest(want, want.columns.toSeq), s"$k/$t vacuum ≢ fresh save")
      }
    }

  test("a kindless or unknown meta raises naming the dispatching op") {
    def indexWithMeta(kv: (String, String)): String = {
      val p = tmp()
      Seq(kv).toDF("key", "value").coalesce(1).write.parquet(s"$p/meta")
      p
    }
    val ops: Seq[(String, String => Any)] = Seq(
      "deleteFromIndex" -> (p =>
        IndexStore.deleteFromIndex(spark, p, Seq(1L).toDF("id"))),
      "vacuumIndex" -> (p => IndexStore.vacuumIndex(spark, p)),
      "replaceInIndex" -> (p => IndexStore.replaceInIndex(spark, p,
        Seq((9L, "x")).toDF("id", "v"), "id", "v", Seq(1L).toDF("id"))),
      "mergeIndexes" -> (p => IndexStore.mergeIndexes(spark, Seq(p, tmp()),
        tmp())),
      "compactIndex" -> (p => IndexStore.compactIndex(spark, p)),
      "describeIndex" -> (p => IndexStore.describeIndex(spark, p)))
    for ((op, run) <- ops) {
      val kindless = indexWithMeta("built_by" -> "hand")
      val e1 = intercept[IllegalArgumentException](run(kindless))
      assert(e1.getMessage ==
        s"IndexStore.$op: $kindless/meta carries no index kind")
      val e2 = intercept[IllegalArgumentException](
        run(indexWithMeta("kind" -> "bogus")))
      assert(e2.getMessage == s"IndexStore.$op: unknown index kind 'bogus'")
    }
  }
}
