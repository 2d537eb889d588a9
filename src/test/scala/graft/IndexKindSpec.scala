package graft

import graft.operators.{IndexStore, IvfIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The kind-generic lifecycle verbs, table-driven over all five index
  * kinds: the path-only dispatchers delete and vacuum every kind, the
  * vacuum folds each tombstone once, and a vacuumed index equals a
  * fresh save over its live rows — table for table, in the save-time
  * column order. A merged index records the same meta as a single
  * build. The one ingest round gives every kind the same verdict
  * shape, replay and append ≡ rebuild, and indexes no NULL id; an IVF
  * append refuses a batch that repeats an id, and every kind's replace
  * refuses one before it tombstones anything. A kindless or unknown
  * meta raises naming the op.
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

  for (k <- Seq("text", "media", "vector", "corpus"))
    test(s"$k: a merged index records the same meta keys and table " +
        "schemas as a single build") {
      val kind = kinds.find(_.name == k).get
      val (lo, hi, single, out) = (tmp(), tmp(), tmp(), tmp())
      kind.save(kind.rows.where(col("id") <= 3), lo)
      kind.save(kind.rows.where(col("id") > 3), hi)
      kind.save(kind.rows, single)
      assert(IndexStore.mergeIndexes(spark, Seq(lo, hi), out) ==
        kind.rows.count())
      val (got, want) =
        (IndexStore.readMeta(spark, out), IndexStore.readMeta(spark, single))
      assert(got.keySet == want.keySet, s"$k meta keys")
      def fields(ddl: String) =
        org.apache.spark.sql.types.StructType.fromDDL(ddl).fields
          .map(f => (f.name, f.dataType)).toSeq
      for (key <- want.keys.filter(_.startsWith("ddl_")))
        assert(fields(got(key)) == fields(want(key)), s"$k $key")
      assert(kind.tables.forall(t => want.contains(s"ddl_$t")))
    }

  /** One ingest round under test: the kind's batch — id 7 an exact
    * copy of base family 2 (a duplicate), ids 8 and 9 one novel value
    * (both admitted: a round dedups against the index only) and a NULL
    * id carrying a second novel value — the round itself, and the
    * verdict's fixed DDL.
    */
  private case class Round(
      batch: DataFrame, ingest: (DataFrame, String) => DataFrame, ddl: String)

  private def batchOf[V: scala.reflect.runtime.universe.TypeTag](
      dup: V, novel: V, nullIdNovel: V): DataFrame =
    Seq((Option(7L), dup), (Option(8L), novel), (Option(9L), novel),
      (Option.empty[Long], nullIdNovel)).toDF("id", "v")

  // no word of the base vocabulary: no BM25 term, no LSH match
  private val novelTexts = ("omega psi chi phi upsilon tau sigma rho",
    "nu xi omicron pi nu xi omicron pi")

  private def verdictDdl(id: String, best: String): String =
    s"$id BIGINT,status STRING,n_matches BIGINT,best_corpus_id BIGINT,$best"

  private lazy val rounds = Map(
    "text" -> Round(batchOf(text(2), novelTexts._1, novelTexts._2),
      (df, p) => IndexStore.ingestText(df, "id", "v", p, minScoreE6 = 1L),
      verdictDdl("doc_id", "best_score_e6 BIGINT")),
    "media" -> Round(batchOf(0x1111L * 2, 0x7F7F000000000000L,
        0x00007F7F00000000L),
      (df, p) => IndexStore.ingestMedia(df, "id", "v", p),
      verdictDdl("asset_id", "best_hamming INT")),
    "vector" -> Round(batchOf(vec(2), Seq.fill(8)(-1.0),
        Seq.tabulate(8)(d => -1.0 - d)),
      (df, p) => IndexStore.ingestVector(df, "id", "v", p, threshold = 0.9),
      verdictDdl("vec_id", "best_cos DOUBLE")),
    "corpus" -> Round(batchOf(text(2), novelTexts._1, novelTexts._2),
      (df, p) => IndexStore.ingestCorpus(df, "id", "v", p),
      verdictDdl("doc_id", "best_jaccard DOUBLE")))

  private def statuses(verdict: DataFrame): Map[Any, String] =
    verdict.collect().map(r => r.get(0) -> r.getString(1)).toMap

  test("a NULL batch id gets no verdict row on any ingest round, and is " +
      "not indexed") {
    for ((k, round) <- rounds) {
      val kind = kinds.find(_.name == k).get
      val path = tmp()
      kind.save(kind.rows, path)
      assert(statuses(round.ingest(round.batch, path)) ==
        Map(7L -> "duplicate", 8L -> "admitted", 9L -> "admitted"), k)
      assert(kind.liveIds(path) == (1L to 9L).toSet - 7L, k)
    }
  }

  for (k <- Seq("text", "media", "vector", "corpus"))
    test(s"$k: the ingest round's verdict has the fixed schema, a replay " +
        "returns the same verdicts, and the index equals a fresh save over " +
        "base ∪ admitted") {
      val (kind, round) = (kinds.find(_.name == k).get, rounds(k))
      val batch = round.batch.where(col("id").isNotNull)
      val path = tmp()
      kind.save(kind.rows, path)
      val first = round.ingest(batch, path)
      def fields(schema: org.apache.spark.sql.types.StructType) =
        schema.fields.map(f => (f.name, f.dataType)).toSeq
      assert(fields(first.schema) ==
        fields(org.apache.spark.sql.types.StructType.fromDDL(round.ddl)))
      val verdicts = first.collect().toSet
      assert(round.ingest(batch, path).collect().toSet == verdicts,
        "a replayed round reproduces its verdicts")
      val admitted = verdicts.collect {
        case r if r.getString(1) == "admitted" => r.getLong(0)
      }
      val fresh = tmp()
      kind.save(kind.rows.unionByName(
        batch.where(col("id").isin(admitted.toSeq: _*))), fresh)
      kind.tables.foreach { t =>
        val got = spark.read.parquet(IndexStore.tableDir(spark, path, t))
        val want = spark.read.parquet(IndexStore.tableDir(spark, fresh, t))
        assert(digest(got, want.columns.toSeq) ==
          digest(want, want.columns.toSeq), s"$k/$t ingest ≢ fresh save")
      }
    }

  test("appendIvf refuses a batch that repeats an id before writing; a " +
      "replaceIvfMembers that trips it lands on its corrected retry") {
    val kind = kinds.find(_.name == "ivf").get
    val path = tmp()
    kind.save(kind.rows, path)
    val repeated = Seq((100L, vec(1)), (100L, vec(2))).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      IndexStore.appendIvf(repeated, "id", "v", path))
    assert(e.getMessage == "requirement failed: IndexStore.appendIvf: " +
      "the batch repeats 1 id(s); appending it would double-count their " +
      "vectors in every probe — dedupe the batch")
    assert(kind.liveIds(path) == (1L to 6L).toSet)
    assert(IndexStore.checkIndex(spark, path).isEmpty)
    // the replace raises before its tombstone; the corrected batch runs
    // as a fresh replace (tombstone + append)
    intercept[IllegalArgumentException](IndexStore.replaceIvfMembers(
      repeated, "id", "v", path, Seq(6L).toDF("id")))
    assert(kind.liveIds(path) == (1L to 6L).toSet)
    assert(IndexStore.replaceIvfMembers(
      Seq((100L, vec(1)), (101L, vec(2))).toDF("id", "v"), "id", "v", path,
      Seq(6L).toDF("id")) == ((1L, 2L)))
    assert(kind.liveIds(path) == (1L to 5L).toSet ++ Set(100L, 101L))
    assert(IndexStore.checkIndex(spark, path).isEmpty)
  }

  for (k <- Seq("text", "media", "vector", "corpus", "ivf"))
    test(s"$k: a replace batch that repeats an id raises before the " +
        "tombstone and leaves the index unchanged") {
      val kind = kinds.find(_.name == k).get
      val path = tmp()
      kind.save(kind.rows, path)
      def tables = kind.tables.map { t =>
        val d = spark.read.parquet(IndexStore.tableDir(spark, path, t))
        digest(d, d.columns.toSeq)
      }
      val before = tables
      val repeated = kind.rows.where(col("id").isin(1L, 2L))
        .withColumn("id", lit(100L))
      val e = intercept[IllegalArgumentException](IndexStore.replaceInIndex(
        spark, path, repeated, "id", "v", Seq(6L).toDF("id")))
      assert(e.getMessage.contains("replacement batch repeats 1 id(s)"),
        e.getMessage)
      assert(kind.liveIds(path) == (1L to 6L).toSet)
      assert(tables == before)
      assert(IndexStore.checkIndex(spark, path).isEmpty)
    }

  test("vector: checkIndex reports members without reps as unhealable " +
      "and reps without blocks as healable") {
    val path = tmp()
    kinds.find(_.name == "vector").get.save(withFamilies(vec).toDF("id", "v"),
      path)
    assert(IndexStore.checkIndex(spark, path).isEmpty)
    def findings() = IndexStore.checkIndex(spark, path)
      .map(f => (f.table, f.check, f.severity, f.detail))
    val lost = ("members", "group-key-coverage", "unhealable",
      "1 member group(s) have no reps row — group vector lost; rebuild or " +
        "prune")
    Seq((99L, 99L)).toDF("rep_id", "member_id").write.mode("append")
      .parquet(IndexStore.tableDir(spark, path, "members"))
    assert(findings() == Seq(lost))
    Seq((98L, vec(9))).toDF("rep_id", "v").write.mode("append")
      .parquet(IndexStore.tableDir(spark, path, "reps"))
    assert(findings() == Seq(lost, ("reps", "block-coverage", "healable",
      "1 rep(s) lack block rows — the next appendVectorIndex heals them")))
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
      "describeIndex" -> (p => IndexStore.describeIndex(spark, p)),
      "checkIndex" -> (p => IndexStore.checkIndex(spark, p)))
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
