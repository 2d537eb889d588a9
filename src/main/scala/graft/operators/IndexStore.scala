package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet persistence + incremental maintenance for the three ANN /
  * near-dup indexes (SURVEY §3.3 "100 TB posture"): the MinHash-LSH
  * corpus index ([[Dedup.CorpusIndex]]), the sign-pattern vector index
  * ([[Similarity.VectorIndex]]), and the IVF model ([[IvfIndex.Model]]).
  *
  * At 100 TB you do not rebuild an index per job: you build it ONCE,
  * persist it, and probe it from every batch and stream forever,
  * appending each day's admitted documents/vectors. This module is that
  * lifecycle. No reference counterpart (the reference is a clustering
  * lib; only its fitted model persists) — this is north-star surface.
  *
  * Design invariants:
  *  - **Append ≡ rebuild.** The stored band/block tables are UNCAPPED;
  *    the `maxBucketSize` cap is applied at LOAD ([[Dedup.capCorpusTables]])
  *    over the full merged table. Capping before persisting would freeze
  *    cap decisions made against the OLD bucket sizes — a bucket that
  *    grows past the cap after appends must be dropped everywhere, and
  *    one that was capped only because of since-merged duplicates must
  *    come back. The cap pass is one partial-count aggregation over a
  *    narrow (id + two longs) table — cheap relative to any probe.
  *  - **Monotone ids.** Append assumes (and ENFORCES, raising loudly)
  *    that new ids sort strictly after every existing member id — the
  *    natural shape of an ingest pipeline with increasing doc ids. This
  *    is what keeps group representatives stable: a rebuilt index picks
  *    rep = min member id per duplicate group, and with monotone ids an
  *    existing rep can never lose that minimum to an appended member.
  *  - **Exact-duplicate merge.** A new doc whose text (or vector)
  *    exactly equals an existing representative's joins that rep's
  *    member list instead of forming a new group — the sets/reps table
  *    carries the group key (text / vector) precisely so this merge is
  *    an equi-join, not a rebuild.
  *  - **Layout.** Each table is written repartitioned by its probe join
  *    key (band_hash / corpus_id / list_id), so files are clustered for
  *    row-group pruning. On a real cluster with a metastore, the same
  *    tables belong in `bucketBy(key).sortBy(key)` tables so the probe
  *    equi-join is shuffle-free on the corpus side; path-parquet keeps
  *    this module metastore-free while preserving the storage layout.
  *  - Build parameters (shingle/hash/band counts, hyperplane geometry)
  *    ride in a `meta` table so load/append can never drift from the
  *    parameters the index was built with.
  *
  * IVF append is deliberately different: the coarse quantizer is NOT
  * retrained (that would re-partition every existing list); new vectors
  * are assigned to the EXISTING centroids and appended to the inverted
  * lists — the standard IVF maintenance contract (retrain on compaction
  * cadence, not per batch). Its invariant is therefore "append ≡
  * assign-all with the same centroids", proven in IndexStoreSpec.
  */
object IndexStore {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.IndexStore")

  // ---------------------------------------------------------------
  // meta
  // ---------------------------------------------------------------

  private def writeMeta(
      spark: SparkSession, path: String, kv: Seq[(String, String)]): Unit = {
    import spark.implicits._
    kv.toDF("key", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    evictMeta(path)
  }

  /** The persisted build parameters of the index at `path` (public:
    * callers of the *Indexed probe operators need them to derive
    * matching query-side keys).
    *
    * Read DIRECTLY with parquet-mr on the driver, not through a Spark
    * scan: meta is a handful of rows consulted up to ~14 times per
    * lifecycle op (every metaOf/kind dispatch), and the Spark path
    * costs TWO scheduler round-trips per consult (schema-inference
    * footer job + collect job) — measured at scale-irrelevant data but
    * real per-job latency (round-16 profile: the delete/merge
    * lifecycles ran ~190 tiny jobs, meta reads ~28 of them). The same
    * parquet files and bytes are read either way; at 100 TB this is
    * also the right posture — metadata lookups should never occupy the
    * cluster scheduler.
    *
    * Missing or torn meta raises `java.io.FileNotFoundException` (NOT
    * the `AnalysisException` the pre-round-16 Spark-scan path threw —
    * callers matching on the old type must update).
    */
  def readMeta(spark: SparkSession, path: String): Map[String, String] = {
    val dir = new org.apache.hadoop.fs.Path(path, "meta")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      throw new java.io.FileNotFoundException(
        s"IndexStore: no meta table at $dir — not an index here (or a " +
          "rebuild's reset is in flight; meta is the commit record)")
    val parts = fs.listStatus(dir)
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
    if (parts.isEmpty)
      throw new java.io.FileNotFoundException(
        s"IndexStore: meta table at $dir holds no data files — a torn " +
          "write; rebuild the index (meta is written last)")
    // MEMOIZED per meta-file signature (round-16 verdict ask #8): a
    // lifecycle op consults meta up to ~20× (metaOf + one per
    // [[readTable]]); the listing above runs on EVERY call and is what
    // validates the cache — a meta rewrite changes the part files'
    // names/mtimes/lengths, and this JVM's meta writers also evict the
    // entry ([[evictMeta]]). Only the parquet-mr open+parse of each
    // part file is skipped.
    val sig = parts.toSeq
      .map(s => (s.getPath.toString, s.getModificationTime, s.getLen))
      .sortBy(_._1)
    val cached = metaCache.synchronized(metaCache.get(dir.toString))
    if (cached != null && cached._1 == sig) cached._2
    else {
      val m = parts.toSeq.map(_.getPath).flatMap { p =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
          .withConf(fs.getConf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => g.getString("key", 0) -> g.getString("value", 0))
          .toList
        finally reader.close()
      }.toMap
      metaCache.synchronized(metaCache.put(dir.toString, (sig, m)))
      m
    }
  }

  private type MetaEntry = (Seq[(String, Long, Long)], Map[String, String])

  /** [[readMeta]] cache: meta-dir path → (part-file signature, parsed
    * map). An LRU bounded at 256 entries — scratch indexes come and go
    * within a session and must not accumulate entries forever — and
    * guarded by its own lock (every access goes through
    * `metaCache.synchronized`).
    */
  private val metaCache =
    new java.util.LinkedHashMap[String, MetaEntry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, MetaEntry]): Boolean = size() > 256
    }

  /** Drop `path`'s [[metaCache]] entry. Called by the meta writer and
    * by [[resetGenerations]], which deletes meta: the signature check
    * alone would miss a rewrite that reuses the part-file names and
    * lengths within the filesystem's mtime granularity.
    */
  private def evictMeta(path: String): Unit = metaCache.synchronized {
    metaCache.remove(new org.apache.hadoop.fs.Path(path, "meta").toString): Unit
  }

  /** `ddl_<table> -> schema DDL` meta entries, recorded by every save*
    * builder (round-16 optimization): with the write-time schema in
    * meta, every internal table read can pass an explicit schema and
    * skip the per-read footer-inference Spark job — ~1 scheduler
    * round-trip per read, ~20 reads per lifecycle op (the delete/merge
    * lifecycle queries measured ~190 tiny jobs each). Appends never
    * change a table's schema (pure parquet appends of the same
    * derivations), and compaction/vacuum rewrite what they read, so
    * the save-time DDL stays valid for the index's whole life; a
    * rebuild rewrites meta with it.
    */
  private def ddlEntries(tables: (String, DataFrame)*): Seq[(String, String)] =
    tables.map { case (t, df) => s"ddl_$t" -> df.schema.toDDL }

  /** Read an index raw table through the generation-resolved `dir`,
    * with the save-time recorded schema when meta carries one (see
    * [[ddlEntries]]) — falls back to normal schema inference for
    * tables without a recording (pre-recording indexes, `deletes`,
    * graveyards, merged-index metas that predate their tables).
    */
  private def readTable(
      spark: SparkSession, path: String, dir: String => String,
      t: String): DataFrame = {
    // fall back to inference ONLY when the meta dir is absent entirely
    // (legacy/merged-in-progress locations); a PRESENT-but-empty meta is
    // the torn-write shape and must keep raising loudly even when this
    // read is the op's first meta consult (round-16 ADVICE) — so probe
    // existence first and let readMeta's raise propagate otherwise.
    val metaDir = new org.apache.hadoop.fs.Path(path, "meta")
    val ddl =
      if (!fsOf(spark, path).exists(metaDir)) None
      else readMeta(spark, path).get(s"ddl_$t")
    ddl match {
      case Some(d) => spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(d))
        .parquet(dir(t))
      case None => spark.read.parquet(dir(t))
    }
  }

  private def metaOf(
      spark: SparkSession, path: String, kind: String): Map[String, String] = {
    val m = readMeta(spark, path)
    require(m.get("kind").contains(kind),
      s"IndexStore: $path holds a '${m.getOrElse("kind", "?")}' index, " +
        s"expected '$kind'")
    m
  }

  /** The monotone-id append contract as a 1-row (__ids_violated
    * boolean) aggregate: every id in `incoming` must sort strictly
    * after every id in `existing` (both single-column frames; an empty
    * `existing` — the first append into a fresh index — passes). ONE
    * union-tagged aggregation (round-17, guide §2.4 — fewer
    * jobs/action): the former two 1-row aggregates + broadcast +
    * cross-of-one-row cost ~4 tiny AQE stage-jobs per append; tagging
    * the rows and folding both extrema in one aggregation halves that.
    * Comparison stays in SQL (type-generic, never driver-side) and
    * null semantics match the old crossJoin/where exactly: either side
    * empty → null extremum → NULL comparison → not violated. Kept a
    * DataFrame so append bodies can cross it with their heal-coverage
    * identity and pay ONE driver action for both guards
    * ([[requireIdsAfter]] is the standalone check).
    */
  private def idsAfterAgg(
      existing: DataFrame, incoming: DataFrame): DataFrame =
    existing
      .select(col(existing.columns.head).as("__id"), lit(0).as("__t"))
      .unionByName(incoming
        .select(col(incoming.columns.head).as("__id"), lit(1).as("__t")))
      .agg(max(when(col("__t") === 0, col("__id"))).as("__mx"),
        min(when(col("__t") === 1, col("__id"))).as("__mn"))
      .select(coalesce(col("__mn") <= col("__mx"), lit(false))
        .as("__ids_violated"))

  private def requireIdsAfterChecked(violated: Boolean, op: String): Unit =
    require(!violated,
      s"IndexStore.$op: appended ids must sort strictly after every id " +
        "already in the index (monotone-ingest contract — it is what " +
        "keeps duplicate-group representatives stable so append equals " +
        "rebuild); re-id the batch or rebuild the index")

  private def requireIdsAfter(
      existing: DataFrame, incoming: DataFrame, op: String): Unit =
    requireIdsAfterChecked(
      idsAfterAgg(existing, incoming).head().getBoolean(0), op)

  /** Restrict screen matches to PRE-BATCH corpus ids. Under the
    * monotone-id contract every legitimately indexed id sorts strictly
    * below the batch's minimum id, so a match at-or-above it can only be
    * the batch seeing its OWN admissions through a replayed round (the
    * streaming ingest loops are at-least-once: a crash between the
    * index append and the verdict write re-runs the round against an
    * index that already contains the batch). Filtering those out makes
    * the screen REPLAY-INVARIANT — the re-run reproduces the original
    * verdicts instead of recording formerly-admitted assets as
    * duplicates of themselves — and is a no-op on a first run, by the
    * same contract. One broadcast 1-row aggregate, no extra shuffle.
    */
  private[graft] def preBatchMatches(
      matches: DataFrame, batch: DataFrame, idCol: String): DataFrame = {
    val mn = batch.agg(min(col(idCol)).as("__batch_min"))
    matches.crossJoin(broadcast(mn))
      .where(col("corpus_id") < col("__batch_min"))
      .drop("__batch_min")
  }

  /** Run `append` (called with the subset of `admitted` to index) for
    * an ingest round's admissions unless the round is a REPLAY whose
    * append already happened. Three dispositions from one distributed
    * aggregate over (admitted min/max, index max) — never a driver-side
    * comparison of unknown id types:
    *  - FRESH (every admitted id above the index max, or empty index):
    *    append everything; the append's own monotone guard re-verifies.
    *  - REPLAY-SHAPED (every admitted id at-or-below the index max):
    *    under the monotone contract this can only be a re-run of a
    *    round whose append landed before the crash — verify membership
    *    (semi-join, only in this rare branch) and skip the append
    *    instead of tripping the monotone guard. A replay whose original
    *    append pushed an LSH bucket past the load-time cap can
    *    legitimately re-screen a formerly-REJECTED doc as admitted (the
    *    grown bucket is dropped wholesale at load): such cap-flipped
    *    ids are not members — the monotone contract constrains INDEXED
    *    ids, so a rejected (never-indexed) batch id may sit anywhere in
    *    the batch's range, below or above the index max. Flipped ids
    *    at-or-below the max are tolerated un-appended (appending them
    *    would break monotonicity; the leakage is bounded to the
    *    replayed batch — later copies carry fresh ids, screen on the
    *    fresh path, and index normally). Only a replay-shaped batch
    *    with NO admitted id present raises — that is not a replay but
    *    a reused id range.
    *  - STRADDLING ids (some at-or-below the max, some above): the
    *    same cap-flip replay when the flipped doc holds an id ABOVE
    *    the index max (the original admissions sit at-or-below it, the
    *    flipped extra above — neither disposition alone matches), so
    *    membership of the at-or-below subset decides: at least one
    *    member proves the replay (the original admissions are always
    *    members; non-members in that subset are below-max cap-flips,
    *    tolerated as above), and the above-max remainder — all
    *    cap-flipped, never indexed, monotone-safe by construction — is
    *    appended so the leakage shrinks to the below-max flips only.
    *    A straddling batch whose at-or-below subset has no member at
    *    all is a reused id range and raises; raising on EVERY straddle
    *    (the pre-round-11 posture) wedged the at-least-once loop —
    *    each retry reproduced the same legitimate straddle.
    * An all-duplicate round (nothing admitted) appends nothing and
    * writes no files.
    */
  private def appendAdmittedIdempotent(
      admitted: DataFrame,
      idCol: String,
      existingIds: DataFrame,
      op: String)(append: DataFrame => Unit): Unit = {
    // ONE union-tagged aggregate for all four extrema (round-17, the
    // requireIdsAfter fusion): admitted count/min/max and the index max
    // fold in a single action instead of two aggregates + a broadcast
    // cross. Null/empty semantics unchanged (count of when() skips the
    // existing-side rows; empty sides yield null extrema).
    val r = admitted.select(col(idCol).as("__id"), lit(1).as("__t"))
      .unionByName(existingIds
        .select(col(existingIds.columns.head).as("__id"), lit(0).as("__t")))
      .agg(count(when(col("__t") === 1, lit(1))).as("__n"),
        min(when(col("__t") === 1, col("__id"))).as("__amn"),
        max(when(col("__t") === 1, col("__id"))).as("__amx"),
        max(when(col("__t") === 0, col("__id"))).as("__emx"))
      .select(col("__n"),
        (col("__emx").isNull || col("__amn") > col("__emx")).as("__fresh"),
        (col("__emx").isNotNull && col("__amx") <= col("__emx")).as("__replay"))
      .head()
    val n = r.getLong(0)
    if (n == 0L) ()
    else if (r.getBoolean(1)) append(admitted)
    else {
      // replay-shaped or straddling: legitimate only as a replay, and
      // a replay always leaves the original admissions as members
      // at-or-below the index max — so membership of that subset is
      // the verification for both shapes (rare branch: one semi-join).
      // Both counts are taken, not just a limit-1 existence probe: a
      // reused id range that merely OVERLAPS the index also produces
      // members, so the non-member count is surfaced (logged below) —
      // bounded non-membership is the documented cap-flip tolerance,
      // but a large count on a round that was NOT a retry is the
      // operator's one observable signal of id reuse.
      val emx = existingIds
        .agg(max(col(existingIds.columns.head)).as("__emx"))
      val withEmx = admitted.crossJoin(broadcast(emx))
      val atOrBelow = withEmx.where(col(idCol) <= col("__emx"))
        .select(col(idCol).as("__aid"))
        .localCheckpoint(true)
      val subTotal = atOrBelow.count()
      val subMembers = atOrBelow
        .join(existingIds.toDF("__aid"), Seq("__aid"), "left_semi")
        .count()
      val verified = subMembers > 0
      if (verified && subMembers < subTotal)
        log.warn(
          s"IndexStore.$op: replay verified by $subMembers member id(s), " +
            s"but ${subTotal - subMembers} admitted id(s) at-or-below the " +
            "index max are NOT members — tolerated as load-time cap flips " +
            "(a formerly-rejected doc re-admitted after its grown LSH " +
            "bucket was dropped at load; leakage bounded to this batch). " +
            "If this round was NOT an at-least-once retry of a crashed " +
            "round, this is a reused id range silently skipping documents " +
            "— re-id the batch.")
      if (!verified) throw new IllegalArgumentException(
        if (r.getBoolean(2))
          s"IndexStore.$op: every admitted id sorts at-or-below the " +
            "index's max id but NONE is a member — this is not a " +
            "replay, it is a reused id range (monotone-ingest contract " +
            "violation); re-id the batch or rebuild the index"
        else
          s"IndexStore.$op: admitted ids straddle the index's max id " +
            "and none at-or-below it is a member — not a replay (whose " +
            "original admissions would be members) but a reused or " +
            "out-of-order id range (monotone-ingest contract " +
            "violation); re-id the batch or rebuild the index")
      // verified replay: the at-or-below admissions are already indexed
      // (non-members among them are the documented below-max cap-flip
      // tolerance, not corruption); any above-max remainder holds the
      // cap-flipped formerly-rejected docs — never indexed, ids above
      // the max, so appending them is monotone-safe and closes the leak
      val remainder = withEmx.where(col(idCol) > col("__emx")).drop("__emx")
      if (remainder.limit(1).count() > 0) append(remainder)
    }
  }

  /** Raise if member rows reference group ids with no group-key row —
    * the UNHEALABLE torn-append shape for the corpus/vector indexes: a
    * crash between the members append and the sets/reps append loses
    * the group's text/vector, so the orphans can never be probed and
    * never healed from members alone (unlike the media index, whose
    * member rows carry the signature itself — see
    * [[appendMediaIndex]]'s lazy heal). Detection at load keeps every
    * screen built on a consistent index; recovery is a rebuild over the
    * full corpus or pruning the orphaned id range from members/.
    */
  private def requireMemberCoverage(
      members: DataFrame, groups: DataFrame, keyCol: String,
      groupTable: String, path: String): Unit = {
    // fast path: ONE union-tagged aggregate (round-17 — was two partial
    // aggregates + a broadcast cross, ~2 extra AQE stage-jobs). Group-key
    // rows are unique per group and always written AFTER their member
    // rows (members-first crash posture), so the group-table row count
    // equals the members' distinct group count IFF no member group is
    // orphaned — the anti-join runs only on the failure path, to count
    // the orphans for the message.
    val chk = members.select(col(keyCol).as("__k"), lit(0).as("__t"))
      .unionByName(groups.select(col(keyCol).as("__k"), lit(1).as("__t")))
      .agg(count_distinct(when(col("__t") === 0, col("__k"))).as("__mg"),
        count(when(col("__t") === 1, lit(1))).as("__gs"))
      .head()
    if (chk.getLong(0) != chk.getLong(1)) {
      val orphans = members.select(col(keyCol)).distinct()
        .join(groups.select(col(keyCol)), Seq(keyCol), "left_anti")
        .count()
      throw new IllegalArgumentException(
        s"IndexStore: index at $path is torn — $orphans member group " +
          s"id(s) have no $groupTable row (${chk.getLong(0)} member " +
          s"groups vs ${chk.getLong(1)} $groupTable rows; a crash " +
          s"between the members append and the $groupTable append lost " +
          "the group key, so these members are permanently unreachable " +
          "and unhealable); rebuild the index over the full corpus or " +
          "prune the orphaned id range from members/")
    }
  }

  // ---------------------------------------------------------------
  // MinHash-LSH corpus index (Dedup.CorpusIndex)
  // ---------------------------------------------------------------

  /** Build and persist the corpus index raw tables under `path`
    * (`meta/`, `bands/`, `sets/`, `members/`). Overwrites.
    */
  def saveCorpusIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16): Unit = {
    val spark = corpus.sparkSession
    withIndexLease(spark, path, "saveCorpusIndex") {
      resetGenerations(spark, path)
      val gc = Dedup.textGroups(corpus, idCol, textCol)
      val (bands, sets, members) =
        Dedup.corpusTablesFromGroups(gc, shingleSize, numHashes, numBands)
      bands.repartition(col("band_hash"))
        .write.mode("overwrite").parquet(s"$path/bands")
      sets.repartition(col("corpus_id"))
        .write.mode("overwrite").parquet(s"$path/sets")
      members.repartition(col("corpus_id"))
        .write.mode("overwrite").parquet(s"$path/members")
      // meta LAST — the rebuild's commit record (see [[resetGenerations]])
      writeMeta(spark, path, Seq(
        "kind" -> "corpus", "shingle_size" -> shingleSize.toString,
        "num_hashes" -> numHashes.toString, "num_bands" -> numBands.toString)
        ++ ddlEntries("bands" -> bands, "sets" -> sets, "members" -> members))
    }
  }

  /** Load a persisted corpus index, applying the bucket cap over the
    * CURRENT (post-append) band table — see the class doc for why the
    * cap lives here and not in the files. With `check` on (the
    * default), raises on the unhealable torn-append shape (member rows
    * whose group has no sets row — the group text is lost, see
    * [[requireMemberCoverage]]); the one-aggregate cost is narrow-column
    * work, disable only on a hot probe path over an index some other
    * loader already validated. The OTHER torn shape (sets row without
    * band rows) is deliberately not raised: it is merely under-probed,
    * and the next [[appendCorpusIndex]] heals it from the stored text.
    */
  def loadCorpusIndex(
      spark: SparkSession,
      path: String,
      maxBucketSize: Int = 1000,
      check: Boolean = true): Dedup.CorpusIndex = {
    metaOf(spark, path, "corpus")
    val dir = tableDirs(spark, path)
    val sets = readTable(spark, path, dir, "sets")
    val members = readTable(spark, path, dir, "members")
    // coverage on the RAW members (see [[loadVectorIndex]]: a
    // fully-deleted group is a tombstone state, not a torn append)
    if (check) requireMemberCoverage(members, sets, "corpus_id", "sets", path)
    Dedup.capCorpusTables(
      readTable(spark, path, dir, "bands"), sets,
      applyDeletes(members, readDeletes(spark, path, dir), "member_id"),
      maxBucketSize)
  }

  /** Append a batch of new documents to a persisted corpus index (pure
    * parquet appends — nothing existing is rewritten). New docs whose
    * text equals an existing representative's merge into that group
    * (member rows only); novel texts form new groups with their own
    * band/set/member rows. Build parameters come from the index's meta.
    * After this, `loadCorpusIndex` ≡ `saveCorpusIndex` over the full
    * corpus (IndexStoreSpec proves it on a fixture).
    *
    * Crash posture: each table append is one atomic Spark write job,
    * but the SEQUENCE of three is not a transaction. The members table
    * is written FIRST — it is what the monotone-id guard reads, so a
    * re-run after any mid-sequence failure RAISES on the
    * already-appended ids instead of silently duplicating set/band rows
    * (duplicated sets would multiply probe output rows). The two torn
    * shapes divide by healability: members-without-sets loses the group
    * text — unhealable, detected and raised by [[loadCorpusIndex]];
    * sets-without-bands keeps it — every append lazily recomputes band
    * rows for ANY sets row missing band coverage (the batch's novel
    * groups plus crash orphans), the same self-heal
    * [[appendMediaIndex]] runs, restoring append ≡ rebuild with no
    * manual repair.
    */
  def appendCorpusIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    withIndexLease(spark, path, "appendCorpusIndex") {
      appendCorpusIndexBody(spark, newDocs, idCol, textCol, path,
        "appendCorpusIndex")
    }
  }

  /** [[appendCorpusIndex]]'s body, lease assumed HELD by the caller
    * ([[replaceCorpusDocs]] composes it under its one lease).
    */
  private def appendCorpusIndexBody(
      spark: SparkSession, newDocs: DataFrame, idCol: String,
      textCol: String, path: String, op: String): Unit = {
      val m = metaOf(spark, path, "corpus")
      val (shingleSize, numHashes, numBands) =
        (m("shingle_size").toInt, m("num_hashes").toInt, m("num_bands").toInt)
      // one manifest resolution for the whole append: reads and writes
      // must hit the SAME generation (the exclusivity-vs-compaction
      // contract of [[compactIndex]]; the fence after the writes converts
      // a violation to a loud raise instead of silent row loss)
      val (resolved, dir) = resolvedDirs(spark, path)
      appendFenceTestHook()
      val oldSets = readTable(spark, path, dir, "sets")
      val oldMembers = readTable(spark, path, dir, "members")
      val gn = Dedup.textGroups(newDocs, idCol, textCol)
      val idsGuard = idsAfterAgg(graveyardUnion(spark, path, dir,
          oldMembers.select(col("member_id"))),
        gn.select(explode(col("members")).as("member_id")))
      // exact-text merge: members of matched groups file under the
      // EXISTING rep (no new band/set rows — identical text means the
      // stored ones already cover it)
      val matched = gn
        .join(oldSets.select(col("text").as("__text"), col("corpus_id")),
          Seq("__text"))
        .select(col("corpus_id"), explode(col("members")).as("member_id"))
      val novel = gn
        .join(oldSets.select(col("text").as("__text")), Seq("__text"), "left_anti")
        // consumed by all three table derivations below — materialize the
        // anti-join once
        .localCheckpoint(true)
      // torn-append heal: stored sets with no band rows (a crash between
      // a prior sets append and its bands append) are invisible to every
      // probe but carry their text — recompute their bands with the
      // builder's own derivation. Fast path first: every group with ≥1
      // shingle has exactly numBands band rows, so
      // count(bands) == numBands × count(sets with shingles) proves full
      // coverage with two shuffle-free counts and the heal anti-join is
      // skipped entirely (filter-false prunes it to an empty relation —
      // the stored files are never even listed, so there is no re-list
      // race with the writes below). A shingle-less set legitimately
      // owns zero band rows, so it is excluded from BOTH the identity
      // and the heal anti-join — one such row must not permanently
      // demote every future append to the slow path. (This library's
      // own writers never produce one: null text is dropped at collapse
      // and shingling non-null text always yields ≥1 shingle — the
      // filter is defense against external/legacy table writers.) On an
      // identity mismatch the anti-join is materialized BEFORE the
      // directory-mutating writes (same race rationale as `novel`).
      val oldBands = readTable(spark, path, dir, "bands")
      val bandedSets = oldSets.where(size(col("sh")) > 0)
      // ONE driver action carries BOTH pre-write guards (round-17,
      // guide §2.4): the monotone-id aggregate and the band-coverage
      // count identity evaluate in a single head(); the id guard is
      // checked first, exactly as the sequential form raised it first —
      // both still fire before anything mutates.
      val covered = idsGuard
        .crossJoin(oldBands.select(lit(0).as("__t"))
          .unionByName(bandedSets.select(lit(1).as("__t")))
          .agg(count(when(col("__t") === 0, lit(1))).as("__b"),
            count(when(col("__t") === 1, lit(1))).as("__s")))
        .head()
      requireIdsAfterChecked(covered.getBoolean(0), op)
      val orphanedSets0 = bandedSets
        .select(col("corpus_id").as("id"), col("text").as("__text"))
        .join(oldBands.select(col("corpus_id").as("id")).distinct(),
          Seq("id"), "left_anti")
      val orphanedSets =
        if (covered.getLong(1) == numBands.toLong * covered.getLong(2))
          orphanedSets0.where(lit(false))
        else orphanedSets0.localCheckpoint(true)
      val (bands, sets, members) =
        Dedup.corpusTablesFromGroups(novel, shingleSize, numHashes, numBands)
      // members FIRST — see crash posture in the scaladoc
      members.unionByName(matched).repartition(col("corpus_id"))
        .write.mode("append").parquet(dir("members"))
      sets.repartition(col("corpus_id"))
        .write.mode("append").parquet(dir("sets"))
      bands
        .unionByName(
          Dedup.corpusBandRows(orphanedSets, shingleSize, numHashes, numBands))
        .repartition(col("band_hash"))
        .write.mode("append").parquet(dir("bands"))
      requireGenerationsUnmoved(spark, path, resolved,
        Seq("members", "sets", "bands"), op)
  }

  /** One INGEST ROUND against the persisted corpus (MinHash-LSH) index
    * — the lexical member of the ingest-round family ([[ingestMedia]]
    * perceptual, [[ingestVector]] semantic), same contract: screen the
    * batch ([[Dedup.minhashLSHJoinIndexed]], shingle/band parameters
    * from the index meta), reject every doc with jaccard ≥ `threshold`
    * against an indexed doc, append the admissions
    * ([[appendCorpusIndex]] — exact-text copies merge under their
    * existing representative), and return one verdict row per
    * NON-NULL-TEXT batch doc (null-text docs are dropped up front, no
    * verdict row — the [[ingestVector]] posture; they can never be
    * indexed, so an "admitted" verdict would be a phantom):
    * (doc_id, status admitted|duplicate, n_matches,
    * best_corpus_id, best_jaccard) with best = highest jaccard, ties
    * to the smallest corpus_id. Dedup is against the index only;
    * recall is the LSH band recall at `threshold`. The batch text is
    * tokenized twice (screen signatures + append tables) — batch-
    * sized work, the corpus is never re-tokenized.
    *
    * The round is IDEMPOTENT under at-least-once replay (the streaming
    * ingest loops' retry contract): matches are restricted to pre-batch
    * corpus ids ([[preBatchMatches]] — a replayed batch would otherwise
    * screen against its own prior admissions and record them as
    * duplicates of themselves) and a verified replay skips the append
    * instead of tripping the monotone-id guard
    * ([[appendAdmittedIdempotent]]). Re-running a completed round
    * therefore reproduces its verdicts exactly and leaves the index
    * untouched.
    */
  def ingestCorpus(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val spark = newDocs.sparkSession
    val m = metaOf(spark, path, "corpus")
    // null-text docs are dropped up front (no verdict row — the
    // [[ingestVector]] null/wrong-dim posture): they yield no shingles,
    // so left in they would be silently "admitted" yet never indexed
    // (the group collapse drops null texts), leaving a phantom verdict
    // with no index entry behind it
    val batch = newDocs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .where(col("text").isNotNull)
      .localCheckpoint(true)
    // loaded once: the screen probes it, and the replay disposition
    // reuses its members relation instead of re-listing the table
    val idx = loadCorpusIndex(spark, path, maxBucketSize)
    val matches = preBatchMatches(Dedup.minhashLSHJoinIndexed(batch,
      idx, "doc_id", "text",
      m("shingle_size").toInt, m("num_hashes").toInt,
      m("num_bands").toInt, threshold, maxBucketSize), batch, "doc_id")
    val agg = matches.groupBy(col("new_id").as("doc_id"))
      .agg(count(lit(1)).as("__n"),
        min(struct((-col("jaccard")).as("negj"), col("corpus_id"))).as("__best"))
    // materialized BEFORE the append mutates the index directories
    val verdict = batch.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__n").isNull, lit("admitted"))
          .otherwise(lit("duplicate")).as("status"),
        coalesce(col("__n"), lit(0L)).as("n_matches"),
        col("__best.corpus_id").as("best_corpus_id"),
        (-col("__best.negj")).as("best_jaccard"))
      .localCheckpoint(true)
    val admitted = batch.join(
      verdict.where(col("status") === "admitted").select(col("doc_id")),
      Seq("doc_id"))
    appendAdmittedIdempotent(admitted, "doc_id",
      idx.members.select(col("member_id")), "ingestCorpus") { adm =>
      appendCorpusIndex(adm, "doc_id", "text", path)
    }
    verdict
  }

  // ---------------------------------------------------------------
  // Perceptual-hash media index (Dedup.MediaIndex)
  // ---------------------------------------------------------------

  /** Build and persist the perceptual-hash media index under `path`
    * (`meta/`, `bands/`, `members/`). Input is (id, 64-bit signature)
    * — the hash is computed UPSTREAM (e.g. [[Multimodal.dhash64]] in a
    * decode pass) so the index is hash-agnostic: dHash, SimHash, or
    * any 64-bit fingerprint persists identically. Band rows exist once
    * per DISTINCT signature ([[Dedup.hashBandRows]]); members carry
    * every asset. Overwrites.
    */
  def saveMediaIndex(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      path: String): Unit = {
    val spark = hashes.sparkSession
    withIndexLease(spark, path, "saveMediaIndex") {
      resetGenerations(spark, path)
      // materialized ONCE: the projection feeds BOTH writes below, and
      // lazy it would re-run the upstream plan (typically a per-asset
      // perceptual decode — the expensive part) for the bands write too,
      // violating the decode-once contract the q245 lifecycle documents
      val members = hashes
        .select(col(hashCol).cast("long").as("dh"),
          col(idCol).as("member_id"))
        .where(col("dh").isNotNull)
        .localCheckpoint(true)
      members.repartition(col("dh"))
        .write.mode("overwrite").parquet(s"$path/members")
      val bandRows = Dedup.hashBandRows(members, "dh")
      bandRows.repartition(col("band_hash"))
        .write.mode("overwrite").parquet(s"$path/bands")
      // meta LAST — the rebuild's commit record (see [[resetGenerations]])
      writeMeta(spark, path, Seq("kind" -> "media")
        ++ ddlEntries("members" -> members, "bands" -> bandRows))
    }
  }

  /** Load a persisted media index, applying the bucket cap over the
    * CURRENT (post-append) band table — same placement rationale as
    * [[loadCorpusIndex]]: a cap baked into the files would go stale as
    * appends grow buckets; capping at load sees the live distribution.
    * The cap counts RAW band rows (pre-vacuum tombstoned families
    * included) — see [[vacuumMediaIndex]]'s documented edge.
    */
  def loadMediaIndex(
      spark: SparkSession,
      path: String,
      maxBucketSize: Int = 1000): Dedup.MediaIndex = {
    metaOf(spark, path, "media")
    val dir = tableDirs(spark, path)
    // tombstones ([[deleteFromMediaIndex]]) are applied to the MEMBER
    // grain only: every screen hydrates matches through members, so a
    // deleted asset can never surface; its dh's band rows (shared with
    // surviving exact-dup family members, or stale if the family is
    // empty) are harmless candidates and reclaimed by
    // [[vacuumMediaIndex]]
    Dedup.MediaIndex(
      Dedup.capBands(readTable(spark, path, dir, "bands"), maxBucketSize),
      applyDeletes(readTable(spark, path, dir, "members"),
        readDeletes(spark, path, dir), "member_id"))
  }

  /** Append a batch of newly hashed assets (pure parquet appends).
    * Signatures whose band rows are already in place contribute member
    * rows only (the exact-collapse invariant); signatures missing from
    * the band table — the batch's novel ones PLUS any orphans a crash
    * between a prior members append and its bands append left behind —
    * get band rows here, so every append lazily repairs a torn
    * predecessor. Monotone-id contract as everywhere: members is
    * written FIRST so the crash-torn state is member-rows-without-bands
    * (healed by the next append as above, and merely under-probed
    * meanwhile) rather than bands-without-members (which would emit
    * phantom corpus_ids with no member row — silently wrong matches).
    * A duplicated band row, were one ever written, would only inflate
    * load-time bucket counts: [[Dedup.hammingJoinIndexed]] dedups
    * candidate (sig, sig) pairs with `.distinct()` before re-expansion.
    * After this, `loadMediaIndex` ≡ `saveMediaIndex` over the full
    * corpus (IndexStoreSpec proves it, torn-append case included).
    */
  def appendMediaIndex(
      newHashes: DataFrame,
      idCol: String,
      hashCol: String,
      path: String): Unit = {
    val spark = newHashes.sparkSession
    withIndexLease(spark, path, "appendMediaIndex") {
      appendMediaIndexBody(spark, newHashes, idCol, hashCol, path,
        "appendMediaIndex")
    }
  }

  /** [[appendMediaIndex]]'s body, lease assumed HELD by the caller
    * ([[replaceMediaAssets]] composes it under its one lease).
    */
  private def appendMediaIndexBody(
      spark: SparkSession, newHashes: DataFrame, idCol: String,
      hashCol: String, path: String, op: String): Unit = {
      metaOf(spark, path, "media")
      val incoming = newHashes
        .select(col(hashCol).cast("long").as("dh"),
          col(idCol).as("member_id"))
        .where(col("dh").isNotNull)
        .localCheckpoint(true)
      val (resolved, dir) = resolvedDirs(spark, path)
      appendFenceTestHook()
      val oldMembers = readTable(spark, path, dir, "members")
      requireIdsAfter(graveyardUnion(spark, path, dir,
          oldMembers.select(col("member_id"))),
        incoming.select(col("member_id")), op)
      // anti-join against BANDS (not members): a signature with member
      // rows but no band rows — the torn-append orphan — is invisible to
      // hammingJoinIndexed, so band-presence is the correctness-bearing
      // predicate; membership alone is not. Materialized BEFORE the
      // members append below: novel reads the pre-append listings, and
      // leaving it lazy would race the directory mutation (append ≠
      // rebuild if re-listed files double the anti-join inputs).
      val novel = incoming.select(col("dh"))
        .unionByName(oldMembers.select(col("dh")))
        .distinct()
        .join(readTable(spark, path, dir, "bands").select(col("dh")).distinct(),
          Seq("dh"), "left_anti")
        .localCheckpoint(true)
      incoming.repartition(col("dh"))
        .write.mode("append").parquet(dir("members"))
      Dedup.hashBandRows(novel, "dh").repartition(col("band_hash"))
        .write.mode("append").parquet(dir("bands"))
      requireGenerationsUnmoved(spark, path, resolved,
        Seq("members", "bands"), op)
  }

  /** One INGEST ROUND against the persisted media index — the
    * production shape a deduplicating 100 TB pipeline runs per batch:
    * screen the freshly hashed assets against the loaded index
    * ([[Dedup.hammingJoinIndexed]]), reject everything within
    * `maxDist` of an indexed signature, append the ADMITTED assets
    * ([[appendMediaIndex]] — novel signatures grow the band table), and
    * return one verdict row per batch asset:
    * (asset_id, status admitted|duplicate, n_matches,
    * best_corpus_id, best_hamming) with best = (hamming, corpus_id)
    * lexicographic min, nulls for admitted. Because admitted assets
    * enter the index, a later ingest's duplicates include THIS batch's
    * admissions — cross-batch dedup through the growing index, with no
    * corpus rescan ever. Contract notes: dedup is against the INDEX
    * only — two mutually-near novel assets in the same batch are both
    * admitted (collapse a batch first with [[Dedup.hammingPairs]] if
    * intra-batch dedup is wanted — q251 registers exactly that
    * composition); the monotone-id append contract applies to the
    * admitted ids. Idempotent under at-least-once replay: matches are
    * restricted to pre-batch corpus ids and a verified replay skips
    * the append (see [[ingestCorpus]] — same mechanics).
    *
    * ORCHESTRATOR RETRY CONTRACT (applies to all three ingest rounds —
    * this, [[ingestCorpus]], [[ingestVector]]): a round is safe to
    * re-run from the top after ANY failure, and that is the whole
    * contract — treat a round as retryable, never as resumable. The
    * intermediate batch/verdict materializations use
    * `localCheckpoint(true)`, whose blocks live in executor storage,
    * not reliable storage: on a real cluster, executor loss mid-round
    * can fail the ROUND (truncated lineage is not recomputable), at
    * which point the orchestrator re-runs it — the replay guard makes
    * the re-run reproduce the original verdicts and skip or complete
    * the append, whether the failure hit before, between, or after
    * the index writes. What an orchestrator must NOT do is treat a
    * failed round as partially done (e.g. re-submit only "the rest
    * of" a batch under fresh ids): the guard keys on the batch's id
    * range, and a reshaped batch forfeits the replay detection.
    */
  def ingestMedia(
      newHashes: DataFrame,
      idCol: String,
      hashCol: String,
      path: String,
      maxDist: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val spark = newHashes.sparkSession
    metaOf(spark, path, "media")
    // hash once (the batch is typically decode-backed): the projection
    // feeds the screen, the verdict join, and the admitted append
    val batch = newHashes
      .select(col(idCol).as("asset_id"), col(hashCol).cast("long").as("dh"))
      .where(col("dh").isNotNull)
      .localCheckpoint(true)
    val idx = loadMediaIndex(spark, path, maxBucketSize)
    val matches = preBatchMatches(Dedup.hammingJoinIndexed(batch,
      idx, "asset_id", "dh", maxDist), batch, "asset_id")
    val agg = matches.groupBy(col("new_id").as("asset_id"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("hamming"), col("corpus_id"))).as("__best"))
    // materialized BEFORE the append below mutates the index
    // directories — a lazy verdict would re-list post-append files and
    // re-screen against an index containing the batch itself
    val verdict = batch.join(agg, Seq("asset_id"), "left")
      .select(col("asset_id"),
        when(col("__n").isNull, lit("admitted"))
          .otherwise(lit("duplicate")).as("status"),
        coalesce(col("__n"), lit(0L)).as("n_matches"),
        col("__best.corpus_id").as("best_corpus_id"),
        col("__best.hamming").as("best_hamming"))
      .localCheckpoint(true)
    val admitted = batch.join(
      verdict.where(col("status") === "admitted").select(col("asset_id")),
      Seq("asset_id"))
    appendAdmittedIdempotent(admitted, "asset_id",
      idx.members.select(col("member_id")), "ingestMedia") { adm =>
      appendMediaIndex(adm, "asset_id", "dh", path)
    }
    verdict
  }

  // ---------------------------------------------------------------
  // Sign-pattern LSH vector index (Similarity.VectorIndex)
  // ---------------------------------------------------------------

  /** Build and persist the vector index raw tables under `path`
    * (`meta/`, `blocks/`, `reps/`, `members/`). Overwrites.
    */
  def saveVectorIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int,
      numBlocks: Int = 8,
      planesPerBlock: Int = 8,
      seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    withIndexLease(spark, path, "saveVectorIndex") {
      resetGenerations(spark, path)
      val groups = vecGroups(corpus, idCol, vecCol)
      val (blocks, reps, members) = Similarity.vectorTablesFromGroups(
        groups, dim, numBlocks, planesPerBlock, seed)
      blocks.repartition(col("band_hash"))
        .write.mode("overwrite").parquet(s"$path/blocks")
      reps.repartition(col("rep_id"))
        .write.mode("overwrite").parquet(s"$path/reps")
      members.repartition(col("rep_id"))
        .write.mode("overwrite").parquet(s"$path/members")
      // meta LAST — the rebuild's commit record (see [[resetGenerations]])
      writeMeta(spark, path, Seq(
        "kind" -> "vector", "dim" -> dim.toString,
        "num_blocks" -> numBlocks.toString,
        "planes_per_block" -> planesPerBlock.toString, "seed" -> seed.toString)
        ++ ddlEntries("blocks" -> blocks, "reps" -> reps,
          "members" -> members))
    }
  }

  /** Load a persisted vector index (cap-at-load, like
    * [[loadCorpusIndex]]). With `check` on (the default), raises on the
    * unhealable torn-append shape — member rows whose rep has no reps
    * row, i.e. the group VECTOR was lost in a crash between the members
    * and reps appends (see [[requireMemberCoverage]]). The healable
    * shape (reps row without block rows) is not raised: it is merely
    * under-probed until the next [[appendVectorIndex]] recomputes the
    * missing blocks from the stored vector.
    */
  def loadVectorIndex(
      spark: SparkSession,
      path: String,
      maxBucketSize: Int = 10000,
      check: Boolean = true): Similarity.VectorIndex = {
    metaOf(spark, path, "vector")
    val dir = tableDirs(spark, path)
    val reps = readTable(spark, path, dir, "reps")
    val members = readTable(spark, path, dir, "members")
    // torn-state coverage runs on the RAW members: a fully-deleted rep
    // group legitimately has a reps row and zero LIVE members — that is
    // a tombstone state, not a torn append (vacuum prunes the group)
    if (check) requireMemberCoverage(members, reps, "rep_id", "reps", path)
    Similarity.capVectorTables(
      readTable(spark, path, dir, "blocks"), reps,
      applyDeletes(members, readDeletes(spark, path, dir), "member_id"),
      maxBucketSize)
  }

  /** Append new vectors to a persisted vector index; exact-duplicate
    * vectors merge into their existing rep group (equi-join on the
    * vector value — the same key [[Dedup.textGroups]] collapsed on).
    * Hyperplane geometry comes from the index's meta, so the appended
    * block keys are derived from the SAME planes as the stored ones.
    * Crash posture mirrors [[appendCorpusIndex]]: members first (a
    * retry raises on the monotone guard), members-without-reps is
    * unhealable and raised by [[loadVectorIndex]], and reps-without-
    * blocks is lazily HEALED here — every append recomputes block rows
    * for any stored rep missing block coverage, with the same planes.
    */
  def appendVectorIndex(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    withIndexLease(spark, path, "appendVectorIndex") {
      appendVectorIndexBody(spark, newVecs, idCol, vecCol, path,
        "appendVectorIndex")
    }
  }

  /** [[appendVectorIndex]]'s body, lease assumed HELD by the caller
    * ([[replaceVectorMembers]] composes it under its one lease).
    */
  private def appendVectorIndexBody(
      spark: SparkSession, newVecs: DataFrame, idCol: String,
      vecCol: String, path: String, op: String): Unit = {
      val m = metaOf(spark, path, "vector")
      val (resolved, dir) = resolvedDirs(spark, path)
      appendFenceTestHook()
      val oldReps = readTable(spark, path, dir, "reps")
      val oldMembers = readTable(spark, path, dir, "members")
      val gn = vecGroups(newVecs, idCol, vecCol)
      val matched = gn.join(oldReps.withColumnRenamed("rep_id", "__rep"), Seq("v"))
        .select(col("__rep").as("rep_id"), explode(col("members")).as("member_id"))
      val novel = gn.join(oldReps.select(col("v")), Seq("v"), "left_anti")
        .localCheckpoint(true)
      // torn-append heal: stored reps with no block rows get them
      // recomputed from their stored vector. Same fast path as
      // [[appendCorpusIndex]] — every rep has exactly numBlocks block
      // rows, so the count identity proves coverage without the
      // anti-join shuffle; on mismatch the anti-join is materialized
      // BEFORE the directory-mutating writes below. ONE driver action
      // carries BOTH pre-write guards (round-17, the
      // [[appendCorpusIndexBody]] fusion): monotone-id aggregate ×
      // coverage identity, id guard checked first.
      val oldBlocks = readTable(spark, path, dir, "blocks")
      val covered = idsAfterAgg(graveyardUnion(spark, path, dir,
          oldMembers.select(col("member_id"))),
        gn.select(explode(col("members")).as("member_id")))
        .crossJoin(oldBlocks.select(lit(0).as("__t"))
          .unionByName(oldReps.select(lit(1).as("__t")))
          .agg(count(when(col("__t") === 0, lit(1))).as("__b"),
            count(when(col("__t") === 1, lit(1))).as("__r")))
        .head()
      requireIdsAfterChecked(covered.getBoolean(0), op)
      val orphanedReps0 = oldReps.select(col("rep_id").as("id"), col("v"))
        .join(oldBlocks.select(col("rep_id").as("id")).distinct(),
          Seq("id"), "left_anti")
      val orphanedReps =
        if (covered.getLong(1) == m("num_blocks").toLong * covered.getLong(2))
          orphanedReps0.where(lit(false))
        else orphanedReps0.localCheckpoint(true)
      val (blocks, reps, members) = Similarity.vectorTablesFromGroups(
        novel, m("dim").toInt, m("num_blocks").toInt,
        m("planes_per_block").toInt, m("seed").toLong)
      // members FIRST — same crash posture as [[appendCorpusIndex]]
      members.unionByName(matched).repartition(col("rep_id"))
        .write.mode("append").parquet(dir("members"))
      reps.repartition(col("rep_id"))
        .write.mode("append").parquet(dir("reps"))
      blocks
        .unionByName(Similarity.vectorBlockRows(orphanedReps, m("dim").toInt,
          m("num_blocks").toInt, m("planes_per_block").toInt, m("seed").toLong))
        .repartition(col("band_hash"))
        .write.mode("append").parquet(dir("blocks"))
      requireGenerationsUnmoved(spark, path, resolved,
        Seq("members", "reps", "blocks"), op)
  }

  /** One INGEST ROUND against the persisted vector index — the
    * semantic twin of [[ingestMedia]], same contract shape: screen the
    * batch ([[Similarity.cosineJoinIndexed]], hyperplane geometry from
    * the index meta so screen and store cannot disagree), reject
    * everything with cos ≥ `threshold` against an indexed vector,
    * append the admissions ([[appendVectorIndex]]), and return one
    * verdict row per batch vector: (vec_id, status admitted|duplicate,
    * n_matches, best_corpus_id, best_cos) with best = highest cos,
    * ties to the smallest corpus_id; nulls for admitted. Dedup is
    * against the index only (intra-batch near-dups co-admit — run
    * [[Similarity.cosineNearDupPairs]] on the batch first if wanted);
    * recall is the index's sign-block recall, the documented
    * approximation. Monotone-id append contract on the admitted ids.
    * Null or wrong-dimension embeddings are dropped up front (no
    * verdict row — the [[ingestMedia]] null-hash posture): they yield
    * no block keys, so left in they would be silently "admitted" and
    * appended as permanently dead index members. Idempotent under
    * at-least-once replay, like [[ingestMedia]].
    */
  def ingestVector(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      maxBucketSize: Int = 10000): DataFrame = {
    val spark = newVecs.sparkSession
    val m = metaOf(spark, path, "vector")
    val batch = newVecs
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) === m("dim").toInt)
      .localCheckpoint(true)
    val idx = loadVectorIndex(spark, path, maxBucketSize)
    val matches = preBatchMatches(Similarity.cosineJoinIndexed(
      idx, batch, "vec_id", "v",
      m("dim").toInt, threshold, m("num_blocks").toInt,
      m("planes_per_block").toInt, m("seed").toLong), batch, "vec_id")
    val agg = matches.groupBy(col("new_id").as("vec_id"))
      .agg(count(lit(1)).as("__n"),
        // lexicographic min over (-cos, corpus_id) = best match by
        // highest (rounded, as emitted) cos, smallest id on ties
        min(struct((-col("cos")).as("negcos"), col("corpus_id"))).as("__best"))
    // materialized BEFORE the append mutates the index directories —
    // same race rationale as [[ingestMedia]]
    val verdict = batch.join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("__n").isNull, lit("admitted"))
          .otherwise(lit("duplicate")).as("status"),
        coalesce(col("__n"), lit(0L)).as("n_matches"),
        col("__best.corpus_id").as("best_corpus_id"),
        (-col("__best.negcos")).as("best_cos"))
      .localCheckpoint(true)
    val admitted = batch.join(
      verdict.where(col("status") === "admitted").select(col("vec_id")),
      Seq("vec_id"))
    appendAdmittedIdempotent(admitted, "vec_id",
      idx.members.select(col("member_id")), "ingestVector") { adm =>
      appendVectorIndex(adm, "vec_id", "v", path)
    }
    verdict
  }

  /** Collapsed (id, v, members) vector groups — the vector twin of
    * [[Dedup.textGroups]] (shared with [[Similarity.vectorIndex]]).
    */
  private def vecGroups(
      df: DataFrame, idCol: String, vecCol: String): DataFrame =
    Dedup.textGroups(
      df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
      "id", "v")
      .select(col("id"), col("__text").cast("array<double>").as("v"),
        col("members"))

  // ---------------------------------------------------------------
  // IVF model (IvfIndex.Model)
  // ---------------------------------------------------------------

  /** Persist an IVF model: the centroid matrix (`centroids/`, nLists
    * rows) and the inverted-list assignment (`assign/`, repartitioned by
    * list_id — the probe join key). Overwrites.
    */
  def saveIvf(model: IvfIndex.Model, path: String): Unit = {
    val spark = model.assignments.sparkSession
    withIndexLease(spark, path, "saveIvf") {
      import spark.implicits._
      resetGenerations(spark, path)
      val centroidRows = model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("list_id", "centroid")
      centroidRows.coalesce(1)
        .write.mode("overwrite").parquet(s"$path/centroids")
      model.assignments.repartition(col("list_id"))
        .write.mode("overwrite").parquet(s"$path/assign")
      // meta LAST — the rebuild's commit record (see [[resetGenerations]])
      writeMeta(spark, path, Seq(
        "kind" -> "ivf", "n_lists" -> model.centroids.length.toString)
        ++ ddlEntries("centroids" -> centroidRows,
          "assign" -> model.assignments))
    }
  }

  /** Load a persisted IVF model. The centroid collect is O(nLists) —
    * the model-sized driver collect this library allows everywhere.
    */
  def loadIvf(spark: SparkSession, path: String): IvfIndex.Model = {
    metaOf(spark, path, "ivf")
    val dir = tableDirs(spark, path)
    val centroids = readTable(spark, path, dir, "centroids")
      .orderBy("list_id").collect()
      .map(_.getAs[Seq[Double]]("centroid").toArray)
    // tombstones ([[deleteFromIvf]]): a deleted id leaves the inverted
    // lists at load, so no probe can select it — searches hydrate
    // vectors from the caller's corpus BY these assignments
    IvfIndex.Model(centroids,
      applyDeletes(readTable(spark, path, dir, "assign"),
        readDeletes(spark, path, dir), "id"))
  }

  /** Append new vectors to a persisted IVF model: assign them to the
    * EXISTING centroids (no retrain — see class doc) and append to the
    * inverted lists. Raises if any new id already exists in the index
    * (a duplicate id would double-count its vector in every probe).
    *
    * Crash posture (audited round 10): this append touches exactly ONE
    * table — the assign/ inverted lists — so there is no multi-table
    * torn window like the corpus/vector/media appends have; the single
    * Spark write job is atomic at job commit (files surface only when
    * the committer publishes them), and a retry after a committed
    * write raises on the id-overlap guard instead of double-counting.
    * The centroids/ table is written only by [[saveIvf]], never here.
    */
  def appendIvf(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    withIndexLease(spark, path, "appendIvf") {
      appendIvfBody(spark, newVecs, idCol, vecCol, path, "appendIvf")
    }
  }

  /** [[appendIvf]]'s body, lease assumed HELD by the caller
    * ([[replaceIvfMembers]] composes it under its one lease).
    */
  private def appendIvfBody(
      spark: SparkSession, newVecs: DataFrame, idCol: String,
      vecCol: String, path: String, op: String): Unit = {
      metaOf(spark, path, "ivf")
      // one manifest resolution for the read AND the write (the loadIvf
      // convenience would resolve separately — a rebuild landing between
      // the two reads would mix generations)
      val (resolved, dir) = resolvedDirs(spark, path)
      appendFenceTestHook()
      val centroids = readTable(spark, path, dir, "centroids")
        .orderBy("list_id").collect()
        .map(_.getAs[Seq[Double]]("centroid").toArray)
      val assignments = readTable(spark, path, dir, "assign")
      val assign = IvfIndex.assign(newVecs, idCol, vecCol, centroids)
      // overlap guard over live ids ∪ the tombstone graveyard: a
      // vacuumed delete's rows leave assign/, but re-admitting its id
      // would resurrect a taken-down vector under the same identity
      require(assign.join(graveyardUnion(spark, path, dir,
            assignments.select(col("id"))), Seq("id"),
          "left_semi").limit(1).count() == 0,
        s"IndexStore.$op: a new id already exists in the index " +
          "(or its graveyard); appending it would double-count its " +
          "vector in every probe (or resurrect a deleted id)")
      assign.repartition(col("list_id"))
        .write.mode("append").parquet(dir("assign"))
      requireGenerationsUnmoved(spark, path, resolved,
        Seq("assign", "centroids"), op)
  }

  // ---------------------------------------------------------------
  // Lexical inverted index (TextAnalysis.TextIndex)
  // ---------------------------------------------------------------

  /** Build and persist the BM25 inverted index under `path` (`meta/`,
    * `postings/`, `doclen/`). Postings are repartitioned by `term` —
    * the probe join key, so a query-term probe prunes to its term's
    * row groups; doclen by `doc_id` (the per-candidate hydration key).
    * Corpus stats (N, Σdl) are NOT stored — they derive lazily from
    * doclen at probe time, which is what makes append a pure table
    * union (see [[graft.operators.TextAnalysis.TextIndex]]).
    * Overwrites.
    */
  def saveTextIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    withIndexLease(spark, path, "saveTextIndex") {
      resetGenerations(spark, path)
      val idx = TextAnalysis.textIndex(docs, idCol, textCol)
      idx.postings.repartition(col("term"))
        .write.mode("overwrite").parquet(s"$path/postings")
      idx.doclen.repartition(col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/doclen")
      // meta LAST — the rebuild's commit record (see [[resetGenerations]])
      writeMeta(spark, path, Seq("kind" -> "text")
        ++ ddlEntries("postings" -> idx.postings, "doclen" -> idx.doclen))
    }
  }

  /** Load a persisted text index. With `check` on (the default),
    * raises on the text kind's one torn-append shape: doclen rows
    * whose postings append was lost in a crash (doclen is written
    * first — see [[appendTextIndex]]). Such docs can never match a
    * query (no postings) but silently inflate N and Σdl, shifting
    * EVERY document's idf and length normalization — corpus-wide skew
    * rather than unreachable rows, so it is detected, not tolerated.
    * The check is one action over two shuffle-free sums: dl is BY
    * CONSTRUCTION the per-doc sum of tf ([[TextAnalysis.textIndex]]),
    * so Σdl == Σtf iff no doclen row lost its postings; the
    * orphan-counting anti-join runs only on the failure path. The doc
    * text is not stored, so the shape is unhealable — recovery is a
    * rebuild or pruning the orphaned id range, as with the
    * corpus/vector member orphans.
    *
    * TOMBSTONES ([[deleteFromTextIndex]]) are applied here: when the
    * index carries a `deletes` table, both relations are anti-joined
    * by doc_id before anything else, so every probe — and, because
    * N/Σdl/df all DERIVE from these relations at probe time rather
    * than being stored, every BM25 STATISTIC — sees exactly the
    * corpus minus its deleted documents, immediately at the delete
    * and without waiting for a [[vacuumTextIndex]] rewrite. The
    * anti-joins carry no broadcast hint (AQE broadcasts the normally
    * tiny delete set; a delete set too big to broadcast is the signal
    * to vacuum). The torn-state identity is checked AFTER the
    * anti-join — deletes remove whole documents from both tables, so
    * they preserve it.
    */
  def loadTextIndex(
      spark: SparkSession, path: String,
      check: Boolean = true): TextAnalysis.TextIndex = {
    metaOf(spark, path, "text")
    val dir = tableDirs(spark, path)
    val del = readDeletes(spark, path, dir)
    val postings = applyDeletes(
      readTable(spark, path, dir, "postings"), del, "doc_id")
    val doclen = applyDeletes(
      readTable(spark, path, dir, "doclen"), del, "doc_id")
    if (check) {
      val sums = textTornSums(postings, doclen).head()
      if (textTornBad(sums.isNullAt(0), sums.isNullAt(1),
          if (sums.isNullAt(0)) 0L else sums.getLong(0),
          if (sums.isNullAt(1)) 0L else sums.getLong(1)))
        raiseTextTorn(postings, doclen, path, sums.get(0), sums.get(1))
    }
    TextAnalysis.TextIndex(postings, doclen)
  }

  /** The text torn-state identity's 1-row (Σdl, Σtf) as ONE
    * union-tagged aggregate (round-17 — one action/stage chain, not two
    * aggregates + a broadcast cross). dl is BY CONSTRUCTION the per-doc
    * Σtf ([[TextAnalysis.textIndex]]), so Σdl == Σtf iff no doc lost
    * one side. Kept a DataFrame so [[ingestText]] can fold it into the
    * guardrail-estimate action it already pays.
    */
  private def textTornSums(postings: DataFrame, doclen: DataFrame): DataFrame =
    doclen.select(col("dl").as("__v"), lit(0).as("__t"))
      .unionByName(postings.select(col("tf").as("__v"), lit(1).as("__t")))
      .agg(sum(when(col("__t") === 0, col("__v"))).as("__dl"),
        sum(when(col("__t") === 1, col("__v"))).as("__tf"))

  private def textTornBad(
      dlNull: Boolean, tfNull: Boolean, dl: Long, tf: Long): Boolean =
    dlNull != tfNull || (!dlNull && dl != tf)

  /** The torn-text raise path: per-doc triage (failure path only) +
    * the operator-facing message. Shared by [[loadTextIndex]] and the
    * [[ingestText]] fused guard action.
    */
  private def raiseTextTorn(
      postings: DataFrame, doclen: DataFrame, path: String,
      dlSum: Any, tfSum: Any): Nothing = {
    // failure path only: per-doc triage of the three torn shapes
    // (the same rule repairTextIndex prunes by)
    val t = doclen.select(col("doc_id"), col("dl"))
      .join(postings.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("__tf")), Seq("doc_id"), "full_outer")
      .agg(sum(when(col("__tf").isNull, 1L).otherwise(0L)),
        sum(when(col("dl").isNull, 1L).otherwise(0L)),
        sum(when(col("dl") =!= col("__tf"), 1L).otherwise(0L)))
      .head()
    throw new IllegalArgumentException(
      s"IndexStore: text index at $path is torn — ${t.getLong(0)} " +
        s"doc(s) with doclen rows but no postings (a crash between " +
        s"the doclen and postings appends — stranded rows skew " +
        s"every score's idf/avgdl), ${t.getLong(1)} with postings " +
        s"but no doclen row (external/legacy half-index), " +
        s"${t.getLong(2)} with dl ≠ Σtf on both sides (partial " +
        s"postings; Σdl=$dlSum vs Σtf=$tfSum); run " +
        "IndexStore.repairTextIndex to prune every inconsistent doc " +
        "(restoring exact idf/avgdl — their index entries are " +
        "incomplete either way) or rebuild the index over the full " +
        "corpus")
  }

  /** An index's OPTIONAL tombstone table — one id column (named for
    * the kind's member grain: doc_id / member_id / id) per deleted
    * row — resolved through the generation manifest like every raw
    * table; None when the index has never seen a delete.
    */
  private def readDeletes(
      spark: SparkSession, path: String,
      dir: String => String): Option[DataFrame] = {
    val d = dir("deletes")
    if (fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(d)))
      Some(spark.read.parquet(d))
    else None
  }

  /** Anti-join a live table by the tombstone set (no-op when the index
    * has never seen a delete). Deliberately no broadcast hint: AQE
    * broadcasts the normally tiny delete set at runtime size; a delete
    * set too big to broadcast is the operator's signal to vacuum.
    */
  private def applyDeletes(
      t: DataFrame, del: Option[DataFrame], idColName: String): DataFrame =
    del.fold(t)(d => joinKeepingShape(t, d.toDF(idColName), idColName,
      "left_anti"))

  /** `t` semi- or anti-joined with `keys` on `key`, in `t`'s own column
    * order: the USING join moves its key to the front, and vacuum
    * rewrites and schema-shaped consumers must see the exact save-time
    * shape.
    */
  private def joinKeepingShape(
      t: DataFrame, keys: DataFrame, key: String, how: String): DataFrame =
    t.join(keys, Seq(key), how).select(t.columns.map(col).toIndexedSeq: _*)

  /** Union the kind's id GRAVEYARD (the deletes table, if present)
    * into an existing-ids relation for the monotone append guard: a
    * deleted id's rows may have left the live tables (vacuum), but the
    * id must stay unreusable forever — re-admitting it would splice
    * two members' content under one id across the index's history.
    */
  private def graveyardUnion(
      spark: SparkSession, path: String, dir: String => String,
      existing: DataFrame): DataFrame =
    readDeletes(spark, path, dir)
      .fold(existing)(d => existing.unionByName(d.toDF(existing.columns.head)))

  /** The shared tombstone-delete core behind deleteFrom*Index: under
    * the caller's lease, validate the id set (non-empty, null-free,
    * duplicate-free, every id LIVE per `liveIds` — a takedown that
    * silently no-ops on a typo'd or already-deleted id is the failure
    * mode the raises prevent) and append it to the `deletes` table
    * under the kind's id column name, fencing the commit like every
    * append. ALL FOUR validations ride ONE multi-aggregate over the
    * delete set left-joined to the live ids (a compliance mega-sweep
    * at millions of ids per call pays one narrow action, not three);
    * the diagnostic samples on the raise paths are computed only when
    * the raise fires. Returns the number of ids tombstoned.
    */
  private def tombstoneDelete(
      spark: SparkSession, path: String, op: String, idColName: String,
      ids: DataFrame, liveIds: DataFrame,
      dir: String => String, resolved: Map[String, Long]): Long = {
    // cast to the LIVE id column's type before validating and writing:
    // the validation join would insert the cast implicitly anyway, but
    // the parquet append would not — an int-typed delete batch would
    // land an INT32 file next to INT64 ones and break every later
    // read of the deletes directory
    val del = ids.select(col(ids.columns.head)
        .cast(liveIds.schema.head.dataType).as(idColName))
      .localCheckpoint(true) // validation + write must see ONE set
    tombstoneDeletePrepared(spark, path, op, idColName, del, liveIds,
      dir, resolved, liveProven = false)
  }

  /** [[tombstoneDelete]] over an ALREADY cast-and-checkpointed delete
    * set. `liveProven = true` ([[replace]]'s fresh path, which
    * already proved every id live with its classification aggregate)
    * skips the live-set join — the remaining null/duplicate checks
    * need only the small del-side aggregate, not a second pass over
    * the live id relation.
    */
  private def tombstoneDeletePrepared(
      spark: SparkSession, path: String, op: String, idColName: String,
      del: DataFrame, liveIds: DataFrame,
      dir: String => String, resolved: Map[String, Long],
      liveProven: Boolean): Long = {
    appendFenceTestHook()
    val c =
      (if (liveProven) del.withColumn("__live", lit(1))
       else del.join(liveIds.distinct().withColumn("__live", lit(1)),
         Seq(idColName), "left"))
      .agg(count(lit(1)).as("__n"),
        count(col(idColName)).as("__nnn"), // non-null (count skips nulls)
        count_distinct(col(idColName)).as("__nd"),
        count(col("__live")).as("__nlive")).head()
    val n = c.getLong(0)
    val nNull = n - c.getLong(1)
    require(n > 0L,
      s"IndexStore.$op: empty delete set — a takedown that names " +
        "nothing is almost certainly a filter bug; raise rather than " +
        "silently no-op")
    require(nNull == 0L,
      s"IndexStore.$op: delete set carries $nNull NULL id(s) — " +
        "typically a failed cast from an incompatible id type (the " +
        s"live column is ${liveIds.schema.head.dataType.sql}) or a " +
        "join that missed; fix the id derivation and re-run")
    require(c.getLong(2) == n,
      s"IndexStore.$op: delete set carries " +
        s"${n - c.getLong(2)} duplicate id(s) — dedupe it (the " +
        "tombstone table is the audit log of what was erased; " +
        "duplicates make its row count lie)")
    val nMissing = n - c.getLong(3)
    if (nMissing > 0L) {
      // diagnostic sample — raise path only, never the happy path
      val sample = del.join(liveIds, Seq(idColName), "left_anti")
        .limit(5).collect().map(_.get(0)).mkString(", ")
      throw new IllegalArgumentException(
        s"IndexStore.$op: $nMissing id(s) name no LIVE member of the " +
          s"index at $path (e.g. $sample) — never indexed, already " +
          "deleted, or pruned by a repair. A takedown must not " +
          "silently no-op; fix the id set (or drop already-deleted " +
          "ids from it) and re-run")
    }
    del.coalesce(1).write.mode("append").parquet(dir("deletes"))
    requireGenerationsUnmoved(spark, path, resolved, Seq("deletes"), op)
    n
  }

  /** TOMBSTONE-delete documents from a persisted text index — the
    * takedown/right-to-erasure primitive a 100 TB corpus needs: the
    * ids land in a small `deletes` table (one narrow append, the heavy
    * postings/doclen tables untouched) and [[loadTextIndex]] anti-joins
    * them out of BOTH relations, so every subsequent probe sees the
    * corpus minus the deleted docs with EXACT BM25 statistics (N, df,
    * Σdl all derive from the live relations at probe time — no stored
    * stat to go stale; deletion is stat-exact the moment this returns,
    * the same reason append ≡ rebuild holds). Space is reclaimed
    * lazily by [[vacuumTextIndex]].
    *
    * Every id must name a LIVE document (present in doclen, not
    * already tombstoned): a takedown that silently no-ops on a typo'd
    * id is the failure mode this raise exists to prevent, and the
    * uniqueness requirement keeps the delete set auditable (the
    * anti-join itself would tolerate duplicates). Tombstoned ids are
    * NEVER freed for reuse — the id graveyard is retained across
    * [[vacuumTextIndex]] and [[appendTextIndex]] fences against it —
    * because an id's reappearance would silently splice two documents'
    * statistics together under the monotone-ingest contract. Do not
    * interleave deletes with an in-flight ingest round's crash-retry
    * window (the round's replay verification reads the live id set);
    * the single-writer lease serializes this op against every other
    * mutation as usual.
    *
    * @return the number of documents tombstoned
    */
  def deleteFromTextIndex(
      spark: SparkSession, path: String, ids: DataFrame): Long =
    deleteFrom(TextKind, spark, path, ids)

  /** Fold tombstones into the heavy tables: rewrite postings and
    * doclen WITHOUT the deleted docs' rows and publish both with one
    * atomic manifest swap ([[swapGenerations]] — same online-reader
    * safety and retention knobs as [[compactIndex]]). Probe results
    * are IDENTICAL before and after (loads already anti-join the
    * tombstones; the vacuum reclaims space and retires the per-load
    * anti-join work, it never changes semantics — vacuum ≡ fresh build
    * over the live corpus, IndexStoreSpec). The `deletes` table itself
    * is KEPT as the id graveyard: it is what lets
    * [[appendTextIndex]]'s monotone guard keep refusing a vacuumed
    * id's reuse after its rows left the heavy tables, and it is tiny
    * relative to what the vacuum just reclaimed. No-op (returns 0,
    * swaps nothing) when no tombstone still has rows to fold. Run on
    * the compaction cadence, or when the delete set approaches
    * broadcast size.
    *
    * @return the number of deleted documents whose rows were folded out
    */
  def vacuumTextIndex(
      spark: SparkSession, path: String,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Long =
    vacuum(TextKind, spark, path, retainGenerations, retainAge)

  /** The merge ops' shared path guards. Paths are FULLY QUALIFIED
    * through the filesystem before comparing (trailing slashes,
    * relative forms, and scheme prefixes all collapse to one
    * spelling), so a differently-spelled duplicate shard — or an
    * outPath that aliases a shard it would then overwrite while
    * reading — cannot slip past the checks.
    */
  private def requireShardPaths(
      spark: SparkSession, op: String, shardPaths: Seq[String],
      outPath: String): Unit = {
    def qual(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      fsOf(spark, p).makeQualified(hp).toString
    }
    val shards = shardPaths.map(qual)
    require(shards.size >= 2,
      s"IndexStore.$op: need at least two shard indexes " +
        "(one shard is already the index you want)")
    require(shards.distinct.size == shards.size,
      s"IndexStore.$op: duplicate shard path — merging a " +
        "shard with itself would double its every row")
    require(!shards.contains(qual(outPath)),
      s"IndexStore.$op: outPath must not be one of the " +
        "shards — the output is rebuilt from scratch and the rewrite " +
        "would consume a shard it is overwriting")
  }

  /** Shard-ownership PRECHECK — disjointness by construction for the
    * K-builder fleet. The merge ops prove disjoint ids only AFTER the
    * shard builds are spent; a fleet that feeds each builder k of n
    * through this guard makes a collision IMPOSSIBLE instead of
    * detected two builds too late. The convention is modulo ownership:
    * builder k of n owns exactly the ids with `id mod n == k`
    * (stateless — no range registry to coordinate — and uniform under
    * any id distribution; per-shard ids stay monotone-appendable
    * because the contract constrains order only WITHIN a shard's own
    * index). Raises naming sample violators when any id is owned by a
    * different shard, is NULL, or is not integral (modulo ownership
    * needs integer ids — hash your keys to i64 first, the
    * [[graft.operators.Dedup]] fingerprint convention). Returns the
    * input with an INLINE row guard on the id column (same rows, same
    * schema) for pipeline composition:
    * `saveTextIndex(requireShardOwnership(docs, "doc_id", k, n), ...)`
    * — a foreign/null id raises AT THE BUILD'S OWN SCAN naming the id,
    * so the guard validates exactly the rows the build consumes (an
    * eager pre-count would see a different row set on
    * non-deterministic inputs) and costs zero extra actions.
    */
  def requireShardOwnership(
      docs: DataFrame, idCol: String, shard: Int, nShards: Int): DataFrame = {
    require(nShards >= 2,
      "IndexStore.requireShardOwnership: nShards must be >= 2 " +
        "(one shard owns everything — no plan to validate)")
    require(shard >= 0 && shard < nShards,
      s"IndexStore.requireShardOwnership: shard must be in " +
        s"[0, $nShards), got $shard")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    docs.schema(docs.schema.fieldIndex(idCol)).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"IndexStore.requireShardOwnership: id column '$idCol' has " +
          s"non-integral type ${other.sql} — modulo ownership needs " +
          "integer ids; hash your keys to i64 first (the Dedup " +
          "fingerprint convention)")
    }
    // the row guard TRAVELS WITH THE RETURNED PLAN (when/raise_error on
    // the id column) instead of running as a separate count action: an
    // eager validate-then-return would see a DIFFERENT row set than the
    // downstream build when the input is non-deterministic
    // (sample/limit/shuffle-order-dependent), voiding the
    // disjointness-by-construction guarantee — inline, the build
    // consumes only rows that passed, and the precheck costs zero extra
    // actions (one codegen'd expression on the build's own scan)
    val violated = col(idCol).isNull ||
      pmod(col(idCol).cast("long"), lit(nShards.toLong)) =!= shard.toLong
    val guarded = when(violated, raise_error(concat(
        lit("IndexStore.requireShardOwnership: id "),
        coalesce(col(idCol).cast("string"), lit("NULL")),
        lit(s" does not belong to shard $shard of $nShards under the " +
          "modulo-ownership convention (id mod n == shard; null ids " +
          "violate it too) — route each id to its owning builder"))))
      .otherwise(col(idCol)).as(idCol)
    docs.select(docs.columns
      .map(c => if (c == idCol) guarded else col(c)).toIndexedSeq: _*)
  }

  /** Test seam: runs once after every shard lease is acquired, before
    * the merge body — a spec can steal a shard lease in exactly the
    * over-TTL window [[withShardLeases]]'s verify thunk exists for.
    * No-op in production.
    */
  private[graft] var shardLeaseTestHook: () => Unit = () => ()

  /** Run `body` holding EVERY shard's single-writer lease for the
    * duration of a merge, acquired in sorted order (acquire RAISES
    * rather than blocks, so there is no deadlock to order around —
    * sorting makes the failure deterministic against another
    * multi-shard op). The merge reads shard tables LAZILY and re-scans
    * them during the output writes, so without the leases a concurrent
    * shard append between the disjointness proof and the write could
    * land rows in the merged output that were never checked for id
    * overlap; holding them turns that race into a loud raise at the
    * APPENDER's acquire — prevention, the round-13 lease posture.
    * `body` receives a VERIFY thunk that re-reads each shard lease and
    * raises if any is no longer this op's — merges call it immediately
    * before their output write, so a merge that outlived its ttlMs
    * (lease stolen, shard possibly mutated underneath) fails LOUDLY
    * before publishing instead of silently degrading to the
    * fence/monotone backstops. Release-time stolen detection alone
    * can't cover this: a stealer that acquired, appended, and released
    * inside the window leaves no lease file behind to compare owners
    * against.
    */
  private def withShardLeases[T](
      spark: SparkSession, shardPaths: Seq[String], op: String,
      ttlMs: Long)(body: (() => Unit) => T): T = {
    val held = new java.util.concurrent.ConcurrentHashMap[String, IndexLease]()
    def verifyHeld(): Unit = {
      val it = held.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cur = readIndexLease(spark, e.getKey)
        if (!cur.exists(_.owner == e.getValue.owner))
          throw new IllegalStateException(
            s"IndexStore.$op: the shard lease at ${e.getKey} is no " +
              "longer held by this op (now: " +
              cur.map(c => s"op=${c.op}, epoch=${c.epoch}")
                .getOrElse("released or expired") +
              ") — this merge outlived its ttlMs and the lease was " +
              "stolen, so the shard may have moved underneath it. " +
              "Aborting WITHOUT writing the output; re-run with a " +
              "ttlMs sized to the merge")
      }
    }
    shardPaths.sorted
      .foldRight(() => { shardLeaseTestHook(); body(() => verifyHeld()) }) {
        (p, acc) => () =>
          withIndexLeaseOf(spark, p, op, ttlMs) { l =>
            held.put(p, l): Unit
            acc()
          }
      }()
  }

  /** The merge ops' shared disjointness proof: one count-vs-distinct
    * aggregate over the unioned member grain; the failure path samples
    * the overlapping ids. Returns the merged member count.
    */
  private def requireDisjointMembers(
      op: String, ids: DataFrame, idColName: String): Long = {
    val c = ids.agg(count(lit(1)).as("__n"),
      count_distinct(col(idColName)).as("__nd")).head()
    if (c.getLong(0) != c.getLong(1)) {
      val sample = ids.groupBy(col(idColName))
        .agg(count(lit(1)).as("__k")).where(col("__k") > 1)
        .limit(5).collect().map(_.get(0)).mkString(", ")
      throw new IllegalArgumentException(
        s"IndexStore.$op: shard ids overlap — " +
          s"${c.getLong(0) - c.getLong(1)} id(s) appear in more than " +
          s"one shard (e.g. $sample). Shards must hold disjoint id " +
          "ranges; re-id the offending shard and re-run")
    }
    c.getLong(0)
  }

  /** MERGE shard text indexes into one — the shard-parallel BUILD path
    * at 100 TB: no single job tokenizes a 100 TB corpus in one go, so
    * K builders each [[saveTextIndex]] a disjoint id range
    * concurrently (each under its own path's lease) and this op unions
    * them into one probe-able index. It is exact BY THE SAME DESIGN
    * that makes append ≡ rebuild: a text index stores NO corpus
    * statistic — N, Σdl and df all derive from postings/doclen at
    * probe time — so the union of shard tables IS the single-build
    * index (merge ≡ [[saveTextIndex]] over the concatenated corpus,
    * IndexStoreSpec, and q261's full-replay oracle). Shards are read
    * through [[loadTextIndex]] (torn shards raise; shard tombstones
    * are applied — the merged index starts with a clean slate, no
    * `deletes` table, so shard graveyards do NOT transfer and the
    * output's monotone guard fences against live ids only). Disjoint
    * doc_ids across shards are REQUIRED and verified with one narrow
    * count-vs-distinct aggregate (the failure path samples the
    * overlapping ids); the rewrite clusters postings by term and
    * doclen by doc_id — one scan-shaped pass over the combined data,
    * the same cost shape as one compaction of the result. The shards
    * themselves are left untouched (readers pinned on them are
    * unaffected), but every merge HOLDS the shards' single-writer
    * leases for its duration ([[withShardLeases]]): the shard tables
    * are read lazily and re-scanned during the output writes, so a
    * concurrent shard append in that window would land rows the
    * disjointness proof never saw — with the leases held, the
    * appender raises at ITS acquire instead. Size `ttlMs` ABOVE the
    * expected merge duration (default 30 min): a merge outliving its
    * TTL loses the shard leases to a stealing appender and the
    * protection silently reverts to the fence/monotone backstops.
    * `outPath` must be a fresh or sacrificial location — it is
    * rebuilt via [[resetGenerations]] under its own lease.
    *
    * @return the merged index's document count
    */
  def mergeTextIndexes(
      spark: SparkSession, shardPaths: Seq[String], outPath: String,
      ttlMs: Long = DefaultLeaseTtlMs): Long = {
    requireShardPaths(spark, "mergeTextIndexes", shardPaths, outPath)
    withShardLeases(spark, shardPaths, "mergeTextIndexes", ttlMs) { verifyShardLeases =>
      val shards = shardPaths.map(p => loadTextIndex(spark, p))
      val postings = shards.map(_.postings).reduce(_.unionByName(_))
      val doclen = shards.map(_.doclen).reduce(_.unionByName(_))
      val n = requireDisjointMembers("mergeTextIndexes", doclen, "doc_id")
      withIndexLease(spark, outPath, "mergeTextIndexes", ttlMs) {
        // shard leases re-verified at the last instant before the
        // output becomes real — an over-TTL merge aborts loudly here
        verifyShardLeases()
        resetGenerations(spark, outPath)
        postings.repartition(col("term"))
          .write.mode("overwrite").parquet(s"$outPath/postings")
        doclen.repartition(col("doc_id"))
          .write.mode("overwrite").parquet(s"$outPath/doclen")
        // meta LAST — the rebuild's commit record (see [[resetGenerations]])
        writeMeta(spark, outPath, Seq("kind" -> "text"))
      }
      n
    }
  }

  /** MERGE shard MEDIA indexes — [[mergeTextIndexes]]'s perceptual
    * sibling: union the live member rows (shard tombstones applied,
    * graveyards not carried) and RE-DERIVE the band table from them
    * with the single build's own derivation ([[Dedup.hashBandRows]]) —
    * exact by construction (merge ≡ [[saveMediaIndex]] over the
    * concatenated assets, IndexStoreSpec), deduplicating the band rows
    * that the same signature earned in several shards, and healing any
    * shard's members-without-bands torn state for free. Disjoint
    * member ids required; `outPath` rebuilt under its own lease.
    *
    * @return the merged index's member count
    */
  def mergeMediaIndexes(
      spark: SparkSession, shardPaths: Seq[String], outPath: String,
      ttlMs: Long = DefaultLeaseTtlMs): Long = {
    requireShardPaths(spark, "mergeMediaIndexes", shardPaths, outPath)
    withShardLeases(spark, shardPaths, "mergeMediaIndexes", ttlMs) { verifyShardLeases =>
      shardPaths.foreach(p => metaOf(spark, p, "media"))
      val members = shardPaths.map { p =>
        val dir = tableDirs(spark, p)
        applyDeletes(readTable(spark, p, dir, "members"),
          readDeletes(spark, p, dir), "member_id")
          .select(col("dh"), col("member_id"))
      }.reduce(_.unionByName(_))
      val n = requireDisjointMembers("mergeMediaIndexes", members,
        "member_id")
      withIndexLease(spark, outPath, "mergeMediaIndexes", ttlMs) {
        // shard leases re-verified at the last instant before the
        // output becomes real — an over-TTL merge aborts loudly here
        verifyShardLeases()
        resetGenerations(spark, outPath)
        members.repartition(col("dh"))
          .write.mode("overwrite").parquet(s"$outPath/members")
        Dedup.hashBandRows(members, "dh").repartition(col("band_hash"))
          .write.mode("overwrite").parquet(s"$outPath/bands")
        // meta LAST — the rebuild's commit record (see [[resetGenerations]])
        writeMeta(spark, outPath, Seq("kind" -> "media"))
      }
      n
    }
  }

  /** MERGE shard VECTOR indexes. The one step beyond a union: shards
    * elected their OWN exact-dup family reps, so the same vector value
    * split across shards arrives as several rep groups — the merge
    * CONSOLIDATES by regrouping the (vector, member) pairs with the
    * single build's own grouping rule (rep = min member id,
    * [[vecGroups]]' collapse) and re-derives reps/blocks/members from
    * the consolidated groups with the single build's own table
    * builder. Merge ≡ [[saveVectorIndex]] over the concatenated corpus
    * — table for table — BECAUSE every derivation is shared, not
    * copied. Shards must carry identical geometry meta (dim, blocks,
    * planes, seed — block keys are only comparable under one set of
    * hyperplanes); torn shards raise (member coverage on RAW members,
    * as loads do); shard tombstones applied, graveyards not carried.
    *
    * @return the merged index's member count
    */
  def mergeVectorIndexes(
      spark: SparkSession, shardPaths: Seq[String], outPath: String,
      ttlMs: Long = DefaultLeaseTtlMs): Long = {
    requireShardPaths(spark, "mergeVectorIndexes", shardPaths, outPath)
    withShardLeases(spark, shardPaths, "mergeVectorIndexes", ttlMs) { verifyShardLeases =>
      val metas = shardPaths.map(p => metaOf(spark, p, "vector"))
      val geomKeys = Seq("dim", "num_blocks", "planes_per_block", "seed")
      require(metas.map(m => geomKeys.map(m)).distinct.size == 1,
        "IndexStore.mergeVectorIndexes: shards were built with different " +
          "hyperplane geometry (dim/num_blocks/planes_per_block/seed " +
          "must match — block keys are only comparable under one set of " +
          "planes); rebuild the divergent shard with the shared geometry")
      val m = metas.head
      val pairs = shardPaths.map { p =>
        val dir = tableDirs(spark, p)
        val reps = readTable(spark, p, dir, "reps")
        val rawMembers = readTable(spark, p, dir, "members")
        requireMemberCoverage(rawMembers, reps, "rep_id", "reps", p)
        applyDeletes(rawMembers, readDeletes(spark, p, dir), "member_id")
          .join(reps, Seq("rep_id"))
          .select(col("v"), col("member_id"))
      }.reduce(_.unionByName(_))
      val n = requireDisjointMembers("mergeVectorIndexes", pairs,
        "member_id")
      val groups = vecGroups(pairs, "member_id", "v")
      val (blocks, reps, members) = Similarity.vectorTablesFromGroups(
        groups, m("dim").toInt, m("num_blocks").toInt,
        m("planes_per_block").toInt, m("seed").toLong)
      withIndexLease(spark, outPath, "mergeVectorIndexes", ttlMs) {
        // shard leases re-verified at the last instant before the
        // output becomes real — an over-TTL merge aborts loudly here
        verifyShardLeases()
        resetGenerations(spark, outPath)
        blocks.repartition(col("band_hash"))
          .write.mode("overwrite").parquet(s"$outPath/blocks")
        reps.repartition(col("rep_id"))
          .write.mode("overwrite").parquet(s"$outPath/reps")
        members.repartition(col("rep_id"))
          .write.mode("overwrite").parquet(s"$outPath/members")
        // meta LAST — the rebuild's commit record (see [[resetGenerations]])
        writeMeta(spark, outPath, m.toSeq)
      }
      n
    }
  }

  /** MERGE shard CORPUS (MinHash-LSH) indexes —
    * [[mergeVectorIndexes]]' lexical twin: consolidate cross-shard
    * exact-text families by regrouping the (text, member) pairs with
    * [[Dedup.textGroups]]' own rule and re-derive bands/sets/members
    * via [[Dedup.corpusTablesFromGroups]] — the single build's exact
    * builders, so merge ≡ [[saveCorpusIndex]] over the concatenated
    * corpus, table for table. Shards must share the LSH parameters
    * (shingle_size/num_hashes/num_bands); torn shards raise; shard
    * tombstones applied, graveyards not carried. There is deliberately
    * NO mergeIvf: IVF shards trained separately hold incomparable
    * quantizers — the documented path is [[rebuildIvf]] over the
    * concatenated corpus, which IS the merge (one retrain + one
    * reassign, measured in SCALING.md).
    *
    * @return the merged index's member count
    */
  def mergeCorpusIndexes(
      spark: SparkSession, shardPaths: Seq[String], outPath: String,
      ttlMs: Long = DefaultLeaseTtlMs): Long = {
    requireShardPaths(spark, "mergeCorpusIndexes", shardPaths, outPath)
    withShardLeases(spark, shardPaths, "mergeCorpusIndexes", ttlMs) { verifyShardLeases =>
      val metas = shardPaths.map(p => metaOf(spark, p, "corpus"))
      val lshKeys = Seq("shingle_size", "num_hashes", "num_bands")
      require(metas.map(m => lshKeys.map(m)).distinct.size == 1,
        "IndexStore.mergeCorpusIndexes: shards were built with different " +
          "LSH parameters (shingle_size/num_hashes/num_bands must match " +
          "— band keys are only comparable under one signature scheme); " +
          "rebuild the divergent shard with the shared parameters")
      val m = metas.head
      val pairs = shardPaths.map { p =>
        val dir = tableDirs(spark, p)
        val sets = readTable(spark, p, dir, "sets")
        val rawMembers = readTable(spark, p, dir, "members")
        requireMemberCoverage(rawMembers, sets, "corpus_id", "sets", p)
        applyDeletes(rawMembers, readDeletes(spark, p, dir), "member_id")
          .join(sets.select(col("corpus_id"), col("text")), Seq("corpus_id"))
          .select(col("text"), col("member_id"))
      }.reduce(_.unionByName(_))
      val n = requireDisjointMembers("mergeCorpusIndexes", pairs,
        "member_id")
      val gc = Dedup.textGroups(pairs, "member_id", "text")
      val (bands, sets, members) = Dedup.corpusTablesFromGroups(gc,
        m("shingle_size").toInt, m("num_hashes").toInt, m("num_bands").toInt)
      withIndexLease(spark, outPath, "mergeCorpusIndexes", ttlMs) {
        // shard leases re-verified at the last instant before the
        // output becomes real — an over-TTL merge aborts loudly here
        verifyShardLeases()
        resetGenerations(spark, outPath)
        bands.repartition(col("band_hash"))
          .write.mode("overwrite").parquet(s"$outPath/bands")
        sets.repartition(col("corpus_id"))
          .write.mode("overwrite").parquet(s"$outPath/sets")
        members.repartition(col("corpus_id"))
          .write.mode("overwrite").parquet(s"$outPath/members")
        // meta LAST — the rebuild's commit record (see [[resetGenerations]])
        writeMeta(spark, outPath, m.toSeq)
      }
      n
    }
  }

  // ---------------------------------------------------------------
  // Tombstone deletes — every index kind (takedown / right-to-erasure)
  // ---------------------------------------------------------------

  /** TOMBSTONE-delete assets from a persisted MEDIA index — the
    * perceptual-grain takedown (DMCA'd images, revoked assets): ids
    * land in the small `deletes` table and [[loadMediaIndex]]
    * anti-joins them out of `members`, so no screen can surface a
    * deleted asset the moment this returns (every screen hydrates
    * matches THROUGH members — band rows alone emit nothing). The
    * asset's band rows stay until [[vacuumMediaIndex]]: they are
    * shared with surviving exact-dup family members, and stale ones
    * (family fully deleted) are harmless never-hydrated candidates.
    * Validation contract and graveyard semantics as
    * [[deleteFromTextIndex]].
    *
    * @return the number of assets tombstoned
    */
  def deleteFromMediaIndex(
      spark: SparkSession, path: String, ids: DataFrame): Long =
    deleteFrom(MediaKind, spark, path, ids)

  /** Fold a media index's tombstones: rewrite `members` without the
    * deleted rows and `bands` without the signatures that no longer
    * have ANY live member (a dh's band rows are per-signature, shared
    * by its exact-dup family — they fold only when the family dies),
    * published with one atomic generation swap ([[swapGenerations]],
    * same online-reader retention as [[compactIndex]]). Probe results
    * are identical before and after — with one DOCUMENTED edge: the
    * load-time bucket cap counts RAW band rows, so between a delete
    * and this vacuum a bucket inflated by fully-dead families' rows
    * can sit over `maxBucketSize` and be dropped where the folded
    * index keeps it (delete ≡ rebuild-over-live is exact only below
    * the cap; computing the cap over live-restricted bands would cost
    * every probe a members-distinct semi-join to serve a window this
    * vacuum closes — run the vacuum when a delete wave lands near
    * capped buckets). Text has no cap and is exempt. The `deletes`
    * table is KEPT as the id graveyard ([[vacuumTextIndex]]'s
    * rationale). No-op when no tombstone still has member rows.
    *
    * @return the number of member rows folded out
    */
  def vacuumMediaIndex(
      spark: SparkSession, path: String,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Long =
    vacuum(MediaKind, spark, path, retainGenerations, retainAge)

  /** TOMBSTONE-delete members from a persisted VECTOR index. Deletion
    * is at the MEMBER grain: the rep rows are internal scoring state
    * (one stored vector per exact-dup family), and every screen
    * expands matches through `members`, so a deleted member can never
    * surface — even when it was the family's rep id, its surviving
    * exact-dup twins (identical vector by construction) keep matching
    * through the same rep row. A fully-deleted family's reps/blocks
    * rows are stale-but-harmless (zero members hydrate) until
    * [[vacuumVectorIndex]] prunes them. Validation and graveyard as
    * [[deleteFromTextIndex]].
    */
  def deleteFromVectorIndex(
      spark: SparkSession, path: String, ids: DataFrame): Long =
    deleteFrom(VectorKind, spark, path, ids)

  /** Fold a vector index's tombstones: `members` loses the deleted
    * rows; `reps` and `blocks` lose the families with no surviving
    * member. One atomic generation swap; probes identical before and
    * after; graveyard kept. The RAW-members coverage identity
    * [[loadVectorIndex]] checks is preserved: a group survives in reps
    * iff it keeps ≥ 1 member row.
    */
  def vacuumVectorIndex(
      spark: SparkSession, path: String,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Long =
    vacuum(VectorKind, spark, path, retainGenerations, retainAge)

  /** TOMBSTONE-delete documents from a persisted CORPUS (MinHash-LSH)
    * index — [[deleteFromVectorIndex]]'s lexical twin, member grain
    * for the same reason: sets/bands rows are per-family scoring state
    * over IDENTICAL text, matches expand through `members`. A dead
    * family's sets/bands rows stay (harmless, zero members hydrate —
    * and a later append of the same text legitimately REVIVES the
    * family with a fresh member id: the content was re-admitted, the
    * stored shingles still describe it exactly) until
    * [[vacuumCorpusIndex]] prunes them.
    */
  def deleteFromCorpusIndex(
      spark: SparkSession, path: String, ids: DataFrame): Long =
    deleteFrom(CorpusKind, spark, path, ids)

  /** Fold a corpus index's tombstones: `members` loses the deleted
    * rows; `sets` and `bands` lose the families with no surviving
    * member. Swap/retention/graveyard as [[vacuumVectorIndex]].
    */
  def vacuumCorpusIndex(
      spark: SparkSession, path: String,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Long =
    vacuum(CorpusKind, spark, path, retainGenerations, retainAge)

  /** TOMBSTONE-delete vector ids from a persisted IVF model: the id
    * leaves the inverted lists at load ([[loadIvf]] anti-joins), so no
    * probe can select it — searches hydrate vectors from the caller's
    * corpus BY these assignments, so the deleted vector is gone from
    * recall immediately regardless of what the caller still stores.
    * [[vacuumIvf]] folds the rows; [[appendIvf]]'s overlap guard
    * unions the graveyard so a deleted id can never be re-admitted.
    */
  def deleteFromIvf(
      spark: SparkSession, path: String, ids: DataFrame): Long =
    deleteFrom(IvfKind, spark, path, ids)

  /** Fold an IVF model's tombstones out of the inverted lists (one
    * table — the simplest vacuum). Swap/retention/graveyard as the
    * other kinds. Centroids are untouched: they are a training
    * snapshot, and sustained deletion skew is the same drift
    * [[rebuildIvf]] exists to correct.
    */
  def vacuumIvf(
      spark: SparkSession, path: String,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Long =
    vacuum(IvfKind, spark, path, retainGenerations, retainAge)

  /** Kind-dispatching takedown: read the index's kind from `meta/` and
    * route to the right deleteFrom*Index — the one-call surface a
    * compliance tool wants when it holds a path and an id list but not
    * the index's type. Same contracts as the per-kind ops (which
    * remain the explicit, type-honest API).
    */
  def deleteFromIndex(
      spark: SparkSession, path: String, ids: DataFrame): Long =
    deleteFrom(kindOf(spark, path, "deleteFromIndex"), spark, path, ids)

  /** Kind-dispatching RECTIFICATION — [[deleteFromIndex]]'s replace
    * twin, for compliance tooling that holds only a path: routes to
    * the kind's replace* op ([[replaceTextDocs]] contract). `newRows`
    * carries the replacement content under the kind's value column —
    * text for text/corpus, the 64-bit hash for media, the embedding
    * array for vector/ivf.
    */
  def replaceInIndex(
      spark: SparkSession, path: String, newRows: DataFrame,
      idCol: String, valueCol: String, oldIds: DataFrame): (Long, Long) =
    replace(kindOf(spark, path, "replaceInIndex"), newRows, idCol, valueCol,
      path, oldIds)

  /** Kind-dispatching vacuum — [[deleteFromIndex]]'s fold twin, for
    * the maintenance cadence that sweeps a directory of indexes.
    */
  def vacuumIndex(
      spark: SparkSession, path: String,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Long =
    vacuum(kindOf(spark, path, "vacuumIndex"), spark, path,
      retainGenerations, retainAge)

  /** Kind-dispatching merge — completes the path-only compliance/
    * maintenance tooling symmetry ([[deleteFromIndex]] /
    * [[replaceInIndex]] / [[vacuumIndex]]): a fleet driver that knows
    * only shard directories merges them without hardcoding the kind.
    * The kind is read from the FIRST shard's meta; the kind-specific
    * merge then validates every shard's meta itself (kind and, for
    * vector/corpus, geometry/LSH parameter equality), so a mixed-kind
    * shard list still raises with the mismatch named. IVF is REFUSED
    * with the documented pointer: separately trained quantizers are
    * incomparable, [[rebuildIvf]] over the concatenated corpus IS the
    * merge (Standing DECISIONS, SURVEY §9).
    *
    * @return the merged index's member count
    */
  def mergeIndexes(
      spark: SparkSession, shardPaths: Seq[String], outPath: String,
      ttlMs: Long = DefaultLeaseTtlMs): Long = {
    require(shardPaths.nonEmpty, "IndexStore.mergeIndexes: no shards")
    val merge = kindOf(spark, shardPaths.head, "mergeIndexes").merge
      .getOrElse(throw new IllegalArgumentException(
        "IndexStore.mergeIndexes: IVF indexes have NO merge by design — " +
          "separately trained quantizers assign the same vector to " +
          "incomparable lists. Run rebuildIvf over the concatenated " +
          "corpus instead (one retrain + one reassign; that IS the merge)"))
    merge(spark, shardPaths, outPath, ttlMs)
  }

  // ---------------------------------------------------------------
  // Index kinds: what each kind stores, and the verbs written once
  // over it
  // ---------------------------------------------------------------

  /** How [[vacuum]] folds tombstones out of one raw table. */
  private sealed trait Fold
  /** Anti-join on the member id: one row per member. */
  private case object DropDeleted extends Fold
  /** Semi-join on `key` against the live members' `key`s: per-family
    * rows (shared by an exact-dup family) fold only when the family
    * has no live member left.
    */
  private final case class KeepLiveFamilies(key: String) extends Fold
  /** Never rewritten by a vacuum (the IVF centroids are a training
    * snapshot; sustained deletion skew is [[rebuildIvf]]'s job).
    */
  private case object Untouched extends Fold

  /** One index kind's storage facts — the single statement the
    * kind-generic verbs ([[deleteFrom]], [[vacuum]], [[replace]],
    * [[compactIndex]], [[describeIndex]]) and the kind dispatch
    * ([[kindOf]]) read:
    *  - `tables`: each raw table with its probe join key — the key it
    *    is clustered by on every write, kept by compaction's and
    *    vacuum's rewrites — and its [[Fold]]. Listed in compaction
    *    order; a vacuum rewrites them in REVERSE (the live-id table
    *    first).
    *  - `idTable`.`idCol`: where the LIVE member ids are read; `idCol`
    *    (doc_id / member_id / id) also names the tombstone column.
    *    Every kind has the OPTIONAL `deletes` table keyed by it —
    *    absent until the first delete, so [[compactIndex]] and
    *    [[describeIndex]] tolerate its missing dir ([[allTables]]).
    *  - the public op names its lease and error messages carry.
    *  - `appendBody`: the kind's append with the lease already held
    *    (what [[replace]] composes); `merge`: its shard merge (none for
    *    IVF — see [[mergeIndexes]]).
    */
  private final case class IndexKind(
      name: String,
      tables: Seq[(String, String, Fold)],
      idTable: String,
      idCol: String,
      deleteOp: String,
      vacuumOp: String,
      replaceOp: String,
      appendBody: (SparkSession, DataFrame, String, String, String, String) => Unit,
      merge: Option[(SparkSession, Seq[String], String, Long) => Long]) {
    def allTables: Seq[(String, String)] =
      tables.map { case (t, key, _) => t -> key } :+ ("deletes" -> idCol)
  }

  private val CorpusKind = IndexKind("corpus",
    Seq(("bands", "band_hash", KeepLiveFamilies("corpus_id")),
      ("sets", "corpus_id", KeepLiveFamilies("corpus_id")),
      ("members", "corpus_id", DropDeleted)),
    "members", "member_id",
    "deleteFromCorpusIndex", "vacuumCorpusIndex", "replaceCorpusDocs",
    appendCorpusIndexBody, Some(mergeCorpusIndexes _))

  private val MediaKind = IndexKind("media",
    Seq(("bands", "band_hash", KeepLiveFamilies("dh")),
      ("members", "dh", DropDeleted)),
    "members", "member_id",
    "deleteFromMediaIndex", "vacuumMediaIndex", "replaceMediaAssets",
    appendMediaIndexBody, Some(mergeMediaIndexes _))

  private val VectorKind = IndexKind("vector",
    Seq(("blocks", "band_hash", KeepLiveFamilies("rep_id")),
      ("reps", "rep_id", KeepLiveFamilies("rep_id")),
      ("members", "rep_id", DropDeleted)),
    "members", "member_id",
    "deleteFromVectorIndex", "vacuumVectorIndex", "replaceVectorMembers",
    appendVectorIndexBody, Some(mergeVectorIndexes _))

  private val IvfKind = IndexKind("ivf",
    Seq(("assign", "list_id", DropDeleted),
      ("centroids", "list_id", Untouched)),
    "assign", "id",
    "deleteFromIvf", "vacuumIvf", "replaceIvfMembers",
    appendIvfBody, None)

  private val TextKind = IndexKind("text",
    Seq(("postings", "term", DropDeleted), ("doclen", "doc_id", DropDeleted)),
    "doclen", "doc_id",
    "deleteFromTextIndex", "vacuumTextIndex", "replaceTextDocs",
    appendTextIndexBody, Some(mergeTextIndexes _))

  private val kinds: Map[String, IndexKind] =
    Seq(CorpusKind, MediaKind, VectorKind, IvfKind, TextKind)
      .map(k => k.name -> k).toMap

  /** The [[IndexKind]] that `path`'s meta records; raises naming `op`
    * when meta carries no kind or one this build does not know.
    */
  private def kindOf(spark: SparkSession, path: String, op: String): IndexKind = {
    val k = readMeta(spark, path).getOrElse("kind",
      throw new IllegalArgumentException(
        s"IndexStore.$op: $path/meta carries no index kind"))
    kinds.getOrElse(k, throw new IllegalArgumentException(
      s"IndexStore.$op: unknown index kind '$k'"))
  }

  /** Every kind's deleteFrom* op: under the lease, the kind's live ids
    * (id table minus tombstones) validate the id set and
    * [[tombstoneDelete]] appends it to `deletes`.
    */
  private def deleteFrom(
      kind: IndexKind, spark: SparkSession, path: String,
      ids: DataFrame): Long =
    withIndexLease(spark, path, kind.deleteOp) {
      metaOf(spark, path, kind.name)
      val (resolved, dir) = resolvedDirs(spark, path)
      val live = applyDeletes(
        readTable(spark, path, dir, kind.idTable).select(col(kind.idCol)),
        readDeletes(spark, path, dir), kind.idCol)
      tombstoneDelete(spark, path, kind.deleteOp, kind.idCol, ids, live,
        dir, resolved)
    }

  /** Every kind's vacuum* op: count the tombstoned ids that still have
    * id-table rows (0 ⇒ no-op, nothing swapped), then rewrite each
    * table its [[Fold]] names — clustered by its key, in its save-time
    * column order — and publish them all with one atomic
    * [[swapGenerations]]. The `deletes` graveyard is kept. Returns the
    * number of id-table rows folded out.
    */
  private def vacuum(
      kind: IndexKind, spark: SparkSession, path: String,
      retainGenerations: Int, retainAge: Option[java.time.Duration]): Long =
    withIndexLease(spark, path, kind.vacuumOp) {
      metaOf(spark, path, kind.name)
      val dir = tableDirs(spark, path)
      readDeletes(spark, path, dir).fold(0L) { del0 =>
        val del = del0.toDF(kind.idCol).localCheckpoint(true)
        val ids = readTable(spark, path, dir, kind.idTable)
        val unfolded = ids.join(del, Seq(kind.idCol), "left_semi").count()
        if (unfolded == 0L) 0L
        else {
          def dropDeleted(t: DataFrame) =
            joinKeepingShape(t, del, kind.idCol, "left_anti")
          val live = dropDeleted(ids)
          val writes = kind.tables.reverse.collect {
            case (t, key, fold) if fold != Untouched =>
              val src =
                if (t == kind.idTable) ids else readTable(spark, path, dir, t)
              val kept = fold match {
                case KeepLiveFamilies(fam) => joinKeepingShape(src,
                  live.select(col(fam)).distinct(), fam, "left_semi")
                case _ => dropDeleted(src)
              }
              t -> ((d: String) => kept.repartition(col(key))
                .write.mode("overwrite").parquet(d))
          }
          swapGenerations(spark, path, retainGenerations, retainAge)(writes)
          unfolded
        }
      }
    }

  // ---------------------------------------------------------------
  // Table generations + maintenance (compaction, reap)
  // ---------------------------------------------------------------

  /** Per-table result of [[compactIndex]]: how many data files the
    * rewrite collapsed, and the bytes it moved.
    */
  case class CompactStat(
      table: String, filesBefore: Long, filesAfter: Long, bytes: Long)

  /** The generation manifest: a single small file under the index root
    * naming the ACTIVE generation of every raw table. Generation 0 is
    * the plain `path/table` directory (the layout every save* builder
    * writes — and the only layout that exists until the first
    * compaction); generation g > 0 lives at `path/table__g0000g`.
    * Loads and appends resolve through [[tableDir]], so a maintenance
    * rewrite can land a NEW generation next to the live one and
    * publish it with one atomic single-FILE rename of the manifest —
    * no directory rename, no window where a table directory is absent.
    * A reader that loaded before the swap keeps reading its pinned
    * generation's files (retained until [[reapIndexGenerations]] or
    * the next compaction's grace reap), which is what makes compaction
    * safe to run ONLINE under concurrent readers.
    */
  private val GenManifest = "_generations"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genDirName(t: String, g: Long): String =
    if (g == 0L) t else f"${t}__g$g%05d"

  /** table → active generation from the manifest; empty (all tables at
    * generation 0) when the manifest is absent — the pre-compaction
    * and pre-round-11 layout.
    */
  private def readGenerations(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(path, GenManifest)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      body.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
        // diagnosable parse: a hand-edited or corrupted line must name
        // the manifest and the offending text, not surface as a
        // MatchError/NumberFormatException from deep inside a load.
        // Try(toLong) on top of the digit check: a 20-digit generation
        // passes \d+ but overflows Long — it gets this raise too
        val parsed = line.split("=", 2) match {
          case Array(t, g) if t.nonEmpty && g.matches("\\d+") =>
            scala.util.Try(g.toLong).toOption.map(t -> _)
          case _ => None
        }
        parsed.getOrElse(throw new IllegalArgumentException(
          s"IndexStore: generation manifest $p is corrupt — line " +
            s"'$line' is not '<table>=<generation>'; restore the " +
            "manifest (or delete it to reactivate the plain " +
            "generation-0 table dirs, correct only if the index was " +
            "never compacted)"))
      }.toMap
    }
  }

  /** Publish a new manifest atomically: write aside, then one
    * single-file rename over the live name. A single-file rename is
    * atomic on HDFS and local filesystems, and on object stores it is
    * an atomic whole-object PUT followed by a delete — a reader sees
    * the complete old or complete new manifest, never a torn one.
    * (Contrast with DIRECTORY renames, which object stores implement
    * as per-file copy+delete — the round-10 compactIndex's one
    * documented unsafe window, eliminated by this design.)
    */
  private def writeGenerations(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, gens: Map[String, Long]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(path, GenManifest + "__swap")
    val out = fs.create(tmp, true)
    try out.write(gens.toSeq.sortBy(_._1)
      .map { case (t, g) => s"$t=$g\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
    val live = new org.apache.hadoop.fs.Path(path, GenManifest)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      live.toUri, fs.getConf)
    fc.rename(tmp, live, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Name of the single-writer lease file at the index root (the
    * underscore keeps it invisible to parquet readers, like
    * [[GenManifest]]).
    */
  val LeaseFile = "_lease"

  /** A held (or observed) single-writer lease: `owner` is a per-
    * acquisition UUID, `epoch` increments across acquisitions (pure
    * diagnostics — it names "how many writers have held this index"
    * in error messages), `expiresMs` is the wall-clock steal deadline,
    * `op` names what the holder is doing.
    */
  final case class IndexLease(
      owner: String, epoch: Long, expiresMs: Long, op: String)

  /** Default lease TTL (30 min) — generously above any single append/
    * compact/repair/rebuild at the scales SCALING.md measures; an op
    * expected to outlive it should pass its own `ttlMs` (or
    * re-acquire), because a stolen lease degrades the guarantee back
    * to fence DETECTION for that op.
    */
  val DefaultLeaseTtlMs: Long = 30L * 60L * 1000L

  /** The current lease at `path`, if any — expired leases are returned
    * too (the caller decides whether to steal). Raises a diagnosable
    * error on a corrupt lease file rather than guessing.
    */
  def readIndexLease(spark: SparkSession, path: String): Option[IndexLease] = {
    val fs = fsOf(spark, path)
    readLeaseAt(fs, new org.apache.hadoop.fs.Path(path, LeaseFile))
  }

  /** Write a lease body to a private tmp file and atomically RENAME it
    * over [[LeaseFile]] WITHOUT overwrite — one step that is both the
    * create-if-absent lock primitive and a full-content publish (a
    * plain create-then-write would expose/leave a zero-byte lease if a
    * reader raced the write or the writer crashed between the two —
    * which would wedge every later acquire as "corrupt"). Returns false
    * if the live lease already exists (lost the race).
    */
  private def tryPublishLease(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, lease: IndexLease): Boolean = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(path, s"${LeaseFile}__tmp_${lease.owner}")
    val out = fs.create(tmp, true)
    try out.write(
      (s"owner=${lease.owner}\nepoch=${lease.epoch}\n" +
        s"expires_ms=${lease.expiresMs}\nop=${lease.op}\n")
        .getBytes("UTF-8"))
    finally out.close()
    val live = new Path(path, LeaseFile)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      live.toUri, fs.getConf)
    try { fc.rename(tmp, live); true }
    catch {
      case _: java.io.IOException =>
        fs.delete(tmp, false): Unit
        false
    }
  }

  /** Atomically CLAIM the current lease file by renaming it to a
    * private aside name — of N concurrent stealers/releasers exactly
    * one rename succeeds, which is what makes steal and release
    * single-winner (a read-then-delete would let a second stealer
    * delete the FIRST stealer's fresh lease). Returns the aside path,
    * or None if the file was gone / another claimer won.
    */
  private def claimLeaseFile(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val live = new Path(path, LeaseFile)
    val aside = new Path(path,
      s"${LeaseFile}__claim_${java.util.UUID.randomUUID()}")
    try { if (fs.rename(live, aside)) Some(aside) else None }
    catch { case _: java.io.IOException => None }
  }

  private def readLeaseAt(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[IndexLease] = {
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val kv = body.linesIterator.map(_.trim).filter(_.nonEmpty)
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      val parsed = for {
        o <- kv.get("owner")
        e <- kv.get("epoch").flatMap(s => scala.util.Try(s.toLong).toOption)
        x <- kv.get("expires_ms")
          .flatMap(s => scala.util.Try(s.toLong).toOption)
        op <- kv.get("op")
      } yield IndexLease(o, e, x, op)
      Some(parsed.getOrElse(throw new IllegalArgumentException(
        s"IndexStore: lease file $p is corrupt ('${body.trim}') — " +
          "delete it to clear, but only after confirming no writer " +
          "is live against this index")))
    }
  }

  /** Stores already capability-probed this JVM, keyed by
    * (fs URI, qualified store path) — the probe runs once per STORE,
    * not per acquire, and a result is memoized only when CONCLUSIVE:
    * an inconclusive run (transient fs error, no FileContext for the
    * scheme) re-probes on the store's next acquire instead of
    * permanently suppressing the degraded-store warning.
    */
  private val leaseCapabilityProbed =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Where IndexStore's advisory warnings go (the degraded-lease
    * probe, the replace* crash-retry notice) — a seam so specs can
    * capture them; production default is stderr (no logger dependency,
    * the [[graft.Bench]] convention).
    */
  private[graft] var leaseWarnSink: String => Unit = Console.err.println

  /** Test seam: run `body` with the capability probe's RESULT forced
    * (the local test fs can't be made to overwrite, so the degraded
    * branch is injected; `Some(None)` injects an INCONCLUSIVE probe)
    * and the once-per-store memo cleared on both sides —
    * [[withFenceHook]]'s try/finally discipline, cannot leak into
    * same-JVM production acquires.
    */
  private[graft] var leaseProbeOverride: Option[Option[Boolean]] = None
  private[graft] def withLeaseProbe[T](result: Boolean)(body: => T): T =
    withLeaseProbeOutcome(Some(result))(body)
  private[graft] def withLeaseProbeOutcome[T](
      result: Option[Boolean])(body: => T): T = {
    leaseCapabilityProbed.clear()
    leaseProbeOverride = Some(result)
    try body finally {
      leaseProbeOverride = None
      leaseCapabilityProbed.clear()
    }
  }

  /** CAPABILITY PROBE for the lease's one load-bearing filesystem
    * primitive: rename MUST FAIL when the destination exists
    * (rename-no-overwrite is both the create-if-absent lock step of
    * [[tryPublishLease]] and the single-winner claim of
    * [[claimLeaseFile]]). HDFS and local filesystems have it; S3-class
    * object stores emulate rename as copy+delete and may happily
    * overwrite — there the lease silently degrades to ADVISORY (two
    * writers can both "hold" it) with the generation fence and
    * monotone guards as the only backstop. This probe converts that
    * SILENT degradation into a loud once-per-store warning: two probe
    * files, one rename-onto-existing via the exact
    * FileContext.rename call the lease uses — atomic stores throw,
    * degraded stores overwrite. Returns true when the primitive holds.
    */
  private[graft] def probeRenameNoOverwrite(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val tag = java.util.UUID.randomUUID()
    val a = new Path(path, s"${LeaseFile}__probe_a_$tag")
    val b = new Path(path, s"${LeaseFile}__probe_b_$tag")
    def put(p: Path): Unit = {
      val out = fs.create(p, true)
      try out.write("probe\n".getBytes("UTF-8")) finally out.close()
    }
    try {
      put(a); put(b)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        a.toUri, fs.getConf)
      try { fc.rename(b, a); false } // overwrote a live destination
      catch { case _: java.io.IOException => true }
    } finally {
      // exception-safe cleanup; a crash-left probe file is additionally
      // covered by compactIndex's lease-debris reaper (__probe_ prefix)
      try fs.delete(a, false) catch { case _: java.io.IOException => () }
      try fs.delete(b, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Acquire the single-writer LEASE on the index at `path` —
    * PREVENTION for the exclusivity contract the append-commit fence
    * can only DETECT after the work is spent. Every mutating op here
    * (the append family, compactIndex, repairTextIndex, rebuildIvf,
    * and the save* builders) acquires
    * it for the duration of its writes; a second concurrent writer
    * raises AT ACQUIRE, before reading a row. Acquisition PUBLISHES
    * [[LeaseFile]] by write-tmp-then-rename-no-overwrite — one atomic
    * step that is both the create-if-absent lock primitive and a
    * full-content publish, so no reader or crash window can ever
    * observe a half-written lease (atomic on HDFS and local
    * filesystems; object stores need atomic-rename/conditional-PUT
    * support — where absent, the lease degrades to advisory and the
    * fence remains the detector, stated honestly). A lease left by a
    * CRASHED holder expires after its TTL: the next acquire STEALS it
    * by atomic claim-rename — of N concurrent stealers exactly one
    * wins, and the claimed bytes are re-checked for expiry (a FRESH
    * lease acquired inside the inspection window is restored, never
    * stolen) — then publishes its own (epoch + 1), so a crash never
    * wedges the index.
    *
    * The lease is cooperative (writers that bypass this API — raw
    * parquet writes into the table dirs — are invisible to it) and
    * TTL-bounded: an op outliving its TTL can lose the lease to a
    * steal, at which point the generation fence and the monotone-id
    * guards are the backstop, exactly as before round 13. Returns the
    * held lease; pass it to [[releaseIndexLease]] when done.
    */
  def acquireIndexLease(
      spark: SparkSession,
      path: String,
      op: String,
      ttlMs: Long = DefaultLeaseTtlMs): IndexLease = {
    require(ttlMs > 0, "IndexStore.acquireIndexLease: ttlMs must be positive")
    val fs = fsOf(spark, path)
    // once per STORE per JVM: warn LOUDLY when the store cannot give
    // the lease its exclusivity primitive (see the probe's doc). An
    // inconclusive probe (fs error, no FileContext for the scheme)
    // must not fail the acquire — it is a warn-only diagnostic; stay
    // silent, but DON'T memoize (the next acquire re-probes), so a
    // transient first-acquire error never permanently suppresses the
    // warning. The lease's own operations fail loudly if the store is
    // actually broken.
    // the qualified path embeds scheme + authority, so it IS the
    // (filesystem, store) pair on its own
    val probeKey =
      fs.makeQualified(new org.apache.hadoop.fs.Path(path)).toString
    if (!leaseCapabilityProbed.containsKey(probeKey)) {
      val probed: Option[Boolean] = leaseProbeOverride.getOrElse(
        scala.util.Try(probeRenameNoOverwrite(fs, path)).toOption)
      probed.foreach { atomic =>
        if (leaseCapabilityProbed.putIfAbsent(
            probeKey, java.lang.Boolean.valueOf(atomic)) == null && !atomic)
          leaseWarnSink(
            s"IndexStore.$op: the filesystem at ${fs.getUri} does NOT " +
              "fail rename-onto-existing — the single-writer lease " +
              s"DEGRADES TO ADVISORY on the store at $path (two writers " +
              "can both acquire it). The generation fence and " +
              "monotone-id guards remain the backstop; serialize " +
              "writers externally, or host indexes on a store with " +
              "atomic rename (HDFS, local, most NFS)")
      }
    }
    def freshLease(epoch: Long) = IndexLease(
      java.util.UUID.randomUUID().toString, epoch,
      System.currentTimeMillis() + ttlMs, op)
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      val prevEpoch = readIndexLease(spark, path) match {
        case Some(cur) if cur.expiresMs >= System.currentTimeMillis() =>
          throw new IllegalStateException(
            s"IndexStore.$op: the index at $path is locked by a live " +
              s"single-writer lease (op=${cur.op}, epoch=${cur.epoch}, " +
              s"expires in ${cur.expiresMs - System.currentTimeMillis()} " +
              "ms) — a second concurrent writer would race its " +
              "generation resolution. Wait for the holder to finish " +
              "(the lease self-expires if it crashed), then retry")
        case Some(cur) =>
          // crashed holder: the TTL elapsed — STEAL by atomic claim
          // (rename aside): of N concurrent stealers exactly one wins;
          // the losers loop and see whatever the winner published
          claimLeaseFile(fs, path) match {
            case None => -1L // another claimer won — re-inspect
            case Some(aside) =>
              // the claimed file may not be the one we read (the
              // holder could have released and a NEW writer acquired
              // in the window): re-check expiry on the CLAIMED bytes
              val claimed = readLeaseAt(fs, aside)
              if (claimed.exists(_.expiresMs >=
                  System.currentTimeMillis())) {
                // we grabbed a LIVE lease — restore it and refuse;
                // if the restore loses a race, the live holder's own
                // release raises loudly (stolen-release detection)
                val live = new org.apache.hadoop.fs.Path(path, LeaseFile)
                try fs.rename(aside, live)
                catch { case _: java.io.IOException => () }
                throw new IllegalStateException(
                  s"IndexStore.$op: the index at $path is locked by a " +
                    "live single-writer lease (acquired concurrently " +
                    "with this attempt) — retry after it completes")
              }
              fs.delete(aside, false): Unit
              claimed.map(_.epoch).getOrElse(cur.epoch)
          }
        case None => 0L
      }
      if (prevEpoch >= 0L) {
        val lease = freshLease(prevEpoch + 1)
        if (tryPublishLease(fs, path, lease)) return lease
        // lost the publish race — re-inspect who holds it now
      }
    }
    throw new IllegalStateException(
      s"IndexStore.$op: could not acquire the single-writer lease at " +
        s"$path/$LeaseFile after 3 attempts — either writers are " +
        "churning it faster than this one can observe, or the " +
        "filesystem is failing lease publishes; inspect the file")
  }

  /** Release a lease taken by [[acquireIndexLease]]. Idempotent when
    * the file is already gone; RAISES if the file now carries a
    * DIFFERENT owner — that means this op outlived its TTL and a
    * second writer stole the lease mid-op (the interleaving the TTL
    * documents): the generation fence has either raised already or
    * the racing writer's guards will — run checkIndex before trusting
    * the index.
    */
  def releaseIndexLease(
      spark: SparkSession, path: String, lease: IndexLease): Unit = {
    val fs = fsOf(spark, path)
    // atomic claim-then-check (not read-then-delete): renaming the live
    // file aside first means a stealer racing this release can never
    // have ITS fresh lease deleted by us — exactly one party gets the
    // file, and if the claimed bytes turn out to be another owner's we
    // restore them and raise
    claimLeaseFile(fs, path) match {
      case None => () // already gone — idempotent
      case Some(aside) =>
        val cur = readLeaseAt(fs, aside)
        if (cur.exists(_.owner == lease.owner)) {
          fs.delete(aside, false): Unit
        } else {
          val live = new org.apache.hadoop.fs.Path(path, LeaseFile)
          try fs.rename(aside, live)
          catch { case _: java.io.IOException => () }
          throw new IllegalStateException(
            s"IndexStore: releasing the ${lease.op} lease at $path found " +
              s"it held by ANOTHER writer (op=${cur.map(_.op).getOrElse("?")}, " +
              s"epoch=${cur.map(_.epoch).getOrElse(-1L)}) — this " +
              s"${lease.op} outlived its TTL and the lease was stolen " +
              "mid-op; exclusivity was violated for the overlap window. " +
              "Run checkIndex and let the fence/monotone-guard " +
              "recoveries arbitrate")
        }
    }
  }

  /** Run `body` under the single-writer lease: acquire → body →
    * release, with a body failure taking precedence over any release
    * failure (the body's error is the actionable one). A raise INSIDE
    * body still releases — the JVM is alive, so no concurrent writer
    * remains; only a hard crash leaves the lease for TTL expiry.
    */
  private def withIndexLease[T](
      spark: SparkSession, path: String, op: String,
      ttlMs: Long = DefaultLeaseTtlMs)(body: => T): T =
    withIndexLeaseOf(spark, path, op, ttlMs)(_ => body)

  /** [[withIndexLease]] with the acquired lease handed to `body` —
    * for callers that need the owner id (the shard-lease verify).
    */
  private def withIndexLeaseOf[T](
      spark: SparkSession, path: String, op: String,
      ttlMs: Long)(body: IndexLease => T): T = {
    val lease = acquireIndexLease(spark, path, op, ttlMs)
    var primary: Throwable = null
    try body(lease)
    catch { case t: Throwable => primary = t; throw t }
    finally {
      try releaseIndexLease(spark, path, lease)
      catch { case t: Throwable => if (primary == null) throw t }
    }
  }

  /** The ACTIVE directory of a raw index table (public: specs and
    * tooling that inspect raw tables must resolve through the
    * generation manifest once an index has been compacted).
    */
  def tableDir(spark: SparkSession, path: String, table: String): String =
    tableDirs(spark, path)(table)

  /** Resolve the manifest ONCE for a multi-table operation. */
  private def tableDirs(spark: SparkSession, path: String): String => String =
    resolvedDirs(spark, path)._2

  /** [[tableDirs]] plus the raw generation map it resolved — appends
    * keep the map to fence their commit against a concurrent external
    * compaction ([[requireGenerationsUnmoved]]).
    */
  private def resolvedDirs(
      spark: SparkSession, path: String): (Map[String, Long], String => String) = {
    val gens = readGenerations(fsOf(spark, path), path)
    (gens, t => s"$path/${genDirName(t, gens.getOrElse(t, 0L))}")
  }

  /** Test seam for the append-commit fence: invoked by every append
    * right after its manifest resolution, so a spec can interleave a
    * compaction into the exact window the fence exists to detect.
    * No-op in production.
    */
  private var appendFenceTestHook: () => Unit = () => ()

  /** Run `body` with the fence test seam set to `hook`, resetting it
    * unconditionally afterwards — the seam cannot leak past a failing
    * test body into production appends sharing the JVM (a bare var
    * assignment could). Tests only; not thread-safe across parallel
    * suites, like the seam itself.
    */
  private[graft] def withFenceHook[T](hook: () => Unit)(body: => T): T = {
    appendFenceTestHook = hook
    try body finally appendFenceTestHook = () => ()
  }

  /** The append-commit generation FENCE: raise if any written table's
    * active generation moved since the append resolved the manifest —
    * i.e. an external [[compactIndex]] (or repair/rebuild) ran
    * concurrently with this append, violating the documented
    * exclusivity contract. A racing save* REBUILD is additionally
    * caught through meta/ (its reset deletes meta FIRST, the builder
    * re-writes it LAST): generation numbers alone would miss a rebuild
    * racing an index still at generation 0 — 0 -> 0 compares equal. The rewrite typically scanned the table
    * BEFORE this append's files landed, so the just-published
    * generation is missing them: without this check the rows would be
    * silently dropped (the appended files sit in the now-retired
    * directory); with it the loss is converted to a loud raise naming
    * the race. Recovery is NOT blind re-append: the racing rewrite's
    * listing may have caught a SUBSET of this append's part-files
    * mid-job-commit, leaving a PARTIAL batch in the new generation —
    * run [[checkIndex]] first (a partial multi-table append surfaces
    * as its torn-state findings) and let the re-run's own guards
    * arbitrate: a clean miss re-appends normally; a partial capture
    * trips the monotone-id guard (raw appends) or the torn-state
    * raise at load (ingest rounds), whose documented recovery —
    * repair or prune the partial id range — then applies. Detection,
    * not prevention — an append that commits after the rewrite's scan
    * but before its swap still loses the window. Since round 13
    * PREVENTION is the single-writer LEASE ([[acquireIndexLease]] —
    * every mutator here holds it), so a well-behaved second writer
    * never reaches this window; the fence remains the backstop for
    * the cases the lease cannot cover (a writer bypassing the API, an
    * op outliving its TTL and losing a steal, object stores without
    * atomic create-if-absent).
    */
  private def requireGenerationsUnmoved(
      spark: SparkSession,
      path: String,
      resolved: Map[String, Long],
      tables: Seq[String],
      op: String): Unit = {
    val fs = fsOf(spark, path)
    // generation numbers alone have a gen-0 blind spot: a racing save*
    // REBUILD resets every table to generation 0, so against an index
    // still at generation 0 the compare is 0 -> 0 and passes. The
    // rebuild's reset deletes meta/ FIRST and the builder re-writes it
    // LAST (its commit record), so a missing meta/ here is an in-flight
    // rebuild — raise on that too
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "meta")))
      throw new IllegalStateException(
        s"IndexStore.$op: the index at $path is being REBUILT while " +
          "this append was writing (meta/ is gone — a save* builder's " +
          "reset runs first, its meta re-write lands last) — this " +
          "append's files land in directories the rebuild is about to " +
          "overwrite. Wait for the rebuild's meta/ to reappear, then " +
          "re-run the append; restore the single-appender exclusivity " +
          "the rebuild contract requires")
    val now = readGenerations(fs, path)
    val moved = tables
      .map(t => (t, resolved.getOrElse(t, 0L), now.getOrElse(t, 0L)))
      .filter { case (_, a, b) => a != b }
    if (moved.nonEmpty) throw new IllegalStateException(
      s"IndexStore.$op: the index at $path was compacted/rebuilt while " +
        s"this append was writing (" +
        moved.map { case (t, a, b) => s"$t generation $a -> $b" }
          .mkString(", ") +
        ") — this append's files landed in the retired generation and " +
        "the newly published one holds NONE or (if the rewrite listed " +
        "mid-commit) PART of them. Run checkIndex, then re-run the " +
        "append: a clean miss re-appends normally, a partial capture " +
        "trips the monotone-id guard / torn-state raise whose " +
        "documented repair-or-prune recovery applies. Restore the " +
        "single-appender exclusivity the compaction contract requires")
  }

  /** Reset an index root to the generation-0 layout before a full
    * rebuild (every save* builder): drop `meta/`, then the manifest —
    * the plain table dirs the builder is about to overwrite become
    * active again — then clear stale generation dirs and legacy
    * compaction debris. META FIRST, and the builders re-write it LAST
    * (their commit record): every load resolves the kind through
    * `meta/`, so a crash anywhere between this reset and the builder's
    * final writeMeta makes loads fail loudly on the missing meta
    * instead of silently serving the reactivated generation-0 dirs —
    * which, after a compaction, are stale (missing every
    * post-compaction append) or gone entirely. A crash mid-reset
    * (manifest still present, meta gone) fails the same way; the next
    * rebuild re-runs the reset.
    */
  private def resetGenerations(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return
    fs.delete(new org.apache.hadoop.fs.Path(path, "meta"), true): Unit
    evictMeta(path)
    fs.delete(new org.apache.hadoop.fs.Path(path, GenManifest), false): Unit
    // OPTIONAL tables no builder rewrites (the text kind's tombstones):
    // a stale graveyard surviving the rebuild would silently delete the
    // NEW index's documents that happen to share the old ids
    fs.delete(new org.apache.hadoop.fs.Path(path, "deletes"), true): Unit
    val stale = fs.listStatus(root).filter { s =>
      val n = s.getPath.getName
      s.isDirectory && (n.matches(".*__g\\d+$") ||
        n.endsWith("__old") || n.endsWith("__compacting"))
    }
    stale.foreach(s => fs.delete(s.getPath, true): Unit)
  }

  /** Delete every NON-ACTIVE generation directory under `path` and
    * return the reclaimed directory names. [[compactIndex]] retains
    * the immediately-prior generation so readers pinned at a pre-swap
    * load keep a valid file listing; call this on the operator's own
    * cadence, once no reader can still hold a pre-swap load (e.g.
    * after the gates' next restart). With `olderThan` set, only
    * retired generations whose retire stamp ([[reapRetired]]'s mtime
    * semantics) is older than the window are reclaimed — the manual
    * twin of `retainAge`. Never touches the active generation or the
    * manifest.
    */
  def reapIndexGenerations(
      spark: SparkSession, path: String,
      olderThan: Option[java.time.Duration] = None): Seq[String] = {
    val fs = fsOf(spark, path)
    val gens = readGenerations(fs, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val cutoff = olderThan.map(d => System.currentTimeMillis() - d.toMillis)
    val GenRe = "(.*)__g(\\d+)$".r
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        s.getPath.getName match {
          case GenRe(t, g) if g.toLong != gens.getOrElse(t, 0L) => Some(s)
          // a plain table dir is generation 0: stale iff the manifest
          // points that table somewhere newer
          case n if gens.getOrElse(n, 0L) != 0L => Some(s)
          case _ => None
        }
      }
      // the mtime is already on the listing's FileStatus — no re-stat
      .filter(s => cutoff.forall(s.getModificationTime < _))
      .map { s => fs.delete(s.getPath, true); s.getPath.getName }
  }

  /** Per-table storage report for [[describeIndex]]. */
  case class TableStat(
      table: String, generation: Long, files: Long, bytes: Long,
      staleGenerations: Long)

  /** Operator's-eye view of a persisted index: one row per raw table
    * with its ACTIVE generation, data-file count, byte size, and how
    * many retired generation dirs are still on disk awaiting
    * [[reapIndexGenerations]]. Pure filesystem listings — no Spark
    * jobs, no row scans — so it is safe to call on any cadence (the
    * file count is the number compaction exists to bound; alert on
    * it). Works for every index kind.
    */
  def describeIndex(spark: SparkSession, path: String): Seq[TableStat] = {
    val tables = kindOf(spark, path, "describeIndex").allTables
    val fs = fsOf(spark, path)
    val gens = readGenerations(fs, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val entries = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    tables.flatMap { case (t, _) =>
      val g = gens.getOrElse(t, 0L)
      val dir = new org.apache.hadoop.fs.Path(s"$path/${genDirName(t, g)}")
      // an OPTIONAL table that never materialized (no live dir, no
      // manifest entry — e.g. deletes on a never-deleted index) gets
      // no report row; a MANDATORY table's missing dir still reports
      // 0 files, which is the diagnostic a torn index wants
      if (t == "deletes" && !gens.contains(t) && !fs.exists(dir)) None
      else Some {
      val data =
        if (!fs.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
        else fs.listStatus(dir).filter(s => s.isFile && {
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
      val GenRe = s"${java.util.regex.Pattern.quote(t)}__g(\\d+)$$".r
      val stale = entries.count {
        case GenRe(gg) => gg.toLong != g
        case n => n == t && g != 0L // plain dir retired by a compaction
      }
      TableStat(t, g, data.length.toLong, data.map(_.getLen).sum,
        stale.toLong)
      }
    }
  }

  /** One consistency finding from [[checkIndex]]. */
  case class CheckFinding(
      table: String, check: String, severity: String, detail: String)

  /** On-demand consistency fsck for a persisted index of ANY kind —
    * the same invariants the loads/appends enforce, packaged as a
    * REPORT instead of a raise, for maintenance tooling that wants to
    * inspect before it loads (a raise mid-pipeline is the right
    * default; a scheduled auditor wants the full list). Findings:
    *  - corpus/vector: member groups with no sets/reps row (severity
    *    `unhealable` — the group key is lost; rebuild or prune), and
    *    sets/reps with shingles/vector but no band/block rows
    *    (severity `healable` — the next append backfills them).
    *  - media: member signatures with no band rows (`healable`).
    *  - text: doclen rows with no postings, and postings with no
    *    doclen row (both `repairable` — [[repairTextIndex]] prunes
    *    either direction).
    *  - ivf: duplicate assignment ids (`unhealable` — every probe
    *    double-counts; rebuild via [[rebuildIvf]]); assignments whose
    *    list_id has no centroids row (`unhealable` — unreachable by
    *    every probe); centroid count vs the meta n_lists label
    *    (`repairable` — informational, but it misleads nProbe sizing).
    * Empty result = every invariant holds. Costs one or two narrow
    * aggregates/anti-joins per table — run it on the maintenance
    * cadence, not per probe (loads already fast-path the same checks).
    */
  def checkIndex(spark: SparkSession, path: String): Seq[CheckFinding] = {
    val kind = readMeta(spark, path).getOrElse("kind",
      throw new IllegalArgumentException(
        s"IndexStore.checkIndex: $path/meta carries no index kind"))
    val dir = tableDirs(spark, path)
    def orphanCount(
        members: DataFrame, keyCol: String, groups: DataFrame): Long =
      members.select(col(keyCol)).distinct()
        .join(groups.select(col(keyCol)), Seq(keyCol), "left_anti")
        .count()
    kind match {
      case "corpus" =>
        val sets = readTable(spark, path, dir, "sets")
        val members = readTable(spark, path, dir, "members")
        val bands = readTable(spark, path, dir, "bands")
        val lost = orphanCount(members, "corpus_id", sets)
        val unbanded = orphanCount(
          sets.where(size(col("sh")) > 0), "corpus_id",
          bands.select(col("corpus_id")).distinct())
        Seq(
          if (lost > 0) Some(CheckFinding("members", "group-key-coverage",
            "unhealable", s"$lost member group(s) have no sets row — " +
              "group text lost; rebuild or prune")) else None,
          if (unbanded > 0) Some(CheckFinding("sets", "band-coverage",
            "healable", s"$unbanded set(s) lack band rows — " +
              "the next appendCorpusIndex heals them")) else None).flatten
      case "vector" =>
        val reps = readTable(spark, path, dir, "reps")
        val members = readTable(spark, path, dir, "members")
        val blocks = readTable(spark, path, dir, "blocks")
        val lost = orphanCount(members, "rep_id", reps)
        val unblocked = orphanCount(reps, "rep_id",
          blocks.select(col("rep_id")).distinct())
        Seq(
          if (lost > 0) Some(CheckFinding("members", "group-key-coverage",
            "unhealable", s"$lost member group(s) have no reps row — " +
              "group vector lost; rebuild or prune")) else None,
          if (unblocked > 0) Some(CheckFinding("reps", "block-coverage",
            "healable", s"$unblocked rep(s) lack block rows — " +
              "the next appendVectorIndex heals them")) else None).flatten
      case "media" =>
        val members = readTable(spark, path, dir, "members")
        val bands = readTable(spark, path, dir, "bands")
        val unbanded = members.select(col("dh")).distinct()
          .join(bands.select(col("dh")).distinct(), Seq("dh"), "left_anti")
          .count()
        if (unbanded > 0) Seq(CheckFinding("members", "band-coverage",
          "healable", s"$unbanded signature(s) lack band rows — " +
            "the next appendMediaIndex heals them"))
        else Seq.empty
      case "text" =>
        val doclen = readTable(spark, path, dir, "doclen")
        val postings = readTable(spark, path, dir, "postings")
        // one full-outer join at doc grain surfaces all three torn
        // shapes (the same rule repairTextIndex prunes by)
        val perDoc = doclen.select(col("doc_id"), col("dl"))
          .join(postings.groupBy(col("doc_id"))
            .agg(sum(col("tf")).as("__tf")), Seq("doc_id"), "full_outer")
          .select(col("dl").isNull.as("__noDl"), col("__tf").isNull
            .as("__noTf"), (col("dl") =!= col("__tf")).as("__mis"))
          .agg(coalesce(sum(when(col("__noTf"), 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(when(col("__noDl"), 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(when(col("__mis"), 1L).otherwise(0L)), lit(0L)))
          .head()
        val orphans = perDoc.getLong(0)
        val reverse = perDoc.getLong(1)
        val partial = perDoc.getLong(2)
        Seq(
          if (orphans > 0) Some(CheckFinding("doclen", "postings-coverage",
            "repairable", s"$orphans doc(s) have doclen rows but no " +
              "postings — they skew idf/avgdl; run repairTextIndex"))
          else None,
          if (reverse > 0) Some(CheckFinding("postings", "doclen-coverage",
            "repairable", s"$reverse doc(s) have postings but no doclen " +
              "row (external/legacy half-index — this library writes " +
              "doclen first) — they inflate df and never score; run " +
              "repairTextIndex"))
          else None,
          if (partial > 0) Some(CheckFinding("postings", "tf-sum-identity",
            "repairable", s"$partial doc(s) have dl ≠ Σtf with both " +
              "tables present (partial postings — e.g. a rewrite raced " +
              "an append mid-commit) — under-scored and df-skewed; run " +
              "repairTextIndex"))
          else None).flatten
      case "ivf" =>
        val assign = readTable(spark, path, dir, "assign")
        val centroids = readTable(spark, path, dir, "centroids")
        val dups = assign.groupBy(col("id")).agg(count(lit(1)).as("__n"))
          .where(col("__n") > 1).count()
        // referential integrity: an assignment pointing at a list with
        // no centroid row can never be probed (search selects lists by
        // centroid distance) — its vector silently vanished from recall
        val badRefs = assign.select(col("list_id")).distinct()
          .join(centroids.select(col("list_id")), Seq("list_id"),
            "left_anti").count()
        // meta n_lists is informational (loads derive the true count
        // from the centroids table), but a drifted label misleads the
        // operator sizing nProbe — e.g. a crash between rebuildIvf's
        // swap and its meta rewrite
        val nCentroids = centroids.count()
        val metaLists = readMeta(spark, path).get("n_lists").map(_.toLong)
        Seq(
          if (dups > 0) Some(CheckFinding("assign", "id-uniqueness",
            "unhealable", s"$dups id(s) assigned more than once — every " +
              "probe double-counts them; rebuild via rebuildIvf"))
          else None,
          if (badRefs > 0) Some(CheckFinding("assign", "centroid-coverage",
            "unhealable", s"$badRefs list_id(s) in assign have no " +
              "centroids row — their vectors are unreachable by every " +
              "probe; rebuild via rebuildIvf"))
          else None,
          if (metaLists.exists(_ != nCentroids))
            Some(CheckFinding("centroids", "count-vs-meta", "repairable",
              s"meta says n_lists=${metaLists.get} but the centroids " +
                s"table has $nCentroids rows — loads use the table (the " +
                "label is informational), but rerun rebuildIvf or fix " +
                "the meta row so operators sizing nProbe see the truth"))
          else None).flatten
      case k => throw new IllegalArgumentException(
        s"IndexStore.checkIndex: unknown index kind '$k'")
    }
  }

  /** Rewrite the given tables as their NEXT generations and publish
    * them with one atomic manifest swap — the shared write-aside
    * machinery of the maintenance ops ([[compactIndex]] inlines the
    * same flow to collect per-table stats). Each `write` callback
    * receives the next-generation directory to write into; nothing
    * live is touched until every write has finished and the manifest
    * rename publishes them all together. Grace-reaps all but the
    * `retain` most recent RETIRED generations, exactly like
    * [[compactIndex]]'s `retainGenerations` (same reader-lifetime
    * bound: a pinned reader survives `retain` subsequent swaps).
    */
  private def swapGenerations(
      spark: SparkSession, path: String, retain: Int = 1,
      retainAge: Option[java.time.Duration] = None)(
      writes: Seq[(String, String => Unit)]): Unit = {
    requireRetention(retain, retainAge)
    val fs = fsOf(spark, path)
    val gens = readGenerations(fs, path)
    val next = writes.map { case (t, w) =>
      val g = gens.getOrElse(t, 0L) + 1L
      w(s"$path/${genDirName(t, g)}")
      t -> g
    }
    writeGenerations(fs, path, gens ++ next)
    next.foreach { case (t, g) => reapRetired(fs, path, t, g, retain,
      retainAge) }
  }

  private def requireRetention(
      retain: Int, retainAge: Option[java.time.Duration]): Unit = {
    require(retain >= 1,
      "IndexStore: generation swaps must retain >= 1 retired generation " +
        "for readers pinned at a pre-swap load")
    require(retainAge.forall(a => !a.isNegative && !a.isZero),
      "IndexStore: retainAge must be a positive grace window — a " +
        "reader pinned at a pre-swap load needs its files to survive " +
        "at least until it finishes")
  }

  /** Grace-reap a table's RETIRED generations right after a swap
    * published generation `next`. Two modes: count-based (default —
    * keep the `retain` most recent retired generations, reap older),
    * or AGE-based when `retainAge` is set — a retired generation
    * survives while its RETIRE stamp is younger than the window,
    * letting operators bound the grace period by reader/gate LIFETIME
    * instead of guessing a swap count against an unknown compaction
    * cadence. The retire stamp is the generation dir's mtime, SET HERE
    * at the swap that retires it: a dir's natural mtime is its WRITE
    * time, which can be arbitrarily old by retirement — counting age
    * from that would reap a generation retired seconds ago out from
    * under a reader pinned just before the swap. (Generations retired
    * BEFORE round 13 carry only their write-time mtime, so an
    * age-based reap may reclaim them early — acceptable: they are at
    * least as old as their stamp claims.) Age mode supersedes the
    * count rule; the just-retired generation is stamped fresh so it
    * always survives its own swap.
    */
  private def reapRetired(
      fs: org.apache.hadoop.fs.FileSystem, path: String, table: String,
      next: Long, retain: Int,
      retainAge: Option[java.time.Duration]): Unit = {
    import org.apache.hadoop.fs.Path
    val nowMs = System.currentTimeMillis()
    val justRetired = new Path(s"$path/${genDirName(table, next - 1L)}")
    if (fs.exists(justRetired)) fs.setTimes(justRetired, nowMs, -1L)
    retainAge match {
      case None =>
        (0L until (next - retain.toLong)).foreach { g =>
          fs.delete(new Path(s"$path/${genDirName(table, g)}"), true): Unit
        }
      case Some(age) =>
        val cutoff = nowMs - age.toMillis
        (0L until next).foreach { g =>
          val p = new Path(s"$path/${genDirName(table, g)}")
          if (fs.exists(p) &&
              fs.getFileStatus(p).getModificationTime < cutoff)
            fs.delete(p, true): Unit
        }
    }
  }

  /** Repair the text index by pruning every PER-DOC-INCONSISTENT doc
    * (dl ≠ Σtf, either side missing counts as mismatched), returned at
    * doc grain — all three torn shapes in one rule: doclen rows whose
    * postings append was lost in a crash (this library's own shape —
    * [[loadTextIndex]]'s raise; stranded rows inflate N and Σdl),
    * postings with no doclen row (impossible from this library's
    * doclen-first writers; an external/legacy half-index — inflates df,
    * never scores), and PARTIAL postings (dl ≠ Σtf with both sides
    * present — e.g. a rewrite that raced an append captured a subset
    * of its part-files; silently under-scores the doc AND shifts df).
    * The doc text is not stored, so an inconsistent doc's entry cannot
    * be completed — pruning restores exactly the index a rebuild
    * without those docs would produce, lossless for every surviving
    * document, completing the heal parity the other index kinds
    * already have. Only tables that actually carry bad rows are
    * rewritten (the common crash shape touches doclen alone — the
    * large postings table is not re-copied for it), published by one
    * atomic manifest rename ([[swapGenerations]]) — a crash mid-repair
    * leaves the old (still torn, still detected) tables fully intact.
    * The pruned ids themselves are NOT freed: the monotone-id append
    * contract keys on doclen ∪ postings ids, and the pruned rows
    * vanish from both, so re-ingesting the lost docs requires fresh
    * ids (scaladoc'd over [[appendTextIndex]]'s guard — reusing a
    * pruned id would otherwise be indistinguishable from a reused id
    * range).
    */
  def repairTextIndex(
      spark: SparkSession, path: String,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Long = {
    withIndexLease(spark, path, "repairTextIndex") {
      metaOf(spark, path, "text")
      val dir = tableDirs(spark, path)
      val doclen = readTable(spark, path, dir, "doclen")
      val postings = readTable(spark, path, dir, "postings")
      // the unified per-doc consistency rule: dl is BY CONSTRUCTION the
      // sum of the doc's tf ([[TextAnalysis.textIndex]]), so a doc is
      // healthy iff dl == Σtf with both sides present. One full-outer
      // join at doc grain catches all three torn shapes: doclen-only
      // (Σtf null — this library's crash shape), postings-only (dl null
      // — an external half-index), and PARTIAL postings (dl ≠ Σtf —
      // e.g. a rewrite that raced an append captured a subset of its
      // part-files), which the two directional anti-joins alone would
      // both miss, returning 0 while the index stays unloadable.
      val bad = doclen.select(col("doc_id"), col("dl"))
        .join(postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("__tf")),
          Seq("doc_id"), "full_outer")
        .where(col("dl").isNull || col("__tf").isNull ||
          col("dl") =!= col("__tf"))
        .select(col("doc_id"))
        .localCheckpoint(true)
      val nBad = bad.count()
      if (nBad > 0L) {
        // rewrite only the tables that actually carry bad rows (the
        // common crash shape touches doclen alone; postings is usually
        // the LARGE table and skipping its rewrite matters)
        val dlBad = doclen.join(bad, Seq("doc_id"), "left_semi")
          .limit(1).count() > 0
        val pBad = postings.join(bad, Seq("doc_id"), "left_semi")
          .limit(1).count() > 0
        val writes = Seq(
          if (dlBad) Some("doclen" -> { (d: String) =>
            doclen.join(bad, Seq("doc_id"), "left_anti")
              .repartition(col("doc_id"))
              .write.mode("overwrite").parquet(d)
          }) else None,
          if (pBad) Some("postings" -> { (d: String) =>
            postings.join(bad, Seq("doc_id"), "left_anti")
              .repartition(col("term"))
              .write.mode("overwrite").parquet(d)
          }) else None).flatten
        swapGenerations(spark, path, retainGenerations, retainAge)(writes)
      }
      nBad
    }
  }

  /** Rebuild a persisted IVF model in place — the documented read-side
    * maintenance under ingest drift ([[IvfIndex]] lifecycle posture:
    * centroids are a snapshot of the TRAINING distribution; under
    * sustained [[appendIvf]] growth the lists skew and recall decays,
    * and the correct maintenance is a periodic retrain, which this op
    * makes runnable): retrain the coarse quantizer on `corpus` (the
    * caller supplies the vectors — the stored assign table carries
    * only (id, list_id), deliberately, since [[IvfIndex.search]] reads
    * vectors from the corpus too), reassign every vector, and publish
    * both rewritten tables with one atomic manifest swap
    * ([[swapGenerations]]) — readers pinned at a pre-rebuild load keep
    * their generation, exactly like [[compactIndex]]; a crash
    * mid-rebuild leaves the old model fully intact. `nLists` defaults
    * to the stored model's; when overridden, the meta row is rewritten
    * AFTER the swap (n_lists in meta is informational — loads derive
    * the true count from the centroids table — so the tiny
    * post-publish crash window leaves a stale label, not a wrong
    * model). Run on the compaction cadence; rebuild ≡ fresh
    * [[IvfIndex.build]] over the same corpus (IndexStoreSpec).
    */
  def rebuildIvf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nLists: Int = -1,
      seed: Long = 42L,
      trainFraction: Double = Double.NaN,
      maxTrainRows: Long = 200000L,
      kmeansMaxIter: Int = 20,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Unit = {
    val spark = corpus.sparkSession
    withIndexLease(spark, path, "rebuildIvf") {
      import spark.implicits._
      val m = metaOf(spark, path, "ivf")
      val k = if (nLists > 0) nLists else m("n_lists").toInt
      val model = IvfIndex.build(corpus, idCol, vecCol, k, seed,
        trainFraction, maxTrainRows, kmeansMaxIter)
      val cdf = model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("list_id", "centroid").coalesce(1)
      swapGenerations(spark, path, retainGenerations, retainAge)(Seq(
        "centroids" -> (d => cdf.write.mode("overwrite").parquet(d)),
        "assign" -> (d => model.assignments.repartition(col("list_id"))
          .write.mode("overwrite").parquet(d))))
      if (k.toString != m("n_lists"))
        writeMeta(spark, path, (m + ("n_lists" -> k.toString)).toSeq)
    }
  }

  /** Compact a persisted index of ANY kind: rewrite each raw table —
    * same rows, same clustering key — into
    * ceil(bytes / targetBytesPerFile) files. The long-running-index
    * maintenance op: every ingest round and every streaming
    * foreachBatch trigger appends a handful of small parquet files, so
    * after thousands of triggers a table is thousands of files and
    * every load/gate construction pays the full listing plus
    * per-file-footer overhead; compaction restores scan-sized files
    * without touching semantics (compact ≡ append-chain, proved in
    * IndexStoreSpec). The id-monotone append contract is untouched —
    * rows are moved, never rewritten.
    *
    * Each table's rewrite lands as a NEW generation directory next to
    * the live one; when every table is written, one atomic single-file
    * rename of the generation manifest publishes them all together
    * (see [[GenManifest]] — no directory renames, so the swap is safe
    * on object stores too, round-10's one documented gap). Crash
    * posture: a crash anywhere before the manifest swap leaves the
    * manifest — and therefore every reader and the next append —
    * on the old generations, with partially-written next-generation
    * dirs as inert debris that the next compaction overwrites
    * (mode=overwrite) and reaps.
    *
    * Safe under concurrent READERS — within the retention window: a
    * load pins its generation's file listing, the swap never deletes
    * it, and the grace reap keeps the `retainGenerations` most recent
    * RETIRED generations per table (plus the active one). A reader
    * therefore survives exactly `retainGenerations` subsequent
    * compactions before its pinned listing is deleted mid-query — size
    * the window to the longest-lived reader: the default 1 suits
    * gates that restart at least once per compaction interval; an
    * aggressive `compactEvery` cadence with long-lived gates on other
    * sessions needs 2+. Disk cost is (retainGenerations + 1)× the
    * table between swaps, reclaimed by the next reap or an explicit
    * [[reapIndexGenerations]] once no reader can be pinned that far
    * back. When the swap COUNT is the wrong unit — gates of known
    * lifetime on an unknown or changing compaction cadence — pass
    * `retainAge` instead: a retired generation then survives while
    * its retire stamp is younger than the window (age supersedes the
    * count rule; see [[reapRetired]] for the stamp semantics), so the
    * grace period is "any reader that started in the last T is safe",
    * at a disk cost of one extra generation per swap within T. Exclusivity against APPENDS is ENFORCED since round 13 by
    * the single-writer lease ([[acquireIndexLease]]): an append writes
    * into the generation it resolved at ITS start, so files appended
    * during the rewrite window would be missing from the new
    * generation and silently dropped by the swap — the lease makes a
    * concurrent appender raise at acquire before reading a row, and
    * for writers the lease cannot see (API bypass, expired TTL,
    * non-atomic object-store creates) every append still re-reads the
    * manifest at commit and RAISES if its generation moved (the
    * append-commit fence), converting that silent loss to a loud,
    * retryable error. The streaming ingest loops additionally satisfy
    * exclusivity by construction when compaction runs inside their own
    * foreachBatch cadence ([[graft.streaming.StreamOps.mediaIngestBatch]]'s
    * `compactEvery`) — the loop is the only appender and it is between
    * rounds.
    *
    * Cost is O(table) per call — the safe primitive over plain parquet
    * directories, where the atomic publish unit is the manifest file.
    * A PARTIAL compaction (rewrite only the small files) cannot be
    * made crash-safe here: merging N small files and deleting them is
    * two non-atomic steps whose crash window either duplicates or
    * loses rows, and fixing that requires per-FILE manifests
    * (Iceberg/Delta-style) rather than per-table generations. At
    * 100 TB run this per table on the maintenance cadence (the rewrite
    * is a scan → hash-repartition → write with no joins — cheaper than
    * one ingest round at the same scale, per SCALING.md round-10).
    */
  def compactIndex(
      spark: SparkSession,
      path: String,
      targetBytesPerFile: Long = 128L << 20,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Seq[CompactStat] =
    withIndexLease(spark, path, "compactIndex") {
      compactIndexUnlocked(spark, path, targetBytesPerFile,
        retainGenerations, retainAge)
    }

  /** [[compactIndex]] without the single-writer lease — the raw
    * rewrite for tests that deliberately simulate a rogue/expired-TTL
    * writer racing an append (the fence spec's window), which the
    * lease would otherwise prevent by construction.
    */
  private[graft] def compactIndexUnlocked(
      spark: SparkSession,
      path: String,
      targetBytesPerFile: Long = 128L << 20,
      retainGenerations: Int = 1,
      retainAge: Option[java.time.Duration] = None): Seq[CompactStat] = {
    import org.apache.hadoop.fs.Path
    requireRetention(retainGenerations, retainAge)
    val tables = kindOf(spark, path, "compactIndex").allTables
    val fs = fsOf(spark, path)
    def dataFiles(dir: Path) =
      fs.listStatus(dir).filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    val gens = readGenerations(fs, path)
    val results = tables.flatMap { case (t, key) =>
      val cur = gens.getOrElse(t, 0L)
      val dir = new Path(s"$path/${genDirName(t, cur)}")
      // recover debris from a pre-round-11 compact that crashed
      // between its two DIRECTORY renames (the old design's one
      // unsafe window): the live dir is absent, the aside dir intact
      val legacyAside = new Path(s"$path/${t}__old")
      if (!fs.exists(dir) && fs.exists(legacyAside)) {
        require(fs.rename(legacyAside, dir),
          s"IndexStore.compactIndex: could not restore $legacyAside to $dir")
      }
      // OPTIONAL tables (deletes, absent until the first tombstone)
      // simply don't participate; a MANDATORY table's missing dir must
      // still fail loudly below (spark.read throws) — silently
      // skipping it would let compaction "succeed" on a torn index
      if (t == "deletes" && !fs.exists(dir)) None
      else Some {
        val before = dataFiles(dir)
        val bytes = before.map(_.getLen).sum
        val nParts =
          math.max(1L, (bytes + targetBytesPerFile - 1) / targetBytesPerFile)
            .min(1 << 20).toInt
        val next = cur + 1
        spark.read.parquet(dir.toString)
          .repartition(nParts, col(key))
          .write.mode("overwrite")
          .parquet(s"$path/${genDirName(t, next)}")
        (t, next,
          CompactStat(t, before.length.toLong,
            dataFiles(new Path(s"$path/${genDirName(t, next)}"))
              .length.toLong,
            bytes))
      }
    }
    // one atomic publish for ALL tables — readers see a consistent
    // all-old or all-new set of generations, never a mix
    writeGenerations(fs, path,
      gens ++ results.map { case (t, g, _) => t -> g })
    // grace reap: count-based (keep the `retainGenerations` most
    // recent retired generations) or age-based when retainAge is set —
    // see [[reapRetired]]; plus legacy __compacting debris
    results.foreach { case (t, next, _) =>
      reapRetired(fs, path, t, next, retainGenerations, retainAge)
      fs.delete(new Path(s"$path/${t}__compacting"), true): Unit
    }
    // lease debris from CRASHED acquires/releases/probes: a
    // tmp/claim/probe file older than the default TTL belongs to no
    // live protocol step — reap it on the maintenance cadence (one
    // root listing)
    fs.listStatus(new Path(path)).foreach { s =>
      val n = s.getPath.getName
      if (s.isFile &&
          (n.startsWith(s"${LeaseFile}__tmp_") ||
            n.startsWith(s"${LeaseFile}__claim_") ||
            n.startsWith(s"${LeaseFile}__probe_")) &&
          s.getModificationTime <
            System.currentTimeMillis() - DefaultLeaseTtlMs)
        fs.delete(s.getPath, false): Unit
    }
    results.map(_._3)
  }

  /** Append new documents' postings to a persisted text index
    * (monotone-id contract, like every append here: BM25's df/N/avgdl
    * shift with every append by design — that's the index staying
    * CORRECT, not drifting — but a duplicated doc_id would silently
    * double its term frequencies, so the overlap raises loudly). The
    * id check runs against the UNION of both stored tables' ids, so a
    * retry after a crash between the two writes below still raises
    * instead of half-duplicating the batch. Ids pruned by
    * [[repairTextIndex]] leave BOTH tables and are NOT freed for
    * reuse: they sort below the surviving max id, so the monotone
    * guard rejects them — re-ingest repaired-away docs under fresh
    * ids.
    */
  def appendTextIndex(
      newDocs: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = newDocs.sparkSession
    withIndexLease(spark, path, "appendTextIndex") {
      metaOf(spark, path, "text")
      appendTextIndexBody(spark, newDocs, idCol, textCol, path,
        "appendTextIndex")
    }
  }

  /** [[appendTextIndex]]'s body, lease assumed HELD by the caller —
    * split out so composite leased ops ([[replaceTextDocs]]) can
    * append under the ONE lease they already hold.
    */
  private def appendTextIndexBody(
      spark: SparkSession, newDocs: DataFrame, idCol: String,
      textCol: String, path: String, op: String): Unit = {
    val (resolved, dir) = resolvedDirs(spark, path)
    appendFenceTestHook()
    // the union covers BOTH stored tables (crash-retry, see above)
    // AND the tombstone graveyard: a vacuumed delete's rows leave
    // doclen/postings, but its id must stay unreusable forever
    // ([[deleteFromTextIndex]]'s contract) — without the deletes
    // union, deleting and vacuuming the max-id docs would re-open
    // their range to the next append
    val existingIds = (Seq(
        readTable(spark, path, dir, "doclen").select(col("doc_id")),
        readTable(spark, path, dir, "postings").select(col("doc_id"))) ++
        readDeletes(spark, path, dir))
      .reduce(_.unionByName(_))
    val idx = TextAnalysis.textIndex(newDocs, idCol, textCol)
    requireIdsAfter(existingIds, idx.doclen.select(col("doc_id")), op)
    // doclen FIRST: a crash after it leaves ids visible to the retry
    // guard via the union above; a half-appended postings table alone
    // would under-score the batch silently
    idx.doclen.repartition(col("doc_id"))
      .write.mode("append").parquet(dir("doclen"))
    idx.postings.repartition(col("term"))
      .write.mode("append").parquet(dir("postings"))
    requireGenerationsUnmoved(spark, path, resolved,
      Seq("doclen", "postings"), op)
  }

  /** REPLACE documents in a persisted text index — the RECTIFICATION
    * composition (GDPR rectification, a re-crawl superseding stale
    * pages): under ONE single-writer lease, tombstone `oldIds`
    * ([[deleteFromTextIndex]]'s exact validation and stat-exactness)
    * and append `newDocs` as their replacements. The replacements must
    * carry FRESH ids (ids are never reused — the graveyard contract:
    * re-admitting an id would splice two documents' statistics under
    * one identity across the index's history), and the standard
    * monotone guard applies to them like any append.
    *
    * CRASH WINDOW between the tombstone landing and the append: the
    * retry is built in. A re-run classifies `oldIds` with one
    * aggregate — ALL still live ⇒ fresh run (tombstone + append); ALL
    * already tombstoned AND no `newDocs` id present anywhere ⇒ the
    * crash-retry shape, the tombstone is NOT re-validated (it already
    * landed) and only the append runs; any MIX raises loudly (a typo'd
    * id set and a half-landed replace are indistinguishable without
    * operator eyes — neither should silently proceed). A crash INSIDE
    * the append (between doclen and postings) is the torn shape
    * [[loadTextIndex]] raises on: run [[repairTextIndex]], then re-run
    * this op — the retry lands as the append-only shape above.
    *
    * @return (documents tombstoned, documents appended) BY THIS CALL —
    *         a crash-retry that only appends reports 0 tombstoned
    */
  def replaceTextDocs(
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      oldIds: DataFrame): (Long, Long) =
    replace(TextKind, newDocs, idCol, textCol, path, oldIds)

  /** [[replaceTextDocs]] for the MEDIA index — tombstone the old asset
    * ids, append the replacement hashes under fresh ids, one lease,
    * same classification/crash-retry contract.
    */
  def replaceMediaAssets(
      newHashes: DataFrame, idCol: String, hashCol: String, path: String,
      oldIds: DataFrame): (Long, Long) =
    replace(MediaKind, newHashes, idCol, hashCol, path, oldIds)

  /** [[replaceTextDocs]] for the VECTOR index. */
  def replaceVectorMembers(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String,
      oldIds: DataFrame): (Long, Long) =
    replace(VectorKind, newVecs, idCol, vecCol, path, oldIds)

  /** [[replaceTextDocs]] for the CORPUS (MinHash-LSH) index. */
  def replaceCorpusDocs(
      newDocs: DataFrame, idCol: String, textCol: String, path: String,
      oldIds: DataFrame): (Long, Long) =
    replace(CorpusKind, newDocs, idCol, textCol, path, oldIds)

  /** [[replaceTextDocs]] for the IVF model — assignment against the
    * FROZEN centroids, like [[appendIvf]].
    */
  def replaceIvfMembers(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String,
      oldIds: DataFrame): (Long, Long) =
    replace(IvfKind, newVecs, idCol, vecCol, path, oldIds)

  /** Every kind's replace* op, under ONE lease: classify `oldIds` with
    * one aggregate (all live ⇒ fresh run; all tombstoned AND no new id
    * present ⇒ the crash-retry, append only; MIX ⇒ raise), validate
    * the replacement
    * ids FRESH against live ∪ graveyard with a second aggregate,
    * tombstone on the fresh path ([[tombstoneDelete]]'s fused
    * validation), then run the kind's append body. See
    * [[replaceTextDocs]]'s scaladoc for the full contract.
    */
  private def replace(
      kind: IndexKind, newRows: DataFrame, idCol: String, valueCol: String,
      path: String, oldIds: DataFrame): (Long, Long) = {
    val spark = newRows.sparkSession
    val (op, deleteOp, idColName) = (kind.replaceOp, kind.deleteOp, kind.idCol)
    withIndexLease(spark, path, op) {
      metaOf(spark, path, kind.name)
      val (resolved, dir) = resolvedDirs(spark, path)
      val allIds =
        readTable(spark, path, dir, kind.idTable).select(col(idColName))
      val dead = readDeletes(spark, path, dir)
      val liveIds = applyDeletes(allIds, dead, idColName)
      val old = oldIds.select(col(oldIds.columns.head)
          .cast(allIds.schema.head.dataType).as(idColName))
        .localCheckpoint(true)
      val newIds = newRows.select(col(idCol)
          .cast(allIds.schema.head.dataType).as(idColName))
        .localCheckpoint(true)
      // ONE classification aggregate: old ids vs live/graveyard; one
      // more for new ids vs everything ever seen (live ∪ graveyard
      // covers vacuumed ids too)
      val oldTag = old
        .join(liveIds.distinct().withColumn("__live", lit(1)),
          Seq(idColName), "left")
        .join(dead.fold(allIds.limit(0))(_.toDF(idColName)).distinct()
            .withColumn("__dead", lit(1)),
          Seq(idColName), "left")
        .agg(count(lit(1)).as("__n"), count(col("__live")).as("__nlive"),
          count(col("__dead")).as("__ndead")).head()
      val (nOld, nOldLive, nOldDead) =
        (oldTag.getLong(0), oldTag.getLong(1), oldTag.getLong(2))
      require(nOld > 0L,
        s"IndexStore.$op: empty oldIds — a rectification that replaces " +
          "nothing is almost certainly a filter bug")
      val everIds = graveyardUnion(spark, path, dir, allIds)
      val newTag = newIds
        .join(everIds.distinct().withColumn("__seen", lit(1)),
          Seq(idColName), "left")
        .agg(count(lit(1)).as("__n"),
          count(col(idColName)).as("__nnn"), // non-null (count skips nulls)
          count(col("__seen")).as("__nseen"))
        .head()
      val (nNew, nNewPresent) = (newTag.getLong(0), newTag.getLong(2))
      require(nNew > 0L,
        s"IndexStore.$op: empty replacement batch — to erase without " +
          s"replacing, use $deleteOp")
      // NULL replacement ids pass the freshness join vacuously (null keys
      // match nothing) and would erase the old docs then append rows the
      // delete side can never take down — the delete-side NULL guard's
      // exact mirror, BEFORE anything mutates
      require(newTag.getLong(1) == nNew,
        s"IndexStore.$op: replacement batch carries " +
          s"${nNew - newTag.getLong(1)} NULL id(s) — typically a failed " +
          "cast from an incompatible id type (the live column is " +
          s"${allIds.schema.head.dataType.sql}) or a join that missed; " +
          "fix the id derivation and re-run (nothing was tombstoned)")
      if (nNewPresent > 0L) {
        val sample = newIds.join(everIds, Seq(idColName), "left_semi")
          .limit(5).collect().map(_.get(0)).mkString(", ")
        throw new IllegalArgumentException(
          s"IndexStore.$op: $nNewPresent replacement id(s) already " +
            s"exist in the index at $path (live, tombstoned, or " +
            s"half-appended; e.g. $sample) — replacements must carry " +
            "FRESH ids (ids are never reused). If a prior replace " +
            "crashed INSIDE its append, run checkIndex/repair first, " +
            "then re-run")
      }
      if (nOldLive == nOld) {
        // fresh run: tombstone, then append. `old` is already cast and
        // checkpointed, and the classification aggregate above already
        // proved every id LIVE — skip the delete core's second pass over
        // the live id relation (null/duplicate checks still run; a
        // duplicated live id classifies as all-live here and raises in
        // the core's duplicate check)
        val nDel = tombstoneDeletePrepared(spark, path, op, idColName,
          old, liveIds, dir, resolved, liveProven = true)
        kind.appendBody(spark, newRows, idCol, valueCol, path, op)
        (nDel, nNew)
      } else if (nOldDead == nOld) {
        // the crash-retry shape: the tombstone landed, the append did
        // not (new ids proven absent above) — finish the append only.
        // This branch cannot DISTINGUISH a genuine retry from an operator
        // error where the old ids were tombstoned earlier by an unrelated
        // takedown (the deletes table records ids, not op names) — the
        // append would then add docs nobody requested, so make the path
        // AUDITABLE: warn loudly before proceeding (documented tradeoff;
        // the alternative — refusing — would wedge every real crash
        // retry behind a manual repair)
        leaseWarnSink(
          s"IndexStore.$op: all $nOld old id(s) are already tombstoned " +
            "and every replacement id is fresh — treating this as a " +
            s"CRASH-RETRY of a previous $op and running the append only " +
            "(nothing tombstoned this run). If these ids were taken down " +
            s"by an unrelated $deleteOp rather than a crashed $op, this " +
            "append adds documents nobody requested — verify the id set " +
            "before trusting the result")
        // DURABLE audit twin of the warning: the
        // warning is the only trail for the indistinguishable
        // unrelated-takedown case, and sinks that drop stderr (the
        // default in batch jobs) lose it with the process — so the
        // classification also lands as one row in an append-only
        // `crash_retries` parquet log beside the deletes table, BEFORE
        // the append runs (a crash inside the append must not erase the
        // record that the ambiguous branch was taken). Plain
        // non-generation dir by design: an audit log is never
        // compacted, swapped, or reset by a rebuild.
        locally {
          import spark.implicits._
          Seq((System.currentTimeMillis(), op, idColName, nOld, nNew))
            .toDF("ts_millis", "op", "id_col", "n_old", "n_new")
            .coalesce(1).write.mode("append")
            .parquet(s"$path/crash_retries")
        }
        kind.appendBody(spark, newRows, idCol, valueCol, path, op)
        (0L, nNew)
      } else {
        throw new IllegalArgumentException(
          s"IndexStore.$op: oldIds are a MIX — of $nOld ids, $nOldLive " +
            s"are live, $nOldDead are tombstoned and " +
            s"${nOld - nOldLive - nOldDead} were never indexed. A fresh " +
            "replace needs ALL old ids live; a crash-retry needs ALL " +
            "tombstoned. Fix the id set (or split it) and re-run")
      }
    }
  }

  /** One INGEST ROUND against the persisted TEXT (BM25 inverted) index
    * — the lexical-decontamination member of the ingest-round family,
    * completing four-for-four kind parity ([[ingestMedia]] perceptual,
    * [[ingestVector]] semantic, [[ingestCorpus]] shingle-LSH, this one
    * term-level): screen each batch document AS A QUERY against the
    * index ([[TextAnalysis.bm25ScoredIndexed]] — the q249 screen's
    * scoring chain, shared not copied), reject every doc whose best
    * BM25 score against an indexed doc reaches `minScoreE6`, append
    * the admissions ([[appendTextIndex]]), and return one verdict row
    * per TOKEN-BEARING batch doc: (doc_id, status admitted|duplicate,
    * n_matches, best_corpus_id, best_score_e6) with best = highest
    * score, ties to the smallest corpus_id; nulls for admitted.
    * Null/token-less texts are dropped up front (no verdict row — the
    * [[ingestCorpus]] phantom-verdict posture: [[TextAnalysis.textIndex]]
    * writes no rows for them, so an "admitted" verdict would have no
    * index entry behind it). Unlike the LSH-family screens this one
    * has NO probabilistic recall — every (query-term ∩ postings) pair
    * is scored exactly.
    *
    * REPLAY INVARIANCE is restricted at the RELATION level, not the
    * match level: BM25 scores are corpus-STAT-dependent (N, df, avgdl
    * all shift with every append), so the other rounds'
    * [[preBatchMatches]] filter alone would reproduce a replay's match
    * SET but not its scores — the re-run would screen against stats
    * that already include the batch. Instead postings and doclen are
    * filtered to pre-batch doc ids (one broadcast 1-row aggregate on
    * each — under the monotone contract a no-op on a first run), which
    * makes the entire score computation, verdicts included, identical
    * on a replay. The verified replay then skips the append
    * ([[appendAdmittedIdempotent]] — the at-least-once retry that
    * previously tripped [[appendTextIndex]]'s overlap raise). A crash
    * BETWEEN the doclen and postings appends is the torn shape
    * [[loadTextIndex]] raises on: the retry fails loudly at this
    * round's load, [[repairTextIndex]] prunes the orphaned doclen rows
    * (restoring the pre-append id range), and the re-run then screens
    * and appends as a fresh round — the replay-skip path only ever
    * fires for a FULLY-landed append.
    *
    * Batch-as-queries tokenization replays the literal-query split of
    * [[TextAnalysis.bm25TopKIndexed]] (lower/whitespace/distinct) as
    * column expressions — the [[graft.streaming.StreamOps.searchGate]]
    * discipline — and the batch side joins WITHOUT broadcast hints
    * (an ingest batch's vocabulary is data-sized; AQE decides).
    *
    * COST GUARDRAIL. The exact screen's join volume is
    * Σ_t |postings(t)| · |queries(t)| — data-dependent and unbounded
    * (a dup-heavy batch against a dense shared-vocabulary index
    * multiplies out: the round-12 probe measured 100 exact copies vs
    * 500k docs ≈ 300M scored rows with 54.6 GB of spill under an
    * 8 GiB heap, and 500 copies OOM'd it — and decontamination
    * batches are exactly the dup-heavy shape). Before scoring, this
    * round therefore computes that sum EXACTLY with one narrow
    * aggregate join ([[estimateTextScreen]]'s core — cost linear in
    * the MATCHED postings, never the product) and raises above
    * `maxScreenPairs` naming the densest terms, so the pathological
    * batch dies in seconds with a recipe instead of hours into a
    * spill. The default (1B pairs) sits just above the largest volume
    * the round-12 probe survived; size it to executor memory × cluster
    * for real deployments. Recovery: set `collapseFirst = true` (below
    * — usually the right fix: copies collapse against each OTHER
    * before any of them pays the index screen), pre-collapse the batch
    * yourself, or raise the budget consciously.
    *
    * `collapseFirst = true` runs the INTRA-BATCH self-screen first —
    * the batch indexed in memory and screened against itself with the
    * SAME scoring chain (intra-batch stats: N = batch size), a doc
    * with any smaller-id batch partner at `minScoreE6` collapsing to
    * status 'collapsed' with that partner as best match — and only
    * the surviving family heads pay the index screen (one admission
    * per near-dup family). Self-screen cost is Σ_t |batch queries(t)|²
    * — batch-sized, not index-sized. Verdict rows for collapsed docs
    * carry the batch partner in `best_corpus_id`; replay invariance is
    * unchanged (the self-screen depends only on the batch, and the
    * index screen still runs over pre-batch-filtered relations).
    *
    * `maxDfPpm` prunes ultra-common terms from BOTH screens (index and
    * self) before any scoring join — the structural fix for the dense
    * volume law itself, since stopword-class terms (df ≈ N) dominate
    * Σ_t |postings(t)|·|queries(t)| while contributing idf ≈ 0 to the
    * decision: see [[TextAnalysis.bm25ScoredIndexed]] for the exact
    * integer rule. The guardrail estimate applies the same prune, so
    * budget and actual volume stay one number. Off by default —
    * scores then match the classic BM25 form the oracles replay.
    */
  def ingestText(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      minScoreE6: Long,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxScreenPairs: Long = 1000000000L,
      collapseFirst: Boolean = false,
      maxDfPpm: Option[Long] = None,
      maxScorePrune: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions
    val spark = newDocs.sparkSession
    metaOf(spark, path, "text")
    require(maxScreenPairs > 0L,
      "IndexStore.ingestText: maxScreenPairs must be positive")
    // maxScorePrune: the LOSSLESS candidate cut for high-threshold
    // rounds ([[TextAnalysis.bm25ScoredIndexed]]'s scaladoc) — every
    // verdict and score is bit-identical with it on or off; it applies
    // to BOTH screens below. With the prune ON, the guardrail budgets
    // the TRUE candidate-restricted volume: the candidate set is
    // materialized ONCE (scan-shaped — essential-postings semi-join,
    // never the multiply), the estimate restricts postings to it, and
    // the screen REUSES the same set — budget and actual volume stay
    // one number, so a dense batch the prune makes cheap no longer
    // refuses under the default budget.
    val pruneThr = if (maxScorePrune) Some(minScoreE6) else None
    val batch = newDocs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .where(col("text").isNotNull &&
        size(TextFunctions.tokens(col("text"))) > 0)
      .localCheckpoint(true)
    // check = false here, NOT unchecked: the torn-state identity rides
    // the guardrail-estimate action below instead (round-17 fusion —
    // same sums, same raise, one driver action fewer per round). It is
    // verified before the screen's matches, the verdict or the append
    // run, so it still gates the replay-skip path and nothing is
    // written from a torn index. Under maxScorePrune the candidate set
    // (candDocs) IS materialized from the possibly torn index first —
    // wasted work on a torn index, never a write; checking before it
    // would cost the action the fusion saved
    val idx = loadTextIndex(spark, path, check = false)
    val mn = batch.agg(min(col("doc_id")).as("__batch_min"))
    def preBatch(t: DataFrame): DataFrame = t.crossJoin(broadcast(mn))
      .where(col("doc_id") < col("__batch_min")).drop("__batch_min")
    val pre = TextAnalysis.TextIndex(
      preBatch(idx.postings), preBatch(idx.doclen))
    // the shared relation-side query tokenization (batch docs are
    // already null-filtered upstream; the helper's own filter is a
    // no-op here)
    def queryTermsOf(docs: DataFrame): DataFrame =
      TextAnalysis.queryTermsOf(docs, "doc_id", "text")
    // intra-batch collapse (the q258 composition, integrated): index
    // the batch in memory, screen it against itself, smaller-id
    // partners only — family heads go on to the index screen
    val (screened, collapsed) = if (collapseFirst) {
      val selfPairs = TextAnalysis
        .bm25ScoredIndexed(TextAnalysis.textIndex(batch, "doc_id", "text"),
          queryTermsOf(batch), k1, b, broadcastQueries = false,
          maxDfPpm = maxDfPpm, pruneThresholdE6 = pruneThr)
        .where(col("score_e6") >= minScoreE6 &&
          col("doc_id") < col("query_id"))
        .select(col("query_id").as("doc_id"),
          col("doc_id").as("corpus_id"), col("score_e6"))
        .localCheckpoint(true)
      val coll = selfPairs.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(struct((-col("score_e6")).as("negs"), col("corpus_id")))
            .as("__best"))
        .select(col("doc_id"), lit("collapsed").as("status"),
          col("n_matches"), col("__best.corpus_id").as("best_corpus_id"),
          (-col("__best.negs")).as("best_score_e6"))
      val heads = batch.join(selfPairs.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      (heads, Some(coll))
    } else (batch, None)
    // screened is checkpointed either way (batch, or the collapse's
    // heads), so the estimate and the screen re-derive qt cheaply
    val qt = queryTermsOf(screened)
    // the guardrail: exact screen volume as one narrow agg join. The
    // decision math runs in DECIMAL from the per-term MULTIPLY up (at
    // the 100 TB shape a single stopword-class term's df × queries can
    // overflow Long on its own, not just the cross-term sum — an
    // overflow here would either throw an opaque ANSI error or
    // under-report the volume below budget, defeating the guard).
    // maxDfPpm-aware: pruned terms cost nothing, so they count nothing
    val pairsDec =
      col("df").cast("decimal(38,0)") * col("n_queries").cast("decimal(38,0)")
    // with maxScorePrune on, the screen only ever scores candidate
    // docs — so the budget measures exactly those (see pruneThr above)
    val candDocs = pruneThr.map(thr =>
      TextAnalysis.maxScoreCandidates(pre, qt, k1, thr, maxDfPpm,
          broadcastQueries = false)
        .localCheckpoint(true))
    val estPostings = candDocs.fold(pre.postings)(c =>
      pre.postings.join(c, Seq("doc_id"), "left_semi"))
    // ONE action carries BOTH the volume estimate and the torn-state
    // identity (the loadTextIndex check deferred above): a cross of two
    // 1-row aggregates evaluated in a single head(). Torn wins — it is
    // checked first, exactly as the pre-fusion load-then-estimate order
    // raised it first.
    val guard = screenPairEstimate(estPostings, qt, maxDfPpm,
        pre.doclen)
      .agg(coalesce(sum(pairsDec),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("t"))
      .crossJoin(textTornSums(idx.postings, idx.doclen))
      .head()
    if (textTornBad(guard.isNullAt(1), guard.isNullAt(2),
        if (guard.isNullAt(1)) 0L else guard.getLong(1),
        if (guard.isNullAt(2)) 0L else guard.getLong(2)))
      raiseTextTorn(idx.postings, idx.doclen, path,
        guard.get(1), guard.get(2))
    val estTotal = guard.getDecimal(0)
    if (estTotal.compareTo(
        java.math.BigDecimal.valueOf(maxScreenPairs)) > 0) {
      val dense = screenPairEstimate(estPostings, qt, maxDfPpm,
          pre.doclen)
        .orderBy(pairsDec.desc, col("term")).limit(5)
        .select(col("term"), col("df"), col("n_queries"),
          pairsDec.as("p"))
        .collect()
        .map(r => s"'${r.getString(0)}' (df=${r.getLong(1)} × " +
          s"queries=${r.getLong(2)} = ${r.getDecimal(3)})")
        .mkString(", ")
      throw new IllegalStateException(
        s"IndexStore.ingestText: the exact BM25 screen for this batch " +
          s"would score $estTotal (term, query, doc) rows — over the " +
          s"maxScreenPairs budget of $maxScreenPairs. Densest terms: " +
          s"$dense. A dup-heavy batch multiplies against a dense " +
          "shared-vocabulary index; pass collapseFirst = true so only " +
          "near-dup family heads pay the screen, pre-collapse the " +
          "batch yourself, or raise maxScreenPairs consciously " +
          "(the screen spills gracefully but its volume is exactly " +
          "this estimate)")
    }
    val matches = TextAnalysis
      .bm25ScoredIndexed(pre, qt, k1, b, broadcastQueries = false,
        maxDfPpm = maxDfPpm, pruneThresholdE6 = pruneThr,
        candidateDocs = candDocs)
      .where(col("score_e6") >= minScoreE6)
      .select(col("query_id").as("doc_id"),
        col("doc_id").as("corpus_id"), col("score_e6"))
    val agg = matches.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"),
        // lexicographic min over (-score, corpus_id) = best match by
        // highest score, smallest id on ties — the family convention
        min(struct((-col("score_e6")).as("negs"), col("corpus_id")))
          .as("__best"))
    // materialized BEFORE the append mutates the index directories —
    // same re-list race rationale as [[ingestMedia]]
    val verdict = screened.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__n").isNull, lit("admitted"))
          .otherwise(lit("duplicate")).as("status"),
        coalesce(col("__n"), lit(0L)).as("n_matches"),
        col("__best.corpus_id").as("best_corpus_id"),
        (-col("__best.negs")).as("best_score_e6"))
      .localCheckpoint(true)
    val admitted = screened.join(
      verdict.where(col("status") === "admitted").select(col("doc_id")),
      Seq("doc_id"))
    // doclen ids suffice for the replay disposition: doclen is written
    // FIRST by appendTextIndex, so its id set always covers postings'
    appendAdmittedIdempotent(admitted, "doc_id",
      idx.doclen.select(col("doc_id")), "ingestText") { adm =>
      appendTextIndex(adm, "doc_id", "text", path)
    }
    collapsed.fold(verdict)(verdict.unionByName(_))
  }

  /** The [[ingestText]] guardrail's core, shared with
    * [[estimateTextScreen]]: per matched term, the EXACT number of
    * (term, query, doc) rows the screen would score — `df` postings
    * rows × `n_queries` batch docs carrying the term. One narrow
    * aggregate join whose own cost is linear in the MATCHED postings
    * (Σ_t df(t)), never their product — cheap precisely when the
    * screen would not be. The per-term `pairs` readout is a Long (its
    * factors are physical row counts); the guardrail's own DECISION
    * math re-derives the products in DECIMAL, where a single extreme
    * term could overflow the readout column.
    */
  private def screenPairEstimate(
      prePostings: DataFrame, qt: DataFrame,
      maxDfPpm: Option[Long], preDoclen: => DataFrame): DataFrame = {
    val base = prePostings
      .join(qt.groupBy(col("term")).agg(count(lit(1)).as("n_queries")),
        Seq("term"))
      .groupBy(col("term"), col("n_queries"))
      .agg(count(lit(1)).as("df"))
    // mirror the screen's own prune ([[TextAnalysis.bm25ScoredIndexed]]
    // maxDfPpm): a pruned term never reaches the scoring join, so the
    // estimate must not charge for it — same integer rule, same N
    val kept = maxDfPpm.fold(base) { ppm =>
      base.crossJoin(
          broadcast(preDoclen.agg(count(lit(1)).as("__n"))))
        .where(col("df") * lit(1000000L) <= lit(ppm) * col("__n"))
        .drop("__n")
    }
    kept.select(col("term"), col("df"), col("n_queries"),
      (col("df") * col("n_queries")).as("pairs"))
  }

  /** DRY-RUN the [[ingestText]] cost guardrail: per term shared
    * between `newDocs` and the persisted text index at `path`, the
    * exact screen volume an ingest round for this batch would pay —
    * (term, df, n_queries, pairs = df × n_queries), Σ pairs being the
    * round's scored-row count. Same batch discipline as the round
    * itself (token-less docs dropped, relations filtered to pre-batch
    * ids), so the numbers match what the round would see. Use it to
    * size `maxScreenPairs`, to find the dense terms a raise would
    * name, or to decide `collapseFirst` before paying anything.
    */
  def estimateTextScreen(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      maxDfPpm: Option[Long] = None): DataFrame = {
    import graft.functions.TextFunctions
    val spark = newDocs.sparkSession
    metaOf(spark, path, "text")
    val batch = newDocs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .where(col("text").isNotNull &&
        size(TextFunctions.tokens(col("text"))) > 0)
    val idx = loadTextIndex(spark, path)
    val mn = batch.agg(min(col("doc_id")).as("__batch_min"))
    def preBatch(t: DataFrame): DataFrame = t.crossJoin(broadcast(mn))
      .where(col("doc_id") < col("__batch_min")).drop("__batch_min")
    val qt = batch.select(col("doc_id").as("query_id"),
      explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
    screenPairEstimate(preBatch(idx.postings), qt, maxDfPpm,
      preBatch(idx.doclen))
  }
}
