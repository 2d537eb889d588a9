package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** Deduplication operator family for the LLM-data-pipeline surface
  * (SURVEY.md §3.3): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup (the latter in [[Similarity]]).
  *
  * 100 TB design notes (applies to every member):
  *  - No driver-side data. Candidate generation is always a
  *    bucket-equi-join (shuffle on a small bucket key), never a cross
  *    join; pair verification happens only inside buckets.
  *  - Signatures are computed in the EXPLODE → GROUP BY shape: shingle/
  *    token rows are materialized once, then the 64 min/sum aggregates
  *    run with map-side partial aggregation. The tempting all-expression
  *    form (`transform(sequence(0,63), s -> array_min(...))` over a
  *    shingle-array column) is quadratic in practice: Catalyst's
  *    projection collapse inlines the tokenize→shingle pipeline into
  *    every one of the 64 lambdas (and again into every band), turning
  *    one tokenization per row into hundreds — measured 100× slower at
  *    5k docs and unbounded at scale.
  *  - Quadratic blow-up inside a hot bucket is the real skew risk at
  *    scale — `maxBucketSize` drops degenerate buckets (boilerplate
  *    strings hashing together) with an explicit cap rather than
  *    letting one bucket OOM an executor. AQE skew-join handles the rest.
  *  - All hash functions are seeded xxhash64 (codegen'd, 64-bit) —
  *    deterministic across runs and partitionings.
  */
object Dedup {

  /** Exact dedup: canonical survivor per duplicate group = lowest id.
    * One shuffle on the (hashed) key; `row_number` over a window keyed by
    * the group — at scale this is the standard hash-partitioned
    * first-per-group, no skew beyond the duplicate-group distribution.
    */
  def exact(df: DataFrame, keyCols: Seq[Column], idCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(idCol.asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-id MinHash signature in ONE aggregation pass: (id, shingle)
    * rows → groupBy(id) with `numHashes` partial `min` aggregates
    * (signature position s = min over shingles of xxhash64(shingle, s)).
    * All-declarative `min`s keep this a codegen'd HashAggregate with
    * map-side combine; shuffle volume = numHashes longs per id. The
    * exact-verify shingle SETS deliberately do NOT ride along (no
    * collect_set — it would force ObjectHashAggregate and shuffle every
    * document's full shingle payload); they are hydrated per candidate
    * pair from [[shingleSets]] instead.
    */
  private[operators] def shingleSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int): DataFrame = {
    // hash each shingle STRING once, then derive the numHashes family by
    // re-mixing the 64-bit value — 64 long-mixes instead of 64 string
    // hashes per shingle row
    val rows = df.select(col(idCol).as("id"),
        explode(TextFunctions.shingles(col(textCol), shingleSize)).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("h"))
    val mins = (0 until numHashes).map(s =>
      min(xxhash64(col("h"), lit(s))).as(s"__h$s"))
    rows.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(s => col(s"__h$s")): _*).as("sig"))
  }

  /** (id, SORTED distinct shingle array) as a NARROW projection straight
    * off the scan — the exact-verify payload, joined per candidate pair
    * only. Sorted once per document here so pair verification can run
    * the merge-walk [[graft.functions.SortedIntersectCount]] instead of
    * building hash sets per pair.
    */
  /** The ONE definition of the sorted-shingle canonicalization: the
    * merge-walk verifier ([[graft.functions.SortedIntersectCount]])
    * requires sorted arrays, and the persisted-index sets table must
    * never diverge from the probe side's.
    */
  private[graft] def sortedShingles(text: Column, n: Int): Column =
    array_sort(TextFunctions.shingles(text, n))

  private[operators] def shingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"),
      sortedShingles(col(textCol), shingleSize).as("sh"))

  /** LSH band keys over a materialized signature: split into `numBands`
    * bands of `rowsPerBand`, each band hashed to one bigint bucket key.
    */
  def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    F.transform(sequence(lit(0), lit(numBands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b))

  /** One row per DISTINCT text value: (id = min member id, __text,
    * members sorted). Collapsing exact duplicates BEFORE LSH is the
    * skew fix for duplication-heavy corpora (the norm in web data):
    * identical texts share every band key, so in-bucket expansion would
    * otherwise scale with the square of the duplication factor — and
    * families larger than `maxBucketSize` would be dropped by the cap,
    * losing exactly the most-duplicated content dedup exists to catch.
    * Checkpointed: consumed by the signature, hydration, and expansion
    * branches.
    */
  private[operators] def textGroups(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .where(col("__text").isNotNull) // null docs never pair (pre-collapse semantics)
      .groupBy(col("__text"))
      .agg(array_sort(collect_list(col("id"))).as("members"))
      .select(element_at(col("members"), 1).as("id"), col("__text"), col("members"))
      .localCheckpoint(true)

  /** Ordered (a < b) triangular pair expansion over a SORTED array:
    * array<struct<id_a, id_b>> of all element pairs. The single source
    * of truth for in-group/in-bucket expansion.
    */
  private[operators] def triangularPairs(arr: Column): Column = {
    val n = size(arr)
    flatten(F.transform(sequence(lit(1), n - 1), i =>
      F.transform(slice(arr, i + 1, n - i),
        x => struct(element_at(arr, i).as("id_a"), x.as("id_b")))))
  }

  /** Expand rep-level scored pairs (id_a, id_b, score) to member level:
    * cross-group pairs inherit the representatives' score; within-group
    * pairs (identical texts) get `identityScore`. `withinFilter` can
    * exclude groups from within-pair emission (e.g. token-less texts
    * for simhash).
    */
  private[operators] def expandGroups(
      repPairs: DataFrame,
      groups: DataFrame,
      scoreName: String,
      identityScore: Column,
      withinFilter: Column): DataFrame = {
    val ga = groups.select(col("id").as("id_a"), col("members").as("members_a"))
    val gb = groups.select(col("id").as("id_b"), col("members").as("members_b"))
    val cross = repPairs.join(ga, Seq("id_a")).join(gb, Seq("id_b"))
      .select(explode(col("members_a")).as("ma"), col("members_b"), col(scoreName))
      .select(col("ma"), explode(col("members_b")).as("mb"), col(scoreName))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col(scoreName))
    val within = groups
      .where(size(col("members")) > 1 && withinFilter)
      .select(explode(triangularPairs(col("members"))).as("p"),
        identityScore.as(scoreName))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col(scoreName))
    cross.union(within)
  }

  /** Candidate (id_a < id_b) pairs from a (id, band_idx, band_hash)
    * table: ONE groupBy per bucket collecting the member ids, size-capped
    * (skew guard — see object doc), then in-bucket pair expansion with a
    * flatten/transform expression. Replaces the naive self-join, which
    * evaluates the whole signature subtree once per join side, plus a
    * window pass for the cap — this shape computes signatures once and
    * shuffles only (bucket, ids).
    */
  /** Semi-join `rows` down to buckets whose size is in [minSize, cap]:
    * the size check runs as a cheap partial-count aggregation FIRST, so
    * an oversized hot bucket is discarded before any per-bucket array is
    * materialized — collecting it and then filtering would rebuild the
    * very OOM the cap exists to prevent. Pair generation wants
    * minSize = 2 (a singleton bucket yields no pairs); corpus-vs-query
    * probing ([[Similarity.lshTopK]]) wants minSize = 1 (a singleton
    * corpus bucket can still answer a query).
    */
  private[operators] def keepCappedBuckets(
      rows: DataFrame, maxBucketSize: Int, minSize: Int = 2): DataFrame = {
    // materialize once: both the size aggregation and the semi-join
    // probe consume `rows`, and its upstream (signature/simhash
    // pipeline) is the expensive part of every dedup op — lazy, it
    // would execute twice. The frame is narrow (id + two band longs).
    val matRows = rows.localCheckpoint(true)
    val sized = matRows.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minSize && col("__n") <= maxBucketSize)
      .select(col("band_idx"), col("band_hash"))
    matRows.join(sized, Seq("band_idx", "band_hash"), "left_semi")
  }

  private[operators] def bucketPairs(
      bands: DataFrame,
      maxBucketSize: Int): DataFrame = {
    val buckets = keepCappedBuckets(bands, maxBucketSize)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(array_sort(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
    buckets.select(explode(triangularPairs(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** Candidate pairs from a band table carrying ONLY (id, band_idx,
    * band_hash), then hydrate the two shingle sets per candidate pair
    * from `sets` (id, sh). Carrying the sets through the 16×-duplicated
    * band explode and its join shuffle costs ~16× the payload volume —
    * hydrating per candidate keeps the heavy arrays out of the wide
    * shuffle entirely (candidates are rare by construction). `sets`
    * arrives hash-partitioned by id from its groupBy, so the hydration
    * joins reuse that partitioning.
    */
  private def verifiedJaccardPairs(
      cand: DataFrame,
      sets: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val sb = sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
    // |A∪B| = |A| + |B| − |A∩B| on distinct arrays: ONE codegen'd
    // merge-walk per pair replaces the array_intersect + array_union
    // hash-set builds (the sets arrive sorted from shingleSets).
    // Integer count and double division are identical to the
    // intersect/union form, so the oracle arithmetic is unchanged.
    val c = graft.functions.SetExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b"))
    cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(c.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - c), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash+LSH near-duplicate candidate pairs with exact-Jaccard
    * verification (shingle → minhash → band → bucket-join, SURVEY §3.3).
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold. Probability two docs share >=1 band is
    * 1-(1-j^r)^b — defaults (64 hashes, 16 bands × 4 rows) catch
    * j >= 0.7 with ~98% recall.
    */
  def minhashLSH(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val groups = textGroups(df, idCol, textCol)
    val sigs = shingleSignatures(groups, "id", "__text", shingleSize, numHashes)
    val withBands = sigs.select(col("id"),
      posexplode(bandKeys(col("sig"), numBands, rowsPerBand))
        .as(Seq("band_idx", "band_hash")))
    val repPairs = verifiedJaccardPairs(bucketPairs(withBands, maxBucketSize),
      shingleSets(groups, "id", "__text", shingleSize), threshold)
    expandGroups(repPairs, groups, "jaccard", lit(1.0), lit(true))
  }

  /** 64-bit SimHash per document (frequency-weighted bit vote), in the
    * explode → groupBy shape: token-hash rows → 64 partial `sum` votes →
    * bit assembly. Documents with zero tokens are excluded (nothing to
    * compare; also prevents the all-zero simhash from forming one giant
    * candidate bucket).
    *
    * `tokenHash` is the 64-bit token hash (default: codegen'd xxhash64,
    * the fast path). A caller needing cross-engine replayability can
    * substitute any deterministic long-valued expression (e.g. an
    * md5-derived integer both Spark and an oracle engine compute
    * identically) — the rest of the pipeline is exact integer math, so
    * the simhashes then agree bit-for-bit across engines.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = df
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), tokenHash(col("t")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__v$j")
    }
    tok.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map { j =>
          when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ bitwiseOR _).as("sim"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist.
    * Pigeonhole blocking: 4 blocks of 16 bits — any pair within distance
    * <= 3 shares at least one exact block; bucket-join on (block idx,
    * block value), verify with bit_count(xor). maxDist <= 3 keeps the
    * 4-block guarantee.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxBucketSize: Int = 1000,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(maxDist <= 3, "4-block pigeonhole guarantees recall only for maxDist <= 3")
    // Exact duplicates collapse first (see textGroups); within-group
    // pairs re-expand at hamming 0, EXCEPT token-less texts (excluded
    // from simhash comparison entirely). The 8-byte simhash rides
    // through the bucket aggregation as a struct payload, so the
    // simhash subtree is evaluated exactly once and verification needs
    // no hydration join.
    val groups = textGroups(df, idCol, textCol)
    val sim = simhashes(groups, "id", "__text", tokenHash)
    val blocks = sim.select(struct(col("id"), col("sim")).as("m"),
      posexplode(pigeonholeBands(col("sim")))
        .as(Seq("band_idx", "band_hash")))
    val buckets = keepCappedBuckets(blocks, maxBucketSize)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(array_sort(collect_set(col("m"))).as("ids"))
      .where(size(col("ids")) > 1)
    val repPairs = buckets.select(explode(triangularPairs(col("ids"))).as("p"))
      .select(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
        bit_count(col("p.id_a.sim").bitwiseXOR(col("p.id_b.sim"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
    expandGroups(repPairs, groups, "hamming", lit(0),
      size(TextFunctions.tokens(col("__text"))) > 0)
  }

  /** Hamming near-dup pairs over a PRECOMPUTED 64-bit signature column —
    * the media sibling of [[simhashPairs]], for signatures that come
    * from a perceptual hash ([[Multimodal.dhash64]] in q241) rather
    * than token votes. Same structure end to end: identical signatures
    * collapse FIRST (the duplication-skew fix — a family of N exact
    * copies must not expand N² inside every block bucket), then the
    * 4×16-bit pigeonhole blocking (any pair within Hamming ≤ 3 shares
    * at least one exact block — lossless recall for maxDist ≤ 3),
    * size-capped bucket join, bit_count(xor) verification, and group
    * re-expansion (signature-identical pairs at hamming 0).
    *
    * Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= maxDist.
    */
  def hammingPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxDist: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    require(maxDist <= 3, "4-block pigeonhole guarantees recall only for maxDist <= 3")
    val groups = hashes
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("__h"))
      .where(col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(array_sort(collect_list(col("id"))).as("members"))
      .select(element_at(col("members"), 1).as("id"), col("__h"), col("members"))
      .localCheckpoint(true)
    val blocks = groups.select(struct(col("id"), col("__h").as("sim")).as("m"),
      posexplode(pigeonholeBands(col("__h")))
        .as(Seq("band_idx", "band_hash")))
    val buckets = keepCappedBuckets(blocks, maxBucketSize)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(array_sort(collect_set(col("m"))).as("ids"))
      .where(size(col("ids")) > 1)
    val repPairs = buckets.select(explode(triangularPairs(col("ids"))).as("p"))
      .select(col("p.id_a.id").as("id_a"), col("p.id_b.id").as("id_b"),
        bit_count(col("p.id_a.sim").bitwiseXOR(col("p.id_b.sim"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
    expandGroups(repPairs, groups, "hamming", lit(0), lit(true))
  }

  /** Persisted perceptual-hash index tables ([[graft.operators
    * .IndexStore]] media index): `bands` = one (band_idx, band_hash)
    * row per DISTINCT 64-bit signature per 16-bit band (the
    * [[hammingPairs]] pigeonhole keys, precomputed once at build);
    * `members` = (dh, member_id) for every indexed asset. Signatures
    * repeat freely in members and exactly once in bands — the
    * exact-dup-collapse invariant, preserved by append.
    */
  final case class MediaIndex(bands: DataFrame, members: DataFrame)

  /** The 4×16-bit pigeonhole band ARRAY of a 64-bit signature column —
    * the single key derivation every Hamming blocking form shares
    * (self-join [[hammingPairs]], index build [[hashBandRows]], batch
    * probe [[hammingJoinIndexed]], and the streaming gate
    * [[graft.streaming.StreamOps.mediaGateIndexed]]), so batch and
    * stream verdicts cannot drift.
    */
  private[graft] def pigeonholeBands(h: Column): Column =
    array((0 until 4).map(i =>
      shiftright(h, i * 16).bitwiseAND(lit(0xFFFFL))): _*)

  /** The 4×16-bit pigeonhole band rows of each DISTINCT hash — the
    * shared blocking-key derivation of [[hammingPairs]] (self-join
    * form) and the media index (build + probe form).
    */
  private[graft] def hashBandRows(
      hashes: DataFrame, hashCol: String): DataFrame =
    hashes.select(col(hashCol).cast("long").as("dh"))
      .where(col("dh").isNotNull)
      .distinct()
      .select(col("dh"), posexplode(pigeonholeBands(col("dh")))
        .as(Seq("band_idx", "band_hash")))

  /** Drop over-crowded pigeonhole buckets from a band table wholesale
    * — the skew guard shared by the in-memory builder ([[mediaIndex]])
    * and the loader ([[graft.operators.IndexStore.loadMediaIndex]]),
    * so the two paths cannot drift on what "capped" means.
    */
  private[graft] def capBands(bands: DataFrame, maxBucketSize: Int): DataFrame = {
    val crowded = bands.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxBucketSize)
      .drop("__n")
    bands.join(crowded, Seq("band_idx", "band_hash"), "left_anti")
  }

  /** Build an in-memory [[MediaIndex]] from a (id, 64-bit signature)
    * frame — the un-persisted twin of
    * [[graft.operators.IndexStore.saveMediaIndex]] +
    * [[graft.operators.IndexStore.loadMediaIndex]], for one-shot
    * screens ([[hammingJoinIndexed]]) and ad-hoc streaming gates
    * ([[graft.streaming.StreamOps.mediaGate]]) where the corpus is
    * small or already resident; persist via IndexStore when the corpus
    * outlives the session.
    */
  def mediaIndex(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxBucketSize: Int = 1000): MediaIndex = {
    val members = hashes
      .select(col(hashCol).cast("long").as("dh"),
        col(idCol).as("member_id"))
      .where(col("dh").isNotNull)
    MediaIndex(capBands(hashBandRows(members, "dh"), maxBucketSize), members)
  }

  /** Hamming near-dup join of a NEW batch against a persisted media
    * index — the incremental-ingest form of [[hammingPairs]], the
    * perceptual sibling of [[minhashLSHJoinIndexed]]: the corpus is
    * never rescanned or rehashed; only the batch's DISTINCT signatures
    * explode into band keys, join the stored band table, verify with
    * one bit_count, and re-expand to members on both sides. Emits
    * (new_id, corpus_id, hamming ≤ maxDist) — a batch asset with no
    * row is perceptually novel. Same recall contract as
    * [[hammingPairs]]: lossless for maxDist ≤ 3 up to the loader's
    * bucket cap.
    */
  def hammingJoinIndexed(
      newAssets: DataFrame,
      index: MediaIndex,
      idCol: String,
      hashCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(maxDist <= 3,
      "4-block pigeonhole guarantees recall only for maxDist <= 3")
    // materialized ONCE: p feeds both the band-key derivation and the
    // member re-expansion join below, and the batch side is typically
    // decode-backed (per-asset perceptual hashing) — lazy, the decode
    // would run twice per screen. Narrow (id + one long), so cheap.
    val p = newAssets
      .select(col(idCol).as("new_id"), col(hashCol).cast("long").as("__ph"))
      .where(col("__ph").isNotNull)
      .localCheckpoint(true)
    val cand = hashBandRows(p, "__ph").withColumnRenamed("dh", "__ph")
      .join(index.bands, Seq("band_idx", "band_hash"))
      .select(col("__ph"), col("dh"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("__ph").bitwiseXOR(col("dh"))).cast("int"))
      .where(col("hamming") <= maxDist)
    cand
      .join(p, Seq("__ph"))
      .join(index.members, Seq("dh"))
      .select(col("new_id"), col("member_id").as("corpus_id"),
        col("hamming"))
  }

  /** Duplicate-group formation: connected components over a near-dup
    * pair list (id_a, id_b), labels = smallest reachable id — the
    * SURVEY §3.3 "dup groups via iterative smallest-id propagation".
    *
    * Driver loop of {bidirectional neighbor-min join + groupBy min}
    * until a fixpoint; with the pointer-jumping shortcut below each pass
    * at least halves every vertex's distance to its component minimum,
    * so convergence needs ≤ ⌈log₂ n⌉ + O(1) passes for ANY graph shape —
    * even an adversarial n-vertex path. By default (`maxIter` ≤ 0) the
    * pass budget is derived from the vertex count of the pair-touched
    * set (one cheap count of the checkpointed label table), so no graph
    * requires manual tuning; an explicit positive `maxIter` is an exact
    * cap for callers that want bounded latency, and non-convergence at
    * an explicit cap THROWS rather than returning silently wrong
    * labels. Each pass is one shuffle of the (vertex, label) table; the
    * pair list is usually orders of magnitude smaller than the corpus,
    * so this runs on the pair-touched vertex set only.
    * Deterministic: labels only ever decrease, fixpoint is unique.
    * A null id names no record: it links nothing and is not output
    * (a pair with one null end keeps only its other id, a singleton
    * unless another pair links it).
    *
    * @return (id, group_id) for every non-null id appearing in `pairs`,
    *         where group_id = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 0): DataFrame = {
    // bidirectional edge list — materialized ONCE: it is consumed by
    // every loop iteration (join + convergence count), and leaving it
    // lazy would re-execute the upstream candidate-generation pipeline
    // per pass. The pair list is small by construction (candidates, not
    // corpus), so a localCheckpoint is safe. A null end becomes the
    // other end (a harmless self-loop) and an all-null pair is dropped,
    // so a null id links nothing on every path and id type.
    val ends = pairs.select(coalesce(col("id_a"), col("id_b")).as("a"),
        coalesce(col("id_b"), col("id_a")).as("b"))
      .where(col("a").isNotNull)
    val edges = ends.select(col("a").as("src"), col("b").as("dst"))
      .union(ends.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // PARTITION-LOCAL UNION-FIND PRE-PASS (round-17; guide §2 — shrink
    // the iteration count instead of speeding the iterations): each
    // partition's edges collapse to local component skeletons in one
    // narrow mapPartitions (no shuffle) into one (vertex, local root)
    // row per vertex per partition it appears in, and the global loop
    // then runs on those STAR edges (vertex ↔ local root) instead of
    // the raw edges. On clustered dup graphs (the operator's entire
    // diet: near-dup families, DBSCAN cores, fuzzy-entity blocks) almost
    // all connectivity is local, so every star is shallow and the loop
    // converges in 1–2 passes instead of ⌈log₂ n⌉ — each pass saved is
    // one materialization + one convergence action + one shuffle.
    // Fixpoint unchanged: a local root is the min id of a locally
    // connected set (so every star edge joins two ids of the same
    // component); the two ends of every raw edge share a local root in
    // that edge's partition (so no connection is lost); and stars of
    // different partitions chain through the vertices they share — so
    // the star graph's components equal the original's vertex for
    // vertex, and min-over-stars = min-over-original (PropertySpec's
    // union-find equivalence and q35's recursive-CTE oracle pin it).
    // Only in AUTO mode: an explicit maxIter is a documented exact cap
    // on the global passes over the RAW graph (DedupSpec pins that a
    // too-small cap raises), so it keeps the direct path.
    ccLocalCodec(edges.schema("src").dataType) match {
      case Some((toKey, fromKey, ord)) if maxIter <= 0 =>
        val spark = pairs.sparkSession
        val idType = edges.schema("src").dataType
        // (id, local label) — one row per vertex per partition it
        // appears in. LongType (every production caller) takes the
        // typed-Dataset path: primitive LongMap union-find, codegen'd
        // encoders, no boxing; other types fall back to the generic
        // external-Row walk with the codec's Spark-order-faithful
        // ordering.
        val local: DataFrame = idType match {
          case org.apache.spark.sql.types.LongType =>
            import org.apache.spark.sql.Encoders
            val tup = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
            edges.as[(Long, Long)](tup).mapPartitions { it =>
              val parent = new scala.collection.mutable.LongMap[Long]()
              def findRoot(x0: Long): Long = {
                var r = x0
                while (parent(r) != r) r = parent(r)
                var c = x0
                while (c != r) { val n = parent(c); parent(c) = r; c = n }
                r
              }
              it.foreach { case (a, b) =>
                if (!parent.contains(a)) parent(a) = a
                if (!parent.contains(b)) parent(b) = b
                val ra = findRoot(a)
                val rb = findRoot(b)
                if (ra != rb) {
                  if (ra < rb) parent(rb) = ra else parent(ra) = rb
                }
              }
              val ks = parent.keys.toArray
              ks.iterator.map(k => (k, findRoot(k)))
            }(tup).toDF("id", "lmin")
          case _ =>
            val sch = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id", idType),
              org.apache.spark.sql.types.StructField("lmin", idType)))
            val localRdd = edges.rdd.mapPartitions { it =>
              val parent = new java.util.HashMap[Any, Any]()
              def findRoot(x0: Any): Any = {
                var r = x0
                var p = parent.get(r)
                while (p != null && p != r) { r = p; p = parent.get(r) }
                // path compression
                var c = x0
                while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
                r
              }
              it.foreach { row =>
                val a = toKey(row.get(0))
                val b = toKey(row.get(1))
                if (!parent.containsKey(a)) parent.put(a, a)
                if (!parent.containsKey(b)) parent.put(b, b)
                val ra = findRoot(a)
                val rb = findRoot(b)
                if (ra != rb) {
                  if (ord.lt(ra, rb)) parent.put(rb, ra)
                  else parent.put(ra, rb)
                }
              }
              val ks = new java.util.ArrayList[Any](parent.keySet())
              val out = scala.collection.mutable.ArrayBuffer.empty[
                org.apache.spark.sql.Row]
              ks.forEach { k =>
                out += org.apache.spark.sql.Row(fromKey(k), fromKey(findRoot(k)))
              }
              out.iterator
            }
            spark.createDataFrame(localRdd, sch)
        }
        // the (vertex ↔ its local label) rows ARE the contracted edge
        // list: every vertex hangs one hop off its partition-local
        // root, roots chain across partitions through shared vertices,
        // and labels are vertices of the same component — so running
        // the global loop directly on these star edges preserves
        // components and the min-id fixpoint EXACTLY, covers every
        // vertex (each has ≥1 local row; self-loops are harmless
        // no-ops under the least()), and needs no per-vertex label-set
        // aggregation or join-back. (A first cut aggregated
        // collect_set(label) per vertex to build explicit stitch
        // edges — at the 100×-scale probe that ObjectHashAggregate
        // spilled 5.8 GB; this formulation is all narrow
        // HashAggregate/distinct shapes.) Star graphs are pointer
        // jumping's best case: the q172-shape converged in 2 passes vs
        // the direct loop's ~15.
        // materialized ONCE: the bidirectional union below consumes the
        // rows twice, and each consumption would otherwise re-run the
        // per-partition union-find over the full edge table (measured
        // at the 100×-scale probe: ~8% of the whole dedupGroups row)
        val localM = local.localCheckpoint(true)
        val sEdges = localM.select(col("id").as("src"), col("lmin").as("dst"))
          .union(localM.select(col("lmin").as("src"), col("id").as("dst")))
          .distinct()
          .localCheckpoint(true)
        ccFixpoint(sEdges, 0)
      case _ => ccFixpoint(edges, maxIter)
    }
  }

  /** The external-value codec + ordering the pre-pass union-find runs
    * on, per id type: orderings MUST agree with Spark's `min`/`least`
    * (a local min elected under a divergent order could contract away
    * the true component minimum). Integral types use natural order;
    * strings compare as UTF8String (Spark's binary UTF-8 order — Java
    * String order diverges on supplementary characters). Unknown types
    * return None and the caller keeps the direct loop.
    */
  private def ccLocalCodec(dt: org.apache.spark.sql.types.DataType)
      : Option[(Any => Any, Any => Any, Ordering[Any])] = {
    import org.apache.spark.sql.types._
    def nullLast(lt: (Any, Any) => Boolean): Ordering[Any] =
      Ordering.fromLessThan[Any]((a, b) =>
        if (a == null) false else if (b == null) true else lt(a, b))
    val id = identity[Any] _
    dt match {
      case LongType => Some((id, id,
        nullLast((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])))
      case IntegerType => Some((id, id,
        nullLast((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])))
      case ShortType => Some((id, id,
        nullLast((a, b) => a.asInstanceOf[Short] < b.asInstanceOf[Short])))
      case ByteType => Some((id, id,
        nullLast((a, b) => a.asInstanceOf[Byte] < b.asInstanceOf[Byte])))
      case StringType => Some((
        (x: Any) => if (x == null) null
          else org.apache.spark.unsafe.types.UTF8String
            .fromString(x.asInstanceOf[String]),
        (x: Any) => if (x == null) null else x.toString,
        nullLast((a, b) =>
          a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .compareTo(
              b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0)))
      case _ => None
    }
  }

  /** The global smallest-label fixpoint loop over a BIDIRECTIONAL,
    * distinct, checkpointed edge table — [[connectedComponents]]' core,
    * shared by the direct path and the contracted-graph path.
    */
  private def ccFixpoint(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("group_id"))
      .localCheckpoint(true)
    // auto pass budget: pointer jumping halves distance-to-root every
    // pass, so ⌈log₂ n⌉ + slack provably converges on any n-vertex graph
    val effectiveMax =
      if (maxIter > 0) maxIter
      else {
        val n = math.max(labels.count(), 2L)
        // +6 slack, not +4: the fused pass below jumps on the PASS-START
        // labels (not on this pass's neighbor-min output), which costs
        // at most ~2 extra passes on a worst-case path while halving the
        // per-pass action count — the reach still doubles per pass
        // (label-of-label on a snapshot is exact doubling), so the
        // ⌈log₂ n⌉ law is unchanged (DedupSpec's 10k-path case pins it)
        (64 - java.lang.Long.numberOfLeadingZeros(n - 1)) + 6
      }
    var iter = 0
    var converged = false
    while (iter < effectiveMax && !converged) {
      // ONE fused min per pass (round-16 optimization — guide §2.4,
      // fewer actions/passes): label'(v) = min(label(v), label-of-label
      // (the pointer jump — label values are vertex ids, so one
      // self-join halves every label chain: O(log diameter) passes, not
      // O(diameter)), min over neighbors). All three read the PREVIOUS
      // pass's checkpointed labels, so the pass materializes exactly
      // once (one localCheckpoint job) instead of the former two
      // (propagated + jumped), and the convergence check rides the
      // carried __old column instead of a join back onto labels —
      // measured: the CC loop behind q172's 15.5 s ran 250 ~40 ms jobs,
      // most of them these per-pass materializations. Monotone (labels
      // only decrease within the component), so the fixpoint — the
      // component minimum — is unchanged, which the q35 recursive-CTE
      // oracle verifies end to end.
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("group_id", "nlabel"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nlabel")).as("nmin"))
      val lol = labels
        .select(col("id").as("__gid"), col("group_id").as("__gg"))
      // checkpoint through [[Graph.cpFlatStats]], because localCheckpoint
      // alone PRESERVES the estimated stats and the self-join above
      // squares them every pass: on a deep (high-diameter) component the
      // estimate's digit count doubles per pass until Catalyst grinds
      // driver-side BigInteger math (the round-8 SCC probe finding;
      // early convergence on shallow dup graphs merely masked it here)
      val updated = Graph.cpFlatStats(
        labels.join(neighborMin, Seq("id"), "left")
          .join(lol, col("group_id") === col("__gid"), "left")
          .select(col("id"),
            least(col("group_id"),
              coalesce(col("nmin"), col("group_id")),
              coalesce(col("__gg"), col("group_id"))).as("group_id"),
            col("group_id").as("__old")))
      val changed = updated.where(col("group_id") =!= col("__old"))
        .limit(1).count()
      labels = updated.drop("__old")
      converged = changed == 0
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $effectiveMax passes — " +
        (if (maxIter > 0)
           "the explicit maxIter cap is below this graph's need; drop it " +
             "to let the log2(n) auto budget apply"
         else "this exceeds the provable log2(n) bound and indicates a bug"))
    labels
  }

  /** Static-side LSH index of a corpus, shared by the batch admission
    * gate ([[minhashLSHJoin]]) and its streaming twin
    * ([[graft.streaming.StreamOps.dedupGate]]): capped band buckets,
    * sorted shingle sets for exact verify, and the exact-duplicate
    * member expansion — all keyed by the collapsed representative id.
    * For a continuous stream, materialize/cache these three (they are
    * re-planned per micro-batch otherwise) — or persist/load/append
    * them as parquet via [[IndexStore]], the build-once-probe-forever
    * shape a 100 TB corpus actually runs.
    */
  final case class CorpusIndex(
      bands: DataFrame, sets: DataFrame, members: DataFrame)

  /** The three UNCAPPED rep-level index tables for a collapsed group
    * table `gc` (id, __text, members) — single source of truth for
    * [[corpusIndex]] (which applies the bucket cap) and [[IndexStore]]
    * (which persists them raw: the cap is applied at LOAD time, so an
    * appended index equals a rebuilt one by construction — capping
    * before persisting would freeze cap decisions made against the OLD
    * bucket sizes into the stored index).
    *
    * Returns (bands (corpus_id, band_idx, band_hash),
    *          sets (corpus_id, text, sh),
    *          members (corpus_id, member_id)).
    */
  private[operators] def corpusTablesFromGroups(
      gc: DataFrame,
      shingleSize: Int,
      numHashes: Int,
      numBands: Int): (DataFrame, DataFrame, DataFrame) = {
    val bands = corpusBandRows(gc, shingleSize, numHashes, numBands)
    // text rides in the sets table: the persistence append path merges
    // new docs into existing rep groups by exact text equality
    val sets = gc.select(col("id").as("corpus_id"), col("__text").as("text"),
      sortedShingles(col("__text"), shingleSize).as("sh"))
    val members = gc.select(col("id").as("corpus_id"),
      explode(col("members")).as("member_id"))
    (bands, sets, members)
  }

  /** Band rows alone for (id, __text) groups — shared by
    * [[corpusTablesFromGroups]] and the torn-append heal in
    * [[graft.operators.IndexStore.appendCorpusIndex]] (a crash-orphaned
    * sets row carries the text, so its band rows are recomputable from
    * the same derivation the builder used — heal ≡ rebuild by sharing,
    * not copying).
    */
  private[operators] def corpusBandRows(
      gc: DataFrame,
      shingleSize: Int,
      numHashes: Int,
      numBands: Int): DataFrame = {
    val rowsPerBand = numHashes / numBands
    shingleSignatures(gc, "id", "__text", shingleSize, numHashes)
      .select(col("id").as("corpus_id"),
        posexplode(bandKeys(col("sig"), numBands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
  }

  /** Assemble the probe-ready [[CorpusIndex]] from the raw tables:
    * apply the bucket cap (minSize = 1 — a singleton corpus bucket can
    * still answer a query) and project the probe columns.
    */
  private[operators] def capCorpusTables(
      bands: DataFrame, sets: DataFrame, members: DataFrame,
      maxBucketSize: Int): CorpusIndex =
    CorpusIndex(
      keepCappedBuckets(bands, maxBucketSize, minSize = 1),
      sets.select(col("corpus_id"), col("sh").as("sh_c")),
      members)

  def corpusIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      maxBucketSize: Int = 1000): CorpusIndex = {
    // exact-duplicate collapse BEFORE the bucket cap — without it, a
    // family larger than maxBucketSize (the most-duplicated content,
    // exactly what an admission gate exists to catch) floods every band
    // bucket past the cap and new copies would be admitted as "novel"
    val gc = textGroups(corpus, idCol, textCol)
    val (bands, sets, members) =
      corpusTablesFromGroups(gc, shingleSize, numHashes, numBands)
    capCorpusTables(bands, sets, members, maxBucketSize)
  }

  /** Per-ROW scalar MinHash signature — value-identical to
    * [[shingleSignatures]]'s aggregated form (min over shingles of
    * xxhash64(xxhash64(shingle), s)) but computed inside one projection,
    * so it runs STATELESS on a stream. Null/shingle-less text yields a
    * NULL signature (not an array of nulls — `array_min([])` per slot
    * would give that, and band keys hashed over all-null slices are
    * non-null and IDENTICAL across degenerate docs: one hot join key
    * per band). Callers must gate on `sig IS NOT NULL` before deriving
    * band keys; the aggregated form emits no row for such docs.
    */
  def rowSignature(text: Column, shingleSize: Int, numHashes: Int): Column = {
    val sh = graft.functions.TextFunctions.shingles(text, shingleSize)
    val hashes = F.transform(sh, x => xxhash64(x))
    when(size(sh) > 0,
      F.transform(sequence(lit(0), lit(numHashes - 1)),
        s => array_min(F.transform(hashes, h => xxhash64(h, s)))))
      .otherwise(lit(null).cast("array<bigint>"))
  }

  /** INCREMENTAL near-dup detection: new batch vs existing corpus — the
    * shape a daily ingest actually runs (N_new × corpus, never
    * corpus × corpus). Candidates come from a bucket equi-join of the
    * two sides' band tables; corpus-side buckets are size-capped
    * (minSize = 1 — a singleton corpus bucket can still answer a new
    * doc); shingle sets hydrate per candidate from each side. Returns
    * (new_id, corpus_id, jaccard) with jaccard >= threshold — a new doc
    * with no row here is novel and safe to admit.
    */
  def minhashLSHJoin(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame =
    minhashLSHJoinIndexed(newDocs,
      corpusIndex(corpus, idCol, textCol,
        shingleSize, numHashes, numBands, maxBucketSize),
      idCol, textCol, shingleSize, numHashes, numBands, threshold,
      maxBucketSize)

  /** [[minhashLSHJoin]] against a PREBUILT corpus index — the shape a
    * production ingest actually runs: build (or [[IndexStore.loadCorpusIndex
    * load]]) the index once, probe every batch against it. `shingleSize`/
    * `numHashes`/`numBands` MUST match the index's build parameters
    * (persisted indexes carry them in their meta table); results are
    * then identical to [[minhashLSHJoin]] over the same corpus.
    */
  def minhashLSHJoinIndexed(
      newDocs: DataFrame,
      idx: CorpusIndex,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // exact-duplicate collapse per side BEFORE the bucket cap (see
    // corpusIndex); collapsed, a mega-dup family is ONE bucket row and
    // members expand back into the answer at the end
    val gn = textGroups(newDocs, idCol, textCol)
    // the NEW side is capped too: exact collapse merges byte-identical
    // new docs, but a skewed batch of near-identical-but-distinct texts
    // (template spam) would otherwise fan out |new bucket| × cap pairs
    val nb = keepCappedBuckets(
      shingleSignatures(gn, "id", "__text", shingleSize, numHashes)
        .select(col("id"),
          posexplode(bandKeys(col("sig"), numBands, rowsPerBand))
            .as(Seq("band_idx", "band_hash"))),
      maxBucketSize, minSize = 1)
      .withColumnRenamed("id", "new_id")
    val cand = nb.join(idx.bands, Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    val sn = shingleSets(gn, "id", "__text", shingleSize)
      .select(col("id").as("new_id"), col("sh").as("sh_n"))
    val c = graft.functions.SetExpressions.sortedIntersectCount(col("sh_n"), col("sh_c"))
    val repPairs = cand.join(sn, Seq("new_id")).join(idx.sets, Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        round(c.cast("double") /
          (size(col("sh_n")) + size(col("sh_c")) - c), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
    // expand representatives back to members on BOTH sides; no
    // within-side pairs exist in this operator by construction
    val mn = gn.select(col("id").as("new_id"), explode(col("members")).as("nm"))
    repPairs.join(mn, Seq("new_id")).join(idx.members, Seq("corpus_id"))
      .select(col("nm").as("new_id"), col("member_id").as("corpus_id"), col("jaccard"))
  }

  /** End-to-end near-duplicate REMOVAL — the operation a training-data
    * pipeline actually runs: MinHash-LSH pairs → connected components →
    * keep each group's canonical member (minimum id). Documents that
    * pair with nothing (including null-text docs) survive untouched.
    * One anti-join over the (tiny) non-canonical label set; the corpus
    * is never shuffled beyond the LSH pipeline itself.
    */
  def deduplicate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7): DataFrame = {
    val labels = connectedComponents(minhashLSH(df, idCol, textCol, threshold = threshold))
    val losers = labels.where(col("id") =!= col("group_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard similarity over blocked candidates: `numBlocks`
    * INDEPENDENT seeded min-hash blocking keys (each key = min over
    * shingles of xxhash64(shingle, seed_b)), candidates = pairs sharing
    * any key, then exact Jaccard verification on candidates only — never
    * all-pairs. A single min-hash finds a Jaccard-j pair with probability
    * j (~50% misses at j = 0.5); with B independent blocks recall is
    * 1-(1-j)^B — defaults (B=8) give >= 99.6% at j >= 0.5.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      numBlocks: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    val groups = textGroups(df, idCol, textCol)
    val sigs = shingleSignatures(groups, "id", "__text", n, numBlocks)
    val blocked = sigs.select(col("id"),
      posexplode(col("sig")).as(Seq("band_idx", "band_hash")))
    val repPairs = verifiedJaccardPairs(bucketPairs(blocked, maxBucketSize),
      shingleSets(groups, "id", "__text", n), threshold)
    expandGroups(repPairs, groups, "jaccard", lit(1.0), lit(true))
  }

  /** Benchmark DECONTAMINATION: flag corpus documents that share at
    * least `minHits` distinct `shingleSize`-token n-gram(s) with the
    * evaluation set — the "did the training set memorize the test set"
    * gate every corpus release runs. EXACT, not approximate: unlike the
    * LSH paths this is a plain distinct-gram equi-join, affordable
    * because the eval side is benchmark-sized (thousands of docs), so
    * its distinct-gram relation broadcasts and the corpus side is one
    * explode → join → per-doc count — a single aggregation shuffle at
    * any corpus size. Docs with fewer than `shingleSize` tokens carry
    * no complete n-gram and are never flagged.
    *
    * Returns (id, hits) for contaminated corpus docs; anti-join the
    * corpus against it to release the cleaned set.
    */
  def ngramContamination(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 8,
      minHits: Int = 1): DataFrame = {
    require(minHits >= 1, "minHits >= 1")
    def grams(df: DataFrame, fullOnly: Boolean) = df
      // the tokenCount gate re-tokenizes the text, so it runs ONLY on
      // the benchmark-sized eval side: a corpus doc with < shingleSize
      // tokens emits one PARTIAL shingle (< shingleSize-1 joined
      // spaces), which can never string-equal a full eval n-gram — the
      // "short docs are never flagged" contract holds without paying a
      // second tokenization of the 100 TB side
      .where(if (fullOnly)
          col(textCol).isNotNull &&
            graft.functions.TextFunctions.tokenCount(col(textCol)) >= shingleSize
        else col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.shingles(col(textCol), shingleSize)).as("g"))
    // AQE broadcasts the benchmark-sized distinct-gram side at runtime
    grams(corpus, fullOnly = false)
      .join(grams(eval, fullOnly = true).select(col("g")).distinct(), Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("hits")) // shingles are distinct per doc
      .where(col("hits") >= minHits)
  }

  /** [[ngramContamination]] at SPAN grain — the audit form: not just
    * WHICH corpus docs share an n-gram with the eval suite, but WHERE
    * inside each document and against WHICH eval doc, so a
    * decontamination reviewer can read the actual overlapping passage
    * instead of re-deriving it. One row per (corpus doc, eval doc)
    * pair with ≥ `minHits` matched token WINDOWS:
    *
    *   (id, eval_id, hits, first_pos, last_pos)
    *
    * `hits` counts matched window POSITIONS (not distinct grams — a
    * gram recurring in the corpus doc is several real overlaps an
    * auditor reads); positions are 1-based token indices, `last_pos`
    * the END token of the last matched window, so
    * tokens[first_pos..last_pos] is the minimal slice containing
    * every overlap. Both sides keep only docs with ≥ `shingleSize`
    * tokens (full windows — no partial-gram rule needed at span
    * grain; [[ngramContamination]]'s asymmetric gate exists to skip a
    * second corpus tokenization, which the position explode here pays
    * anyway).
    *
    * 100 TB shape: the corpus side explodes one row per token window
    * (bounded by token count — the same volume every shingle op
    * carries, distinctness just doesn't collapse repeats), the eval
    * side is benchmark-sized distinct grams per eval doc; the join is
    * the same unhinted gram equi-join as [[ngramContamination]] (AQE
    * broadcasts the eval side at runtime size); the aggregate is
    * map-side-combinable min/max/count at pair grain. Run it on
    * [[ngramContamination]]'s survivors when the corpus is huge — the
    * screen is cheaper, the spans are the audit.
    */
  def ngramContaminationSpans(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 8,
      minHits: Int = 1): DataFrame = {
    require(shingleSize >= 2, "shingleSize >= 2")
    require(minHits >= 1, "minHits >= 1")
    val n = shingleSize
    val corpusWindows = corpus.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= n)
      .select(col("id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (n - 1)))
          .as("pos"))
      .select(col("id"), col("pos"),
        array_join(slice(col("__toks"), col("pos"), lit(n)), " ").as("g"))
    val evalGrams = eval.where(col(textCol).isNotNull &&
        graft.functions.TextFunctions.tokenCount(col(textCol)) >= n)
      .select(col(idCol).as("eval_id"),
        explode(graft.functions.TextFunctions
          .shingles(col(textCol), n)).as("g")) // distinct per doc
    corpusWindows.join(evalGrams, Seq("g"))
      .groupBy(col("id"), col("eval_id"))
      .agg(count(lit(1)).as("hits"),
        min(col("pos")).cast("long").as("first_pos"),
        (max(col("pos")) + (n - 1)).cast("long").as("last_pos"))
      .where(col("hits") >= minHits)
  }

  /** SORTED-NEIGHBORHOOD near-dup blocking (Hernández–Stolfo) — the
    * third blocking family next to [[minhashLSH]] (hash buckets) and
    * [[graft.operators.FuzzyJoin]] (deletion neighborhoods): sort the
    * corpus by a similarity-preserving key and compare each doc only
    * to its `window` successors. The key here is the SORTED DISTINCT
    * TOKEN STRING — near-duplicate documents share most tokens, so
    * their sorted-token strings share long prefixes and land adjacent
    * in the sort; candidates verify by exact token Jaccard.
    *
    * Method contract (SN is approximate BY DESIGN, like LSH's bands):
    * only pairs whose keys agree on the first `prefixChars` characters
    * AND sit within `window` sort positions become candidates — the
    * prefix block keeps every sort window PARTITIONED (no global
    * row-grain window, the PlanSpec rule) and is part of the recall
    * contract, not a hidden cap. Candidate count is ≤ n·window.
    *
    * @return (id_a, id_b, jaccard) — canonical id order, Jaccard
    *         rounded to 4 (the q20 convention), ≥ threshold
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 5,
      threshold: Double = 0.7,
      prefixChars: Int = 2): DataFrame = {
    require(window >= 1 && window <= 64, "window in [1, 64]")
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    require(prefixChars >= 1 && prefixChars <= 16, "prefixChars in [1, 16]")
    import org.apache.spark.sql.expressions.Window
    val toks = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        array_sort(array_distinct(
          graft.functions.TextFunctions.tokens(col(textCol)))).as("__ts"))
      .where(size(col("__ts")) > 0)
      .withColumn("__key", concat_ws(" ", col("__ts")))
      .withColumn("__blk", substring(col("__key"), 1, prefixChars))
    val w = Window.partitionBy(col("__blk"))
      .orderBy(col("__key").asc, col("__id").asc)
    val ranked = toks.withColumn("__rn", row_number().over(w))
      .select(col("__blk"), col("__rn"), col("__id"), col("__ts"))
    val right = ranked.select(col("__blk").as("__blk2"),
      col("__rn").as("__rn2"), col("__id").as("__idb"),
      col("__ts").as("__tsb"))
    val cand = ranked
      .withColumn("__off", explode(typedlit((1 to window).toList)))
      .join(right, col("__blk2") === col("__blk") &&
        col("__rn2") === col("__rn") + col("__off"))
    val inter = size(array_intersect(col("__ts"), col("__tsb")))
    cand
      .withColumn("__i", inter)
      .withColumn("__u",
        size(col("__ts")) + size(col("__tsb")) - col("__i"))
      .withColumn("jaccard",
        round(col("__i").cast("double") / col("__u").cast("double"), 4))
      .where(col("jaccard") >= threshold)
      .select(least(col("__id"), col("__idb")).as("id_a"),
        greatest(col("__id"), col("__idb")).as("id_b"), col("jaccard"))
  }
}
