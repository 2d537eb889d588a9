package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import scala.util.Random

/** Dedup family: planted near-duplicates must be found; exact Jaccard
  * verification must match a brute-force oracle (SURVEY §6 tier 2:
  * "near-dups found ⊇ exact dups", dedup idempotence).
  */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new Random(53)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  private def sentence(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  /** 40 base docs + 10 near-dup pairs (1-word edit) + 2 exact dup pairs. */
  private lazy val docs = {
    val base = (0 until 40).map(i => (i.toLong, sentence(30)))
    val nearDups = (0 until 10).map { i =>
      val (id, text) = base(i)
      val words = text.split(" ")
      words(words.length / 2) = "CHANGED"
      (100L + i, words.mkString(" "))
    }
    val exactDups = (0 until 2).map(i => (200L + i, base(i)._2))
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  private def bruteJaccard(threshold: Double): Set[(Long, Long)] = {
    val rows = docs.as[(Long, String)].collect()
    def sh(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSet
    (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      j = sh(ta).intersect(sh(tb)).size.toDouble / sh(ta).union(sh(tb)).size
      if j >= threshold
    } yield (ia, ib)).toSet
  }

  test("exact dedup keeps the lowest id per group and is idempotent") {
    val out = Dedup.exact(docs, Seq(col("text")), col("doc_id"))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(0L) && !ids.contains(200L))
    assert(ids.contains(1L) && !ids.contains(201L))
    assert(out.count() == docs.count() - 2)
    val again = Dedup.exact(out, Seq(col("text")), col("doc_id"))
    assert(again.count() == out.count())
  }

  test("minhashLSH finds all planted near-dups (recall on >= 0.7 pairs)") {
    val want = bruteJaccard(0.7)
    val got = Dedup.minhashLSH(docs, "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("ngramJaccardPairs matches brute force at threshold 0.5") {
    val want = bruteJaccard(0.5)
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("simhash: identical docs at distance 0; near-dup set ⊇ exact dups") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Int)].collect()
    val zero = pairs.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert(zero.contains((0L, 200L)) && zero.contains((1L, 201L)))
  }

  test("jaccard values from the LSH path equal exact computation") {
    val got = Dedup.minhashLSH(docs, "doc_id", "text", threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    val rows = docs.as[(Long, String)].collect().toMap
    def sh(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSet
    got.foreach { case (a, b, j) =>
      val (sa, sb) = (sh(rows(a)), sh(rows(b)))
      val want = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - math.rint(want * 10000) / 10000) < 1.5e-4)
    }
  }

  test("connectedComponents: chains, stars, and disjoint pairs get min-id labels") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> all label 1
      (10L, 11L), (10L, 12L),          // star -> label 10
      (20L, 21L)                       // pair -> label 20
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents raises on non-convergence instead of wrong labels") {
    val chain = (0L until 200L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("id_a", "id_b")
    val err = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
    assert(err.getMessage.contains("converge"))
  }

  test("connectedComponents: pointer jumping converges a 200-chain in O(log d)") {
    // plain neighbor-min propagation would need 199 passes here; with
    // the per-pass label-of-label jump the default maxIter=25 is ample
    val chain = (0L until 200L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("id_a", "id_b")
    val ok = Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(ok.size == 200 && ok.values.toSet == Set(0L))
  }

  test("connectedComponents: adversarial 10k-node path converges on auto budget") {
    // worst-case diameter for the vertex count — the shape the round-3
    // verdict asked to prove needs NO manual maxIter: the auto budget is
    // log2(10000)+4 ≈ 18 passes, each a candidate-sized shuffle
    val chain = (0L until 10000L).sliding(2).map(w => (w(0), w(1)))
      .toSeq.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(got.length == 10000)
    assert(got.forall(_._2 == 0L))
  }

  test("connectedComponents: a null id links nothing, on every path and id type") {
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (Some(4L), Some(5L)), (None, None)).toDF("id_a", "id_b")
    def cc(p: org.apache.spark.sql.DataFrame, maxIter: Int): Seq[(String, String)] =
      Dedup.connectedComponents(p, maxIter).collect()
        .map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq.sorted
    def as(t: String) = pairs.select($"id_a".cast(t).as("id_a"), $"id_b".cast(t).as("id_b"))
    val want = Seq(("1", "1"), ("2", "1"), ("3", "3"), ("4", "4"), ("5", "4"))
    assert(cc(pairs, 0) == want, "Long auto")
    assert(cc(as("int"), 0) == want, "Int auto")
    assert(cc(as("string"), 0) == want, "String auto")
    assert(cc(pairs, 20) == want, "Long direct loop")
  }

  test("deduplicate keeps one canonical doc per near-dup group, nulls survive") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (3L, "a completely different document about spark execution plans"),
      (4L, null: String))
      .toDF("doc_id", "text")
    val survivors = Dedup.deduplicate(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 3L, 4L))
  }

  test("minhashLSHJoin finds cross-side near-dups only, no within-side pairs") {
    val shared = "the quick brown fox jumps over the lazy dog every single day"
    val newBatch = Seq(
      (100L, shared),                                         // dup of corpus 1
      (101L, "an entirely novel document about catalyst rules"),
      (102L, null: String))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, shared),
      (2L, shared),                                            // within-corpus dup: NOT emitted
      (3L, "some other unrelated corpus text entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLSHJoin(newBatch, corpus, "doc_id", "text")
      .select("new_id", "corpus_id").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((100L, 1L), (100L, 2L)), s"got $got")
  }

  test("null-text documents never pair") {
    val withNulls = docs.union(Seq((300L, null.asInstanceOf[String]),
      (301L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val got = Dedup.minhashLSH(withNulls, "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!got.exists { case (a, b) => a >= 300L || b >= 300L })
    val sim = Dedup.simhashPairs(withNulls, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!sim.exists { case (a, b) => a >= 300L || b >= 300L })
  }

  test("exact-duplicate texts expand to jaccard-1.0 member pairs") {
    val withCopies = docs
      .union(docs.where($"doc_id" === 5L).select(($"doc_id" + 500).as("doc_id"), $"text"))
      .union(docs.where($"doc_id" === 5L).select(($"doc_id" + 600).as("doc_id"), $"text"))
    val got = Dedup.minhashLSH(withCopies, "doc_id", "text", threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    val fam = got.filter(p => Set(5L, 505L, 605L).contains(p._1) &&
      Set(505L, 605L).contains(p._2))
    assert(fam.map(p => (p._1, p._2)).toSet == Set((5L, 505L), (5L, 605L), (505L, 605L)))
    assert(fam.forall(_._3 == 1.0))
  }

  test("ngramContamination flags exactly the docs sharing a complete n-gram") {
    val eval = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // one 8-gram
      (2L, "short eval doc under eight tokens")) // carries no 8-gram
      .toDF("doc_id", "text")
    val corpus = Seq(
      // embeds the eval 8-gram twice at different offsets — shingles are
      // DISTINCT per doc, so it still counts as ONE hit
      (100L, "x alpha beta gamma delta epsilon zeta eta theta y " +
        "alpha beta gamma delta epsilon zeta eta theta"),
      // shares only a 7-token prefix: no complete 8-gram in common
      (101L, "alpha beta gamma delta epsilon zeta eta DIFFERENT tail words"),
      (102L, "totally unrelated corpus text with more than eight tokens here"),
      // contains the SHORT eval doc verbatim — still no 8-gram to share
      (103L, "short eval doc under eight tokens plus harmless padding words"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContamination(corpus, eval, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L)), s"got $got")
  }

  test("ngramContaminationSpans: per-(corpus, eval) hit counts at " +
      "WINDOW grain with the minimal covering token span") {
    val eval = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // eval-1's 8-gram at positions 2 and 11 — TWO window hits at
      // span grain (distinctness must not collapse them), covering
      // tokens [2, 18]
      (100L, "x alpha beta gamma delta epsilon zeta eta theta y " +
        "alpha beta gamma delta epsilon zeta eta theta"),
      // both eval docs hit doc 101: eval-1's gram at pos 1, eval-2's
      // at pos 9 → two PAIR rows with their own spans
      (101L, "alpha beta gamma delta epsilon zeta eta theta " +
        "one two three four five six seven eight"),
      // a 7-token overlap is no hit
      (102L, "alpha beta gamma delta epsilon zeta eta DIFFERENT x"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContaminationSpans(corpus, eval, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (100L, 1L, 2L, 2L, 18L),
      (101L, 1L, 1L, 1L, 8L),
      (101L, 2L, 1L, 9L, 16L)), s"got $got")
    // eval-1 sliding inside doc 101? eval docs are 8 tokens = one gram
    // each, so hits == windows matched; a 9-token eval doc contributes
    // TWO grams and a corpus doc carrying it hits both windows
    val eval2 = Seq((3L, "alpha beta gamma delta epsilon zeta eta " +
      "theta one")).toDF("doc_id", "text")
    val got2 = Dedup.ngramContaminationSpans(
        Seq((200L, "alpha beta gamma delta epsilon zeta eta theta " +
          "one two")).toDF("doc_id", "text"),
        eval2, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got2 == Set((200L, 3L, 2L, 1L, 9L)), s"got $got2")
  }

  test("sortedNeighborhoodPairs: near-dups land adjacent and verify") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta"), // jac 5/6 = 0.8333
      (3L, "alpha beta gamma unrelated suffix words here"), // low jac
      (4L, "zz completely different vocabulary entirely"),
      (5L, "zz completely different vocabulary entirely extra")) // 5/6
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 3, threshold = 0.7)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((1L, 2L), (4L, 5L)), got.toString)
    assert(got((1L, 2L)) == 0.8333, got.toString)
    // the prefix block is part of the contract: docs whose sorted-token
    // strings differ in the first 2 chars are never candidates — (1,4)
    // can't pair no matter the window
    val one = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
      window = 64, threshold = 0.0001)
    assert(!one.as[(Long, Long, Double)].collect()
      .exists(r => r._1 == 1L && r._2 == 4L))
    // deterministic under repartition
    val a = Dedup.sortedNeighborhoodPairs(docs.repartition(5), "doc_id",
        "text", window = 3, threshold = 0.7)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(a.map(r => (r._1, r._2)) == Seq((1L, 2L), (4L, 5L)), a.toString)
  }

  test("hammingPairs: pigeonhole completeness at maxDist=3 — blocked " +
      "output equals brute-force all-pairs for adversarial bit layouts") {
    // adversarial placements: flips spread across DIFFERENT 16-bit
    // bands (a blocking scheme that keyed on fewer than 4 bands, or on
    // the wrong band boundaries, loses exactly these)
    val base = 0x0123456789ABCDEFL
    val rows = Seq(
      10L -> base,
      11L -> base, // exact dup of 10 — must re-expand at hamming 0
      12L -> (base ^ 1L), // 1 flip, band 0
      13L -> (base ^ (1L << 17) ^ (1L << 33)), // 2 flips, bands 1+2
      14L -> (base ^ (1L << 1) ^ (1L << 18) ^ (1L << 63)), // 3 flips, bands 0+1+3
      15L -> (base ^ (1L << 2) ^ (1L << 19) ^ (1L << 34) ^ (1L << 50)), // 4 — out
      16L -> ~base, // far
      17L -> (~base ^ 2L)) // 1 flip from 16
    val df = rows.toDF("doc_id", "dh")
    val got = Dedup.hammingPairs(df, "doc_id", "dh", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(want.exists(_._3 == 3) && want.exists(_._3 == 0)) // layout sanity
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("hammingPairs: oversized band buckets are dropped by the cap, " +
      "not silently truncated mid-bucket") {
    // 30 distinct hashes all within hamming<=2 of base: every band
    // bucket holds ~all of them, so cap=10 drops the buckets entirely
    val rows = (0 until 30).map(i =>
      (i.toLong, 0x5555_5555_5555_5555L ^ (1L << i))) // 1 flip each, distinct
    val df = rows.toDF("doc_id", "dh")
    val capped = Dedup.hammingPairs(df, "doc_id", "dh", maxDist = 3,
      maxBucketSize = 10).count()
    val full = Dedup.hammingPairs(df, "doc_id", "dh", maxDist = 3,
      maxBucketSize = 1000).as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(full == want) // cap raised -> exact recall returns
    assert(capped < full.size) // cap dropped crowded buckets wholesale
  }
}
