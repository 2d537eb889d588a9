package graft

import graft.functions.{Distances, HammingAssign, HammingKernels, TextFunctions, VectorFunctions}
import graft.operators.{ArrayModeAggregator, Coded}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

/** Distance kernels, one-pass mode aggregation, text + vector functions
  * (SURVEY §6 tier 1).
  */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("hamming kernel matches scala reference on dataframes") {
    val rows = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c"), 0),
      (Seq("a", "b", "c"), Seq("a", "x", "c"), 1),
      (Seq("a", "b", "c"), Seq("x", "y", "z"), 3))
    rows.foreach { case (a, b, want) =>
      val got = Seq(1).toDF("x")
        .select(Distances.hamming(typedlit(a), typedlit(b)).as("d"))
        .head.getInt(0)
      assert(got == want)
    }
  }

  test("hamming counts each position one array lacks as a mismatch") {
    val rows = Seq(
      (Seq("a", "b"), Seq("a", "b", "c"), 1),
      (Seq("a", "b"), Seq[String]("a", "b", null), 1),
      (Seq.empty[String], Seq[String](null, "b", "c"), 3),
      (Seq[String](null), Seq[String](null, "b"), 1))
    rows.foreach { case (a, b, want) =>
      val got = Seq(1).toDF("x")
        .select(Distances.hamming(typedlit(a), typedlit(b)).as("d"),
          Distances.hamming(typedlit(b), typedlit(a)).as("r"))
        .head
      assert(got.getInt(0) == want && got.getInt(1) == want, s"$a vs $b")
    }
    val nullRow = Seq[Seq[String]](null).toDF("f")
      .select(Distances.hamming(col("f"), typedlit(Seq("a")))).head
    assert(nullRow.isNullAt(0))
  }

  test("assignment ties go to the lowest cluster id (first-wins argmin)") {
    val centers = Seq(Seq("a", "x"), Seq("a", "y")) // equidistant from (a, z)
    val got = Seq(1).toDF("x")
      .select(Distances.assign(typedlit(Seq("a", "z")), typedlit(centers))
        .getField("prediction"))
      .head.getInt(0)
    assert(got == 0)
  }

  test("modeArray: one-pass multi-column mode, ties (count DESC, value ASC)") {
    val df = Seq(
      Seq("a", "1"), Seq("a", "2"), Seq("b", "2"), Seq("b", "1"))
      .toDF("features")
    val got = df.agg(ArrayModeAggregator.modeArray(col("features"))).head.getSeq[String](0)
    // both values tie 2-2 in each column -> smallest value wins
    assert(got == Seq("a", "1"))
  }

  test("modeArray: null becomes the sentinel category") {
    val df = Seq(Seq[String](null, "x"), Seq[String](null, "x"), Seq("a", "x"))
      .toDF("features")
    val got = df.agg(ArrayModeAggregator.modeArray(col("features"))).head.getSeq[String](0)
    assert(got == Seq(ArrayModeAggregator.NullSentinel, "x"))
  }

  test("text functions: counts and ratios on a known sentence") {
    val df = Seq("The cat, and the DOG!").toDF("text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")).as("nt"),
      TextFunctions.bpeTokenCount(col("text")).as("nb"),
      TextFunctions.stopwordCount(col("text"), TextFunctions.StopwordsEn).as("sw"),
      TextFunctions.langId(col("text")).as("lang")).head
    assert(r.getInt(0) == 5)            // the cat, and the dog!
    assert(r.getInt(1) == 7)            // The cat , and the DOG !
    assert(r.getInt(2) == 3)            // the, and, the
    assert(r.getString(3) == "en")
  }

  test("readability: sentence/syllable counts and Flesch centipoints") {
    val df = Seq("The cat sat. The dog ran! Why?",  // 3 sentences
      "unpunctuated stream of words",                // floors to 1 sentence
      "").toDF("text")
    val rows = df.select(
      TextFunctions.sentenceCount(col("text")).as("s"),
      TextFunctions.syllableCount(col("text")).as("y"),
      TextFunctions.fleschCenti(col("text")).as("f")).collect()
    assert(rows(0).getInt(0) == 3)
    // vowel runs: e,a,a,e,o,a,y -> The(1) cat(1) sat(1) The(1) dog(1)
    // ran(1) Why(1) = 7
    assert(rows(0).getInt(1) == 7)
    val w0 = 7.0; val f0 = (206.835 - 1.015 * (w0 / 3) - 84.6 * (7 / w0)) * 100
    assert(rows(0).getLong(2) == math.floor(f0).toLong)
    assert(rows(1).getInt(0) == 1, "no enders floors to one sentence")
    assert(rows(2).isNullAt(2), "empty text has no words -> null score")
  }

  test("fingerprint: word-order and duplicate insensitive") {
    val df = Seq(("cat dog cat", "dog cat")).toDF("a", "b")
    val r = df.select(
      TextFunctions.fingerprint(col("a")).as("fa"),
      TextFunctions.fingerprint(col("b")).as("fb")).head
    assert(r.getString(0) == r.getString(1))
  }

  test("shingles: n-gram windows, short text collapses to one shingle") {
    val df = Seq("a b c d").toDF("text")
    val got = df.select(TextFunctions.shingles(col("text"), 3)).head.getSeq[String](0)
    assert(got.toSet == Set("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(TextFunctions.shingles(col("text"), 3)).head.getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("vector expressions match scala math (codegen + interpreted)") {
    val a = Seq(1.0, 2.0, 3.0)
    val b = Seq(-1.0, 0.5, 2.0)
    val wantDot = a.zip(b).map { case (x, y) => x * y }.sum
    val wantCos = wantDot /
      (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dotProduct(col("a"), col("b")).as("d"),
      VectorFunctions.cosineSim(col("a"), col("b")).as("c"),
      VectorFunctions.l2Normalize(col("a")).as("n")).head
    assert(math.abs(r.getDouble(0) - wantDot) < 1e-12)
    assert(math.abs(r.getDouble(1) - wantCos) < 1e-12)
    val n = r.getSeq[Double](2)
    assert(math.abs(n.map(x => x * x).sum - 1.0) < 1e-12)

    // interpreted path (eval) must agree with codegen
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val ad = new GenericArrayData(a.toArray)
    val bd = new GenericArrayData(b.toArray)
    val dot = graft.functions.DotProduct(null, null)
    assert(math.abs(dot.nullSafeEval(ad, bd).asInstanceOf[Double] - wantDot) < 1e-12)
    val cos = graft.functions.CosineSimilarity(null, null)
    assert(math.abs(cos.nullSafeEval(ad, bd).asInstanceOf[Double] - wantCos) < 1e-12)
  }

  test("sortedIntersectCount agrees with array_intersect on random sets") {
    val rnd = new scala.util.Random(11)
    val cases = Seq.tabulate(40) { _ =>
      def randSet = Seq.fill(rnd.nextInt(30))(s"w${rnd.nextInt(40)}").distinct.sorted
      (randSet, randSet)
    } :+ ((Seq.empty[String], Seq("a"))) :+ ((Seq.empty[String], Seq.empty[String]))
    val df = cases.toDF("a", "b")
    val rows = df.select(
      graft.functions.SetExpressions.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("builtin")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))

    // interpreted path must agree with codegen
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    cases.foreach { case (a, b) =>
      val ad = new GenericArrayData(a.map(UTF8String.fromString).toArray[Any])
      val bd = new GenericArrayData(b.map(UTF8String.fromString).toArray[Any])
      val want = a.toSet.intersect(b.toSet).size
      assert(graft.functions.SetKernels.intersectCountSorted(ad, bd) == want)
    }
  }

  test("intersectCountBounded: exact for passing pairs, filter-equivalent for all") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(17)
    val thresholds = Seq(500000L, 700000L, 800000L, 900000L, 1000000L)
    (1 to 200).foreach { _ =>
      def randSet = Seq.fill(1 + rnd.nextInt(30))(s"w${rnd.nextInt(40)}")
        .distinct.sorted
      val (a, b) = (randSet, randSet)
      val t = thresholds(rnd.nextInt(thresholds.size))
      val ad = new GenericArrayData(a.map(UTF8String.fromString).toArray[Any])
      val bd = new GenericArrayData(b.map(UTF8String.fromString).toArray[Any])
      val inter = a.toSet.intersect(b.toSet).size.toLong
      val uni = a.size + b.size - inter
      val passes = inter * 1000000L >= uni * t
      val got = graft.functions.SetKernels.intersectCountBounded(ad, bd, t)
      if (passes) {
        // a pair that can meet the predicate must get its exact count
        assert(got == inter, s"a=$a b=$b t=$t")
      } else {
        // a failing pair may abort (-1) or finish — either way the
        // caller's filter must still reject it
        assert(got == inter || got == -1, s"a=$a b=$b t=$t got=$got")
        val gotUni = a.size + b.size - got
        assert(got * 1000000L < gotUni * t, s"a=$a b=$b t=$t got=$got")
      }
    }
  }

  test("cosine of zero vector is 0.0, not NaN") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosineSim(col("a"), col("b"))).head.getDouble(0) == 0.0)
  }

  test("native HammingAssign agrees with the composed built-in form") {
    val rows = Seq(
      Seq("a", "b", "c"), Seq("a", "x", "c"), Seq("x", "y", "z"),
      Seq("a", "b"), Seq[String](null, "b", "c"))
    val centers = Seq(Seq("a", "b", "c"), Seq("x", "y", "z"), Seq("a", "x", "c"))
    val df = rows.toDF("f")
    val cLit = typedlit(centers)
    val both = df.select(
      Distances.assign(col("f"), cLit).as("n"),
      Distances.assignComposed(col("f"), cLit).as("c")).collect()
    both.foreach { r =>
      assert(r.getStruct(0).getInt(0) == r.getStruct(1).getInt(0), r.toString)
      assert(r.getStruct(0).getInt(1) == r.getStruct(1).getInt(1), r.toString)
    }
  }

  // rows and centers for the decoded, early-stopping assignment kernel:
  // null elements, the literal null-category value, length mismatches
  // and rows equidistant from several centers
  private val sentinel = ArrayModeAggregator.NullSentinel
  private val kernelRows = Seq(
    Seq("a", "b", "c"), Seq("a", "x", "c"), Seq("x", "y", "z"), Seq("a", "b"),
    Seq[String](null, "b", "c"), Seq[String](null, null, null),
    Seq(sentinel, "b", "c"), Seq(sentinel, "y", sentinel), Seq("b"),
    Seq("a", "b", "c", "d", "e"), Seq("q", "q", "q"), Seq("a", "y", "q"))
  private val kernelCenters = Seq(
    Seq("a", "b", "c"), Seq("x", "y", "z"), Seq("a", "x", "c"),
    Seq(sentinel, "y", sentinel), Seq[String](null, "b", "c"), Seq("a", "b", "c"))

  private def arrayData(xs: Seq[String]) =
    new GenericArrayData(xs.map(v => if (v == null) null else UTF8String.fromString(v)).toArray[Any])

  test("raw-row early-stop kernel equals the argmin of HammingKernels.hamming") {
    // beyond the shared rows: values that no center holds, a row longer
    // than every center, a null element next to the literal null category;
    // and one more center with null elements
    val rows = kernelRows ++ Seq(Seq("zz", "b", "c"),
      Seq[String]("a", "b", "c", null, sentinel, "w"), Seq[String](sentinel, null, "zz"))
    val centers = kernelCenters :+ Seq[String](null, null, "z")
    val cs = centers.map(arrayData)
    val folded = new Coded.Centers(new GenericArrayData(cs.toArray[Any]))
    // the oracle reads a row's null as itself, or as the null category
    def want(r: Seq[String], sentinelNulls: Boolean) = HammingKernels.nearest(
      arrayData(if (sentinelNulls) r.map(v => if (v == null) sentinel else v) else r), cs)
    for (r <- rows; sentinelNulls <- Seq(false, true)) {
      val got = folded.nearest(arrayData(r),
        if (sentinelNulls) ArrayModeAggregator.NullSentinelUtf8 else null)
      assert((Coded.prediction(got), Coded.minDist(got)) == want(r, sentinelNulls),
        s"$r sentinelNulls=$sentinelNulls")
    }
    // through the expression, on literal and on non-foldable column centers
    def assign(c: org.apache.spark.sql.Column, sentinelNulls: Boolean) = Bridge.column(
      HammingAssign(Bridge.expression(col("f")), Bridge.expression(c), sentinelNulls))
    val out = rows.map(r => (r, centers)).toDF("f", "cs").select(
      assign(typedlit(centers), false), assign(col("cs"), false),
      assign(typedlit(centers), true), assign(col("cs"), true)).collect()
    def pair(r: Row, i: Int) = (r.getStruct(i).getInt(0), r.getStruct(i).getInt(1))
    rows.zip(out).foreach { case (r, o) =>
      assert(pair(o, 0) == want(r, false) && pair(o, 1) == want(r, false), r.toString)
      assert(pair(o, 2) == want(r, true) && pair(o, 3) == want(r, true), r.toString)
    }
  }

  test("HammingAssign agrees with Distances.assignComposed for literal and " +
      "column centers, and reads nulls as the null category when asked") {
    val df = kernelRows.map(r => (r, kernelCenters)).toDF("f", "cs")
    val normalized = transform(col("f"), x => coalesce(x, lit(sentinel)))
    val cLit = typedlit(kernelCenters)
    def sentinelAssign(c: org.apache.spark.sql.Column) = Bridge.column(
      HammingAssign(Bridge.expression(col("f")), Bridge.expression(c), nullsAsSentinel = true))
    val out = df.select(
      Distances.assign(col("f"), cLit).as("lit"),
      Distances.assign(col("f"), col("cs")).as("col"),
      Distances.assignComposed(col("f"), cLit).as("composed"),
      sentinelAssign(cLit).as("sLit"), sentinelAssign(col("cs")).as("sCol"),
      Distances.assignComposed(normalized, cLit).as("sComposed")).collect()
    def pair(r: Row, i: Int) = (r.getStruct(i).getInt(0), r.getStruct(i).getInt(1))
    out.foreach { r =>
      assert(pair(r, 0) == pair(r, 2) && pair(r, 1) == pair(r, 2), r.toString)
      assert(pair(r, 3) == pair(r, 5) && pair(r, 4) == pair(r, 5), r.toString)
    }
    // a null row element matches a null center element, or the null
    // category when asked
    val nullRow = out(kernelRows.indexOf(Seq[String](null, "b", "c")))
    assert(pair(nullRow, 0) == ((4, 0)))
    assert(pair(nullRow, 3) == ((0, 1)))
  }

  test("HammingAssign agrees with Distances.assignComposed on rows shorter " +
      "than a center's null") {
    val rows = Seq(Seq.empty[String], Seq("a"), Seq[String](null), Seq("q", "b"))
    val out = rows.toDF("f").select(
      Distances.assign(col("f"), typedlit(kernelCenters)).as("n"),
      Distances.assignComposed(col("f"), typedlit(kernelCenters)).as("c")).collect()
    def pair(r: Row, i: Int) = (r.getStruct(i).getInt(0), r.getStruct(i).getInt(1))
    out.foreach(r => assert(pair(r, 0) == pair(r, 1), r.toString))
    // the empty row is 3 from every center: the lowest id wins
    assert(pair(out(0), 1) == ((0, 3)))
  }

  test("SQL surface: graft_* functions usable from spark.sql after register") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  round(graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6) AS c,
        |  graft_shingles('a b c d', 3) AS sh,
        |  graft_hamming_assign(array('a', 'b'),
        |    array(array('a', 'b'), array('x', 'y'))).prediction AS p
        |""".stripMargin).head
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getSeq[String](2).toSet == Set("a b c", "b c d"))
    assert(r.getInt(3) == 0)
  }

  test("SQL surface: native aggregates graft_top_k / graft_mode_array") {
    GraftExtensions.register(spark)
    Seq((1, 5.0, 10L, Seq("a", "x")), (1, 9.0, 11L, Seq("a", "y")),
      (1, 7.0, 12L, Seq("b", "y")), (2, 1.0, 13L, Seq("c", "z")))
      .toDF("g", "v", "id", "f").createOrReplaceTempView("agg_probe")
    val rows = spark.sql(
      """SELECT g, graft_top_k(CAST(v AS DOUBLE), CAST(id AS BIGINT), 2) AS top,
        |  graft_mode_array(f) AS m
        |FROM agg_probe GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) == Seq(11L, 12L))
    assert(rows(0).getSeq[String](2) == Seq("a", "y"))
    assert(rows(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) == Seq(13L))
  }

  test("native ModeArrayAgg agrees with the typed-Aggregator form, grouped") {
    val rows = (0 until 500).map { i =>
      (i % 7, Seq(s"v${i % 3}", s"w${i % 5}", if (i % 11 == 0) null else "x"))
    }
    val df = rows.toDF("g", "features")
    val native = df.groupBy("g").agg(ArrayModeAggregator.modeArray(col("features")).as("m"))
      .orderBy("g").collect().map(_.getSeq[String](1)).toSeq
    val udaf = df.groupBy("g").agg(TypedArrayModeAggregator.modeArrayUdaf(col("features")).as("m"))
      .orderBy("g").collect().map(_.getSeq[String](1)).toSeq
    assert(native == udaf)
  }
}
