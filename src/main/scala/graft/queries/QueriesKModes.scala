package graft

import graft.functions.{Distances, TextFunctions}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query+oracle registrations: one family slice of the [[Queries]]
  * surface (split from the former monolithic Queries.scala; the
  * registry maps stay in [[Queries]]).
  */
private[graft] trait QueriesKModes { this: Queries.type =>
  // ------------------------------------------------------------------ kmodes
  /** Flagship feature assembly: orders → 4 categorical features. */
  def orderFeatures: Column = KModes.assemble(
    col("o_orderstatus"),
    col("o_orderpriority"),
    year(col("o_orderdate")),
    floor(col("o_totalprice") / 50000).cast("int"))

  // each feature wrapped in COALESCE(.., sentinel) like KModes.assemble,
  // so a NULL source column counts as its own category on both sides
  private[graft] val orderFeaturesSqlCols = Seq(
    "o_orderstatus",
    "o_orderpriority",
    "CAST(year(o_orderdate) AS VARCHAR)",
    "CAST(CAST(FLOOR(o_totalprice / 50000) AS INT) AS VARCHAR)")
    .map(e => s"COALESCE($e, '\u2205')")

  /** Fixed centers for the SQL-expressible assignment/cost oracles. */
  val FixedCenters: Array[Array[String]] = Array(
    Array("O", "1-URGENT", "1996", "2"),
    Array("F", "3-MEDIUM", "1998", "5"),
    Array("P", "5-LOW", "2000", "8"))

  private[graft] def fixedCenterDistSql: String = {
    val ds = FixedCenters.zipWithIndex.map { case (c, i) =>
      val terms = orderFeaturesSqlCols.zip(c).map { case (e, v) =>
        s"(CASE WHEN $e <> '$v' THEN 1 ELSE 0 END)"
      }
      s"(${terms.mkString(" + ")}) AS d$i"
    }
    s"SELECT o_orderkey, ${ds.mkString(", ")} FROM orders"
  }

  def kmodesAssign(s: SparkSession, dir: String): DataFrame = {
    val cLit = typedlit(FixedCenters.map(_.toSeq).toSeq)
    t(s, dir, "orders")
      .select(col("o_orderkey"), Distances.assign(orderFeatures, cLit).as("a"))
      .select(col("o_orderkey"), col("a.prediction").as("prediction"),
        col("a.min_dist").as("min_dist"))
      .orderBy("o_orderkey")
  }

  val kmodesAssignSql: String =
    s"""WITH d AS ($fixedCenterDistSql)
       |SELECT o_orderkey,
       |  CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0 WHEN d1 <= d2 THEN 1 ELSE 2 END AS prediction,
       |  LEAST(d0, d1, d2) AS min_dist
       |FROM d ORDER BY o_orderkey""".stripMargin

  def kmodesCost(s: SparkSession, dir: String): DataFrame = {
    val cLit = typedlit(FixedCenters.map(_.toSeq).toSeq)
    t(s, dir, "orders")
      .select(Distances.assign(orderFeatures, cLit).getField("min_dist").as("d"))
      .agg(round(sum(col("d")).cast("double") / count(lit(1)), 6).as("mean_cost"))
  }

  val kmodesCostSql: String =
    s"""WITH d AS ($fixedCenterDistSql)
       |SELECT round(CAST(SUM(LEAST(d0, d1, d2)) AS DOUBLE) / COUNT(*), 6) AS mean_cost
       |FROM d""".stripMargin

  /** R5 through the front door: one frequency-weighted assignment step
    * against the fixed centers ([[FrequencyAssign]]: a count job with no
    * exchange, then the coded kernel `Coded.nearestWeighted` per row, so
    * the registered plan is one narrow scan before the sort). The oracle
    * replays the reduction exactly: Hamming populations → k×n
    * match-count weights → re-assignment where a matching position costs
    * 1 − freq(center value)/|cluster| — all in plain SQL since the
    * weights are scalars, not per-row state. One branch is NOT
    * replayed: an empty Hamming cluster (operator falls back to plain
    * Hamming for that center; the oracle's CROSS JOIN would yield zero
    * rows instead) — every FixedCenters cluster is populated on this
    * data, and a violation empties the oracle result, failing the
    * row-count check loudly rather than passing silently.
    */
  def kmodesFrequencyStep(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders")
      .select(col("o_orderkey"), orderFeatures.as("features"))
    FrequencyAssign.assign(df, "features", FixedCenters)
      .select(col("o_orderkey"), col("prediction"),
        round(col("min_dist"), 6).as("freq_dist"))
      .orderBy("o_orderkey")
  }

  val kmodesFrequencyStepSql: String = {
    val k = FixedCenters.length
    val n = FixedCenters(0).length
    val fcols = orderFeaturesSqlCols.zipWithIndex
      .map { case (e, i) => s"$e AS f${i + 1}" }.mkString(", ")
    val hd = FixedCenters.zipWithIndex.map { case (c, i) =>
      val terms = (1 to n).map(p =>
        s"(CASE WHEN f$p <> '${c(p - 1)}' THEN 1 ELSE 0 END)")
      s"(${terms.mkString(" + ")}) AS d$i"
    }.mkString(", ")
    // freq of cluster p's OWN center value at each position
    val ms = (1 to n).map { p =>
      val cv = s"CASE p${FixedCenters.zipWithIndex.map { case (c, i) =>
        s" WHEN $i THEN '${c(p - 1)}'" }.mkString}" + " END"
      s"SUM(CASE WHEN f$p = ($cv) THEN 1 ELSE 0 END) AS m$p"
    }.mkString(", ")
    val es = FixedCenters.zipWithIndex.map { case (c, ci) =>
      val terms = (1 to n).map(p =>
        s"(CASE WHEN f$p <> '${c(p - 1)}' THEN 1.0E0 ELSE " +
          s"1.0E0 - CAST(w$ci.m$p AS DOUBLE) / CAST(w$ci.sz AS DOUBLE) END)")
      s"(${terms.mkString(" + ")}) AS e$ci"
    }.mkString(",\n    ")
    val wJoins = (0 until k)
      .map(ci => s"CROSS JOIN (SELECT * FROM w WHERE p = $ci) w$ci").mkString(" ")
    // argmin with ties to the lowest index, generated from k for BOTH
    // assignment passes (a hardcoded 3-way CASE would silently ignore
    // extra centers if FixedCenters ever grew)
    def argminCase(prefix: String) = "CASE " + (0 until k - 1).map { ci =>
      val conds = (ci + 1 until k).map(j => s"$prefix$ci <= $prefix$j").mkString(" AND ")
      s"WHEN $conds THEN $ci"
    }.mkString(" ") + s" ELSE ${k - 1} END"
    val predCase = argminCase("e")
    val eList = (0 until k).map("e" + _).mkString(", ")
    s"""WITH f AS (SELECT o_orderkey, $fcols FROM orders),
       |h AS (SELECT *, ${argminCase("d")} AS p
       |      FROM (SELECT *, $hd FROM f)),
       |w AS (SELECT p, COUNT(*) AS sz, $ms FROM h GROUP BY p),
       |e AS (SELECT h.o_orderkey,
       |    $es
       |  FROM h $wJoins)
       |SELECT o_orderkey, $predCase AS prediction,
       |  round(LEAST($eList), 6) AS freq_dist
       |FROM e ORDER BY o_orderkey""".stripMargin
  }

  def modePerGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(ArrayModeAggregator.modeArray(array(col("o_orderstatus"))).as("m"))
      .select(col("o_orderpriority"), element_at(col("m"), 1).as("mode_status"))
      .orderBy("o_orderpriority")

  val modePerGroupSql: String =
    """SELECT o_orderpriority, o_orderstatus AS mode_status FROM (
      |  SELECT o_orderpriority, o_orderstatus,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY count(*) DESC, o_orderstatus ASC) AS rn
      |  FROM orders GROUP BY o_orderpriority, o_orderstatus
      |) WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin

  /** Full seeded Lloyd fit, HASH-ORACLED (round-3 verdict #2): the
    * estimator runs in portable-init mode (`initHash = "md5"` — the
    * q19 pluggable-hash technique applied to init order) and the oracle
    * REPLAYS the entire algorithm in DuckDB SQL: the same md5-ranked
    * seeded init, then `maxIter` unrolled Lloyd iterations (assign by
    * Hamming with ties to the lowest cluster id, per-position weighted
    * mode with count-DESC/value-ASC ties) over DISTINCT feature tuples
    * weighted by multiplicity — O(|vocab| × k) per iteration, not
    * O(rows). Convergence needs no replay: once centers fix, further
    * unrolled iterations are the identity. The one branch not replayed
    * is the empty-cluster farthest-reseed (the oracle keeps the stale
    * center): no iteration empties a cluster on this data — and if one
    * ever did, the hashes would MISMATCH loudly, never silently pass.
    */
  def kmodesFitGlobal(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders").select(orderFeatures.as("features"))
    val model = new KModes().setK(8).setMaxIter(10).setSeed(42L)
      .setInitHash("md5").fit(df)
    model.transform(df).groupBy("prediction").count().orderBy("prediction")
  }

  /** Generated DuckDB replay of [[KModes]].fitGlobal — see
    * [[kmodesFitGlobal]]. `featExprs` are the already-COALESCEd feature
    * SQL expressions in order; emits ~maxIter × (n + 2) tiny CTEs.
    */
  /** CTE chain of one full Lloyd replay over an EXISTING tuples CTE
    * named `${pfx}tuples` with columns f1..fn and weight w. Every CTE
    * is prefixed, so multiple chains (per-bucket ensemble stages, q234)
    * compose in one statement. Emits `${pfx}c0..c$maxIter` (centers),
    * `${pfx}afin` (final assignment with rn=1 picking the winner).
    */
  private[graft] def lloydChainCtes(
      pfx: String, n: Int, k: Int, maxIter: Int, seedExpr: String): String = {
    val fs = (1 to n).map(i => s"f$i")
    val fList = fs.mkString(", ")
    val rList = fs.map("r." + _).mkString(", ")
    val keyStr = s"concat_ws(chr(1), $fList)"
    val hashStr = s"md5(concat_ws(chr(1), $seedExpr, $fList))"
    def dist(centerAlias: String) = fs.zipWithIndex.map { case (f, i) =>
      s"(CASE WHEN r.$f <> $centerAlias.g${i + 1} THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    // every CTE is MATERIALIZED: each iteration references its
    // predecessor twice, so default inlining would expand the chain
    // 2^maxIter-fold (observed as "too many open files" on the scan)
    val sb = new StringBuilder
    sb ++= s"${pfx}c0 AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS cid, " +
      (1 to n).map(i => s"f$i AS g$i").mkString(", ") + " FROM (\n" +
      s"  SELECT $fList, row_number() OVER (ORDER BY $hashStr ASC, $keyStr ASC) AS rn\n" +
      s"  FROM ${pfx}tuples) WHERE rn <= $k),\n"
    for (it <- 1 to maxIter) {
      sb ++= s"${pfx}a$it AS MATERIALIZED (SELECT $rList, r.w, c.cid,\n" +
        s"  row_number() OVER (PARTITION BY $rList ORDER BY (${dist("c")}) ASC, c.cid ASC) AS rn\n" +
        s"  FROM ${pfx}tuples r CROSS JOIN ${pfx}c${it - 1} c),\n"
      sb ++= s"${pfx}p$it AS MATERIALIZED (SELECT $fList, w, cid FROM ${pfx}a$it WHERE rn = 1),\n"
      for (p <- 1 to n)
        sb ++= s"${pfx}m${it}_$p AS MATERIALIZED (SELECT cid, val FROM (\n" +
          s"  SELECT cid, f$p AS val,\n" +
          s"    row_number() OVER (PARTITION BY cid ORDER BY SUM(w) DESC, f$p ASC) AS rn\n" +
          s"  FROM ${pfx}p$it GROUP BY cid, f$p) WHERE rn = 1),\n"
      sb ++= s"${pfx}c$it AS MATERIALIZED (SELECT c.cid, " +
        (1 to n).map(p => s"COALESCE(m$p.val, c.g$p) AS g$p").mkString(", ") +
        s" FROM ${pfx}c${it - 1} c " +
        (1 to n).map(p => s"LEFT JOIN ${pfx}m${it}_$p m$p ON m$p.cid = c.cid").mkString(" ") +
        "),\n"
    }
    sb ++= s"${pfx}afin AS (SELECT r.w, c.cid, (${dist("c")}) AS d,\n" +
      s"  row_number() OVER (PARTITION BY $rList ORDER BY (${dist("c")}) ASC, c.cid ASC) AS rn\n" +
      s"  FROM ${pfx}tuples r CROSS JOIN ${pfx}c$maxIter c)"
    sb.toString
  }

  private[graft] def lloydReplaySql(
      fromTable: String, featExprs: Seq[String],
      k: Int, maxIter: Int, seed: Long,
      finalSelect: String = null): String = {
    val n = featExprs.size
    val fList = (1 to n).map(i => s"f$i").mkString(", ")
    val featSel = featExprs.zipWithIndex
      .map { case (e, i) => s"$e AS f${i + 1}" }.mkString(", ")
    val sb = new StringBuilder
    sb ++= s"WITH feats AS MATERIALIZED (SELECT $featSel FROM $fromTable),\n"
    sb ++= s"tuples AS MATERIALIZED (SELECT $fList, COUNT(*) AS w FROM feats GROUP BY $fList),\n"
    sb ++= lloydChainCtes("", n, k, maxIter, s"'$seed'")
    sb ++= "\n"
    sb ++= (if (finalSelect != null) finalSelect
    else s"SELECT cid AS prediction, CAST(SUM(w) AS BIGINT) AS count\n" +
      s"FROM afin WHERE rn = 1 GROUP BY cid ORDER BY prediction")
    sb.toString
  }

  val kmodesFitGlobalSql: String =
    lloydReplaySql("orders", orderFeaturesSqlCols, k = 8, maxIter = 10, seed = 42L)

  def kmodesFitEnsemble(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders")
      .repartition(4, col("o_orderkey"))
      .select(orderFeatures.as("features"))
    // through the reference-style entry point (EnsembleKModes alias)
    val model = EnsembleKModes(8, 10).setSeed(42L).fit(df)
    model.transform(df).groupBy("prediction").count().orderBy("prediction")
  }

  /** q234: the ensemble MATH with deterministic partitioning — every
    * stage oracle-replayable, closing the one `no_oracle` row (q15,
    * which keeps the reference's physical-partition semantics). Stage-1
    * "partitions" are PORTABLE md5 hash buckets of the feature tuple
    * (not task partition ids), so each bucket is a pure function of the
    * data; each bucket gets a full md5-init Lloyd fit (seed + bucket),
    * replayed per bucket by the q14 chain. Stage 2 meta-clusters the
    * B×k collected modes with the SAME replayable fit (q190's recipe,
    * one more chain over a 16-row relation). Final readout assigns
    * every order to its metamode: (prediction, count, sum_dist) —
    * integer-exact. Like q14/q190 this relies on no cluster emptying
    * mid-fit (the reseed path is not SQL-replayed); holds on this data.
    */
  def kmodesEnsembleDet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 4; val kk = 4; val mi = 5; val sd = 42L
    val df = t(s, dir, "orders").select(orderFeatures.as("features"))
    val bucket = (graft.functions.PortableHash.hash60(
      concat_ws("\u0001", col("features")), "ens") % B).cast("int")
    val bucketed = df.withColumn("__b", bucket)
    val localModes: Seq[Array[Array[String]]] = (0 until B).map { b =>
      new KModes().setK(kk).setMaxIter(mi).setSeed(sd + b)
        .setInitHash("md5")
        .fit(bucketed.where(col("__b") === b).select(col("features")))
        .clusterCenters
    }
    val modesDf = localModes.flatten.map(_.toSeq).toSeq.toDF("features")
    val meta = new KModes().setK(kk).setMaxIter(mi).setSeed(sd)
      .setInitHash("md5").fit(modesDf)
    val cLit = typedlit(meta.clusterCenters.map(_.toSeq).toSeq)
    val a = Distances.assign(col("features"), cLit)
    df.select(a.getField("prediction").as("prediction"),
        a.getField("min_dist").as("d"))
      .groupBy(col("prediction"))
      .agg(count(lit(1)).as("count"), sum(col("d")).as("sum_dist"))
      .orderBy("prediction")
  }

  val kmodesEnsembleDetSql: String = {
    val B = 4; val kk = 4; val mi = 5; val sd = 42L
    val n = orderFeaturesSqlCols.size
    val fList = (1 to n).map(i => s"f$i").mkString(", ")
    val featSel = orderFeaturesSqlCols.zipWithIndex
      .map { case (e, i) => s"$e AS f${i + 1}" }.mkString(", ")
    val bucketExpr = s"${duckHash60("ens", s"concat_ws(chr(1), $fList)")} % $B"
    val gList = (1 to n).map(i => s"g$i").mkString(", ")
    val bucketCtes = (0 until B).map { b =>
      s"""b${b}tuples AS MATERIALIZED (SELECT $fList, COUNT(*) AS w
         |  FROM feats WHERE b = $b GROUP BY $fList),
         |${lloydChainCtes(s"b$b", n, kk, mi, s"'${sd + b}'")}"""
        .stripMargin
    }.mkString(",\n")
    val modeUnion = (0 until B)
      .map(b => s"SELECT $gList FROM b${b}c$mi").mkString("\n  UNION ALL ")
    val distFin = (1 to n).map(i =>
      s"(CASE WHEN r.f$i <> c.g$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH feats0 AS MATERIALIZED (SELECT $featSel FROM orders),
       |feats AS MATERIALIZED (SELECT $fList, $bucketExpr AS b FROM feats0),
       |$bucketCtes,
       |modes AS MATERIALIZED ($modeUnion),
       |mtuples AS MATERIALIZED (SELECT ${(1 to n).map(i => s"g$i AS f$i").mkString(", ")},
       |  COUNT(*) AS w FROM modes GROUP BY $gList),
       |${lloydChainCtes("m", n, kk, mi, s"'$sd'")},
       |tuples AS MATERIALIZED (SELECT $fList, COUNT(*) AS w FROM feats
       |  GROUP BY $fList),
       |fin AS (SELECT r.w, c.cid, ($distFin) AS d,
       |  row_number() OVER (PARTITION BY $fList
       |    ORDER BY ($distFin) ASC, c.cid ASC) AS rn
       |  FROM tuples r CROSS JOIN mc$mi c)
       |SELECT cid AS prediction, CAST(SUM(w) AS BIGINT) AS count,
       |  CAST(SUM(w * d) AS BIGINT) AS sum_dist
       |FROM fin WHERE rn = 1 GROUP BY cid ORDER BY prediction""".stripMargin
  }

  /** q276: k-PROTOTYPES mixed categorical+numeric clustering
    * ([[KPrototypes.fit]], Huang 1998 — the reference's own basis
    * paper defines k-prototypes alongside k-modes) over the part
    * table: categoricals (p_brand, p_type) under Hamming with mode
    * updates, numerics (pre-scaled p_size, p_retailprice) under
    * squared-L2 on e6-quantized integers with floor-mean updates,
    * mixed by γ = 10⁹ (≈ the largest single squared size term). Every
    * step is exact integers, so the oracle replays the ENTIRE
    * algorithm — md5 seed ranking, all three assign/update rounds on
    * BOTH attribute kinds, the (count DESC, value ASC) mode tie-break,
    * the stale-center rule — as unrolled MATERIALIZED CTEs (the
    * q14/q204 full-Lloyd-replay technique on the mixed distance).
    * Output: per-cluster size and exact mixed-distance inertia.
    */
  def kprototypesParts(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(col("p_partkey"),
      col("p_brand"), col("p_type"),
      (col("p_size") / lit(1000.0)).as("sz"),
      (col("p_retailprice") / lit(100000.0)).as("pr"))
    KPrototypes.fit(p, "p_partkey", Seq("p_brand", "p_type"),
        Seq("sz", "pr"), k = 4, gammaE12 = 1000000000L, maxIter = 3,
        seed = 42L)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"))
      .orderBy("cluster")
  }

  /** The q276/q278 shared mixed-Lloyd replay prelude (`WITH base …
    * cn3/cc3`): quantized base rows (optionally slice-filtered —
    * q278 trains on the even-key half), long-format qn/qc, md5 seed
    * ranking, and three unrolled assign/update iterations whose final
    * centers are cn3 (numeric) and cc3 (categorical). Defined ONCE so
    * the fit oracle and the estimator-persistence oracle replay the
    * same algorithm by construction.
    */
  private def kprototypesLloydPrelude(baseWhere: String): String = {
    def iter(i: Int) =
      s"""nd$i AS (SELECT qn.id, c.cid,
         |    SUM((qn.qv - c.cv) * (qn.qv - c.cv)) AS nd
         |  FROM qn JOIN cn${i - 1} c ON c.pos = qn.pos GROUP BY 1, 2),
         |cd$i AS (SELECT qc.id, c.cid,
         |    SUM(CASE WHEN qc.cv <> c.cw THEN 1 ELSE 0 END) AS cd
         |  FROM qc JOIN cc${i - 1} c ON c.cpos = qc.cpos GROUP BY 1, 2),
         |d$i AS MATERIALIZED (SELECT nd.id, nd.cid,
         |    nd.nd + 1000000000 * cd.cd AS d
         |  FROM nd$i nd JOIN cd$i cd USING (id, cid)),
         |a$i AS MATERIALIZED (SELECT id, cid FROM (SELECT id, cid,
         |    row_number() OVER (PARTITION BY id ORDER BY d ASC, cid ASC)
         |      AS rn FROM d$i) WHERE rn = 1),
         |un$i AS (SELECT a.cid, qn.pos,
         |    CAST(FLOOR(CAST(SUM(qn.qv) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS nv
         |  FROM a$i a JOIN qn ON qn.id = a.id GROUP BY 1, 2),
         |cn$i AS MATERIALIZED (SELECT c.cid, c.pos,
         |    COALESCE(u.nv, c.cv) AS cv
         |  FROM cn${i - 1} c LEFT JOIN un$i u
         |    ON u.cid = c.cid AND u.pos = c.pos),
         |uc$i AS (SELECT cid, cpos, cv AS nw FROM (
         |    SELECT a.cid, qc.cpos, qc.cv,
         |      row_number() OVER (PARTITION BY a.cid, qc.cpos
         |        ORDER BY COUNT(*) DESC, qc.cv ASC) AS rn
         |    FROM a$i a JOIN qc ON qc.id = a.id
         |    GROUP BY a.cid, qc.cpos, qc.cv) WHERE rn = 1),
         |cc$i AS MATERIALIZED (SELECT c.cid, c.cpos,
         |    COALESCE(u.nw, c.cw) AS cw
         |  FROM cc${i - 1} c LEFT JOIN uc$i u
         |    ON u.cid = c.cid AND u.cpos = c.cpos)""".stripMargin
    s"""WITH base AS MATERIALIZED (SELECT p_partkey AS id,
       |    COALESCE(CAST(p_brand AS VARCHAR), '∅') AS c0,
       |    COALESCE(CAST(p_type AS VARCHAR), '∅') AS c1,
       |    CAST(FLOOR((p_size / 1000.0) * 1000000.0) AS BIGINT) AS q0,
       |    CAST(FLOOR((p_retailprice / 100000.0) * 1000000.0) AS BIGINT)
       |      AS q1
       |  FROM part
       |  WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL$baseWhere),
       |qn AS MATERIALIZED (SELECT id, 0 AS pos, q0 AS qv FROM base
       |  UNION ALL SELECT id, 1, q1 FROM base),
       |qc AS MATERIALIZED (SELECT id, 0 AS cpos, c0 AS cv FROM base
       |  UNION ALL SELECT id, 1, c1 FROM base),
       |sd AS (SELECT id, row_number() OVER (ORDER BY
       |    ${duckHash60("42", "id")} ASC, id ASC) AS r
       |  FROM (SELECT DISTINCT id FROM base)),
       |cn0 AS MATERIALIZED (SELECT CAST(sd.r - 1 AS BIGINT) AS cid,
       |    qn.pos, qn.qv AS cv
       |  FROM sd JOIN qn ON qn.id = sd.id WHERE sd.r <= 4),
       |cc0 AS MATERIALIZED (SELECT CAST(sd.r - 1 AS BIGINT) AS cid,
       |    qc.cpos, qc.cv AS cw
       |  FROM sd JOIN qc ON qc.id = sd.id WHERE sd.r <= 4),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  val kprototypesPartsSql: String =
    s"""${kprototypesLloydPrelude("")},
       |ndf AS (SELECT qn.id, c.cid,
       |    SUM((qn.qv - c.cv) * (qn.qv - c.cv)) AS nd
       |  FROM qn JOIN cn3 c ON c.pos = qn.pos GROUP BY 1, 2),
       |cdf AS (SELECT qc.id, c.cid,
       |    SUM(CASE WHEN qc.cv <> c.cw THEN 1 ELSE 0 END) AS cd
       |  FROM qc JOIN cc3 c ON c.cpos = qc.cpos GROUP BY 1, 2),
       |dfin AS (SELECT nd.id, nd.cid, nd.nd + 1000000000 * cd.cd AS d
       |  FROM ndf nd JOIN cdf cd USING (id, cid)),
       |afin AS (SELECT id, cid, d FROM (SELECT id, cid, d,
       |    row_number() OVER (PARTITION BY id ORDER BY d ASC, cid ASC)
       |      AS rn FROM dfin) WHERE rn = 1)
       |SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(d) AS BIGINT) AS inertia
       |FROM afin GROUP BY cid ORDER BY cluster""".stripMargin

  /** q278: the [[KPrototypesEstimator]] PERSISTENCE + TRANSFORM path
    * (verdict-15 ask #3 — the one new-code path q276 left spec-only):
    * fit the estimator on the EVEN-keyed half of the part table (same
    * columns/γ/seed as q276), `write.overwrite().save` the fitted
    * model, `KPrototypesModel.load` it back, and assign the held-out
    * ODD-keyed half with the loaded model's `transform` — the
    * literal-folded all-built-in mixed-distance expression
    * (KPrototypes.scala `distArray` / the Writer–Reader parquet
    * roundtrip). Output: held-out cluster sizes. Oracle: the q276
    * Lloyd prelude restricted to the training slice (shared SQL — the
    * two oracles cannot drift), then the held-out rows assigned
    * against the final cn3/cc3 centers by the same (d ASC, cid ASC)
    * argmin — so a persistence bug (reordered centers, lost γ,
    * dropped quantization) breaks the hash.
    */
  def kprototypesTransform(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(col("p_partkey"),
      col("p_brand"), col("p_type"),
      (col("p_size") / lit(1000.0)).as("sz"),
      (col("p_retailprice") / lit(100000.0)).as("pr"))
      .where(col("sz").isNotNull && col("pr").isNotNull)
    val train = p.where(pmod(col("p_partkey"), lit(2)) === 0)
    val holdout = p.where(pmod(col("p_partkey"), lit(2)) === 1)
    val fitted = new KPrototypesEstimator()
      .setK(4).setGammaE12(1000000000L).setMaxIter(3).setSeed(42L)
      .setIdCol("p_partkey")
      .setCatCols(Seq("p_brand", "p_type")).setNumCols(Seq("sz", "pr"))
      .fit(train)
    val path = s"${scratchDir("kprototypes_model")}/m"
    fitted.write.overwrite().save(path)
    KPrototypesModel.load(path).transform(holdout)
      .groupBy(col("prediction").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .orderBy("cluster")
  }

  val kprototypesTransformSql: String =
    s"""${kprototypesLloydPrelude(" AND p_partkey % 2 = 0")},
       |hold AS MATERIALIZED (SELECT p_partkey AS id,
       |    COALESCE(CAST(p_brand AS VARCHAR), '∅') AS c0,
       |    COALESCE(CAST(p_type AS VARCHAR), '∅') AS c1,
       |    CAST(FLOOR((p_size / 1000.0) * 1000000.0) AS BIGINT) AS q0,
       |    CAST(FLOOR((p_retailprice / 100000.0) * 1000000.0) AS BIGINT)
       |      AS q1
       |  FROM part
       |  WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
       |    AND p_partkey % 2 = 1),
       |hn AS (SELECT id, 0 AS pos, q0 AS qv FROM hold
       |  UNION ALL SELECT id, 1, q1 FROM hold),
       |hc AS (SELECT id, 0 AS cpos, c0 AS cv FROM hold
       |  UNION ALL SELECT id, 1, c1 FROM hold),
       |ndh AS (SELECT hn.id, c.cid,
       |    SUM((hn.qv - c.cv) * (hn.qv - c.cv)) AS nd
       |  FROM hn JOIN cn3 c ON c.pos = hn.pos GROUP BY 1, 2),
       |cdh AS (SELECT hc.id, c.cid,
       |    SUM(CASE WHEN hc.cv <> c.cw THEN 1 ELSE 0 END) AS cd
       |  FROM hc JOIN cc3 c ON c.cpos = hc.cpos GROUP BY 1, 2),
       |dh AS (SELECT nd.id, nd.cid, nd.nd + 1000000000 * cd.cd AS d
       |  FROM ndh nd JOIN cdh cd USING (id, cid)),
       |ah AS (SELECT id, cid FROM (SELECT id, cid,
       |    row_number() OVER (PARTITION BY id ORDER BY d ASC, cid ASC)
       |      AS rn FROM dh) WHERE rn = 1)
       |SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n
       |FROM ah GROUP BY cid ORDER BY cluster""".stripMargin
}
