package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.KMeansDF
import graft.operators.KMeansDF.Centroid

/** Clustering query pack — the reference's entire surface
  * (kmeans_with_mapreduce-cuda.cu / kmeans_mapreduce_core.cu), Spark-first.
  *
  * Points are the 2-D projection of `embeddings` (Tables.points2d), the
  * analogue of the reference's Birch `x y` text points. Seed centroids are
  * the points with id < K — a deterministic, oracle-reproducible stand-in
  * for the reference's seeded random sample (random_num_generator.hpp).
  */
object Clustering extends QueryPack {
  val K = 15 // reference NUM_OUTPUT (config.cuh:14)
  val LloydFixedIters = 5 // fixed-iteration mode (reference ITERATIONS shape)

  /** Iterations the CONVERGENT `km_lloyd` fit performs at sf0.01 — the
    * correctness gate's scale. The tol-gated trajectory is
    * deterministic (per-round round-6 HALF_UP, strict-< tie-break), so
    * replaying exactly this many fixed stages reproduces it bit-for-
    * bit, which is what flips km_lloyd from rows-only to hash-gated
    * (round 11). Pinned by ClusteringSpec via `fitWithIters`, so a
    * testdata or step-arithmetic change fails loudly in ScalaTest
    * instead of silently hash-mismatching in the driver. */
  val LloydConvergedItersSf001 = 14

  /** DBSCAN parameters: chosen so sf0.01 shows real structure (≈200
    * cores in ≈17 clusters, ≈290 border/noise — not one blob, not all
    * noise). */
  val DbscanEps = 0.02
  val DbscanMinPts = 5

  /** Deterministic seed centroids: points with id < K, cid = id. */
  def seedCentroids(points: DataFrame): Seq[Centroid] =
    points.filter(col("id") < K).collect()
      .map(r => Centroid(r.getAs[Long]("id").toInt,
        r.getAs[Double]("x"), r.getAs[Double]("y")))
      .sortBy(_.cid).toSeq

  private def pts(s: SparkSession, d: String): DataFrame = Tables.points2d(s, d)

  /** Lightweight-coreset parameters (km_coreset): target sample size,
    * coordinate quantizer, and the positive-domain offset (every
    * integral division in the pipeline is truncating, and Spark `div`
    * only equals DuckDB `//` on non-negative operands — the offset
    * keeps the whole quantized domain positive; distances are
    * offset-invariant). */
  val CoresetM = 256
  val CoresetQ = 1048576L // 2^20
  val CoresetOff = 8.0

  /** Quantized positive-domain points (id, qx, qy) — the ONE float →
    * integer step; everything downstream is exact. */
  private[graft] def coresetQpts(p: DataFrame): DataFrame =
    p.select(col("id"),
      floor((col("x") + CoresetOff) * CoresetQ).cast("long").as("qx"),
      floor((col("y") + CoresetOff) * CoresetQ).cast("long").as("qy"))

  /** Lightweight-coreset selection (Bachem, Lucic & Krause, KDD 2018):
    * q(x) = 1/(2n) + d²(x, μ)/(2·Σd²), keep x iff
    * u(x)/2³² < m·q(x), weight w(x) = 1/(m·q(x)) — one mean pass, one
    * Σd² pass, one selection scan; E[|coreset|] = m, E[Σw] = n. The
    * inequality and weight clear denominators into DECIMAL(38,0)
    * (u·2·n·S < m·(S + n·d)·2³², max ~2¹⁰³ ≈ 10³¹) so both engines
    * compare exact integers; u is SketchPack's portable md5-u32 of
    * "cs:<id>". Returns (id, qx, qy, w) with w in 1/1000 units. */
  private[graft] def coresetSelect(qpts: DataFrame, m: Int): DataFrame = {
    val st = qpts.agg(count(lit(1)).as("n"), sum("qx").as("sqx"),
      sum("qy").as("sqy")).head()
    val n = st.getLong(0)
    val mx = st.getLong(1) / n
    val my = st.getLong(2) / n
    val dq = qpts.select(col("id"), col("qx"), col("qy"),
      ((col("qx") - mx) * (col("qx") - mx) +
        (col("qy") - my) * (col("qy") - my)).as("d"))
    // Σd² overflows Long around n~1e4-1e6 for wide spreads (d up to
    // ~2^48 per point); sum in decimal(38,0) like the oracle's HUGEINT
    val sq = BigInt(dq.agg(sum(col("d").cast("decimal(38,0)")))
      .head().getDecimal(0).toBigInteger)
    def dec(b: BigInt) =
      lit(new java.math.BigDecimal(b.bigInteger))
    val u = conv(substring(md5(concat(lit("cs:"),
      col("id").cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val den = (dec(sq) +
      dec(BigInt(n)) * col("d").cast("decimal(38,0)"))
    dq.where(u.cast("decimal(38,0)") * dec(2 * BigInt(n) * sq) <
        den * dec(BigInt(m) * BigInt(4294967296L)))
      .withColumn("wnum", dec(2 * BigInt(n) * sq * 1000))
      .withColumn("wden", den * dec(BigInt(m)))
      .selectExpr("id", "qx", "qy", "cast(wnum div wden as bigint) as w")
  }

  /** Bisecting k-means split levels / Lloyd iterations per split —
    * also the oracle's replay depth. */
  val BisectLevels = 3
  val BisectIters = 3

  /** The bisecting loop over any (id, x, y) frame — public to the test
    * JVM for the separated-blobs gate. See the `km_bisect` defs entry
    * for semantics. */
  private[graft] def bisectFrom(points: DataFrame,
      levels: Int = BisectLevels, iters: Int = BisectIters): DataFrame = {
    var asn = points.select(col("id"), col("x"), col("y"))
      .withColumn("lbl", lit(0L)).localCheckpoint(true)
    for (_ <- 1 to levels) {
      val target = asn.groupBy("lbl").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lbl")).limit(1)
        .collect()(0).getLong(0)
      val members = asn.where(col("lbl") === target).select("id", "x", "y")
      var cents = KMeansDF.initFirstK(members, 2)
      for (_ <- 1 to iters) cents = KMeansDF.step(members, cents)
      val assigned = KMeansDF.assign(members, cents)
        .select(col("id"), col("x"), col("y"),
          (lit(target * 2 + 1) + col("cid")).as("lbl"))
      asn = asn.where(col("lbl") =!= target)
        .select("id", "x", "y", "lbl")
        .unionByName(assigned).localCheckpoint(true)
    }
    asn.groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_points"),
        round(avg("x"), 4).as("cx"), round(avg("y"), 4).as("cy"))
  }

  // SQL fragments shared by every clustering oracle.
  private val ptsSql =
    "SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y FROM embeddings"
  private val centSql =
    s"SELECT CAST(id AS INT) AS cid, x AS cx, y AS cy FROM pts WHERE id < $K"
  // argmin via row_number: ORDER BY (dist, cid) mirrors the strict-<
  // fold over a cid-sorted centroid array on the Spark side.
  private val assignSql =
    """SELECT id, x, y, cid, dist FROM (
      |  SELECT p.id, p.x, p.y, c.cid,
      |    (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy) AS dist,
      |    row_number() OVER (PARTITION BY p.id
      |      ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) AS rn
      |  FROM pts p CROSS JOIN cent c) WHERE rn = 1""".stripMargin

  /** Grid-blocked DBSCAN (Ester et al. 1996) over 2-D points — the
    * density-based complement to the k-means family: finds arbitrarily
    * shaped clusters and a NOISE class, with no k to choose. The
    * neighbor search is the blocked-pair discipline (§3 rule 3): cell
    * side = eps, each point probes only its 3×3 cell neighborhood
    * (|Δx| ≤ eps ⇒ adjacent cells), so candidate pairs are bounded by
    * local density × 9 — never n². A pathologically dense cell floods
    * C(cell, 2) like any hot block; the mitigation is the dedup pack's
    * block cap / salting, not a different algorithm. Core points
    * (≥ minPts within eps, self included) cluster via the GATED
    * connected-components operator over core-core eps-edges
    * (cluster id = min core id — deterministic); border points take
    * the min cluster among their adjacent cores; the rest is noise.
    * Distances compare as (dx²+dy²) ≤ eps² with identical double
    * arithmetic in both engines. Output: per point (id, n_nb, role,
    * cluster). */
  private[graft] def dbscanGrid(points: DataFrame, eps: Double = DbscanEps,
      minPts: Int = DbscanMinPts): DataFrame = {
    val offs = Seq(-1L, 0L, 1L)
    val p = points.select(col("id"), col("x"), col("y"),
      floor(col("x") / eps).cast("long").as("cx"),
      floor(col("y") / eps).cast("long").as("cy"))
    val probes = p.select(col("id").as("ib"), col("x").as("xb"),
        col("y").as("yb"),
        explode(array(offs.flatMap(dx => offs.map(dy =>
          struct((col("cx") + dx).as("px"), (col("cy") + dy).as("py"))))
          : _*)).as("c"))
      .select(col("ib"), col("xb"), col("yb"), col("c.px"), col("c.py"))
    val dx = col("x") - col("xb")
    val dy = col("y") - col("yb")
    // materialized once: the pair set feeds the count, the core-core
    // edge set, and the border adjacency
    val nbp = p.join(probes,
        col("cx") === col("px") && col("cy") === col("py") &&
          col("id") =!= col("ib"))
      .where(dx * dx + dy * dy <= lit(eps * eps))
      .select(col("id").as("ia"), col("ib"))
      .localCheckpoint(true)
    val nb = p.select("id")
      .join(nbp.groupBy(col("ia").as("id")).agg(count(lit(1)).as("nn")),
        Seq("id"), "left")
      .select(col("id"), (coalesce(col("nn"), lit(0L)) + 1).as("n_nb"))
    val core = nb.where(col("n_nb") >= minPts).select("id")
    val coreEdges = nbp
      .join(core.select(col("id").as("ia")), "ia")
      .join(core.select(col("id").as("ib")), "ib")
      .where(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
    val cc = graft.operators.Dedup.connectedComponents(coreEdges)
    // isolated cores (no core neighbor) are their own singleton cluster
    val coreCl = core
      .join(cc.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("ccl"))
    val adjCore = nbp
      .join(coreCl.select(col("id").as("ib"), col("ccl")), "ib")
      .groupBy(col("ia").as("id")).agg(min("ccl").as("bcl"))
    nb.join(coreCl, Seq("id"), "left")
      .join(adjCore, Seq("id"), "left")
      .select(col("id"), col("n_nb"),
        when(col("ccl").isNotNull, lit("core"))
          .when(col("bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("ccl"), col("bcl"), lit(-1L)).as("cluster"))
  }

  /** LOF parameters: neighborhood radius cap (the grid cell side) and
    * the k of k-nearest-neighbors. */
  val LofEps = 0.03
  val LofK = 5

  /** Radius-capped Local Outlier Factor (Breunig et al., SIGMOD 2000)
    * over 2-D points — the DEGREE-of-outlierness companion to
    * [[dbscanGrid]]'s binary noise flag: LOF ≈ 1 means the point's
    * local density matches its neighbors'; LOF ≫ 1 means it sits in a
    * sparser region than the points it is near (the boundary case a
    * global z-score cannot see). kNN search is the SAME 3×3 grid
    * block as DBSCAN — candidates bounded by local density × 9, never
    * n² — which CAPS the neighborhood at radius eps: points with
    * fewer than k in-radius neighbors are `sparse` (no LOF; they are
    * outliers by construction and reported as a count), and a sparse
    * NEIGHBOR contributes the capped k-distance eps / the capped
    * density 1/eps (one-directional, slightly understates its
    * neighbors' LOF — documented; canonical LOF on the dense
    * interior, capped at the rim; production picks eps above the
    * expected k-distance quantile so the interior covers the mass).
    *
    * Determinism: the k-neighbor set is exactly k rows under the
    * (d², id) tie-break (canonical LOF keeps distance ties — a
    * documented simplification both engines replay identically);
    * per-pair reach distances floor-quantize to integer 1e-9 units
    * and per-point densities to integer lrd units BEFORE any
    * cross-row sum, so Σreach and Σlrd are exact in any partition
    * order; one float division per point at each stage, identical
    * expressions both engines. A coincident pile-up (Σreach = 0)
    * caps at lrd = k·10¹⁵ units via greatest(srq, 1). Output: top-20
    * by (lof desc, id) + the dense/sparse census on every row. */
  private[graft] def lofGrid(points: DataFrame, eps: Double = LofEps,
      k: Int = LofK): DataFrame = {
    val offs = Seq(-1L, 0L, 1L)
    val p = points.select(col("id"), col("x"), col("y"),
      floor(col("x") / eps).cast("long").as("cx"),
      floor(col("y") / eps).cast("long").as("cy"))
      .localCheckpoint(true)
    val probes = p.select(col("id").as("ib"), col("x").as("xb"),
        col("y").as("yb"),
        explode(array(offs.flatMap(dx => offs.map(dy =>
          struct((col("cx") + dx).as("px"), (col("cy") + dy).as("py"))))
          : _*)).as("c"))
      .select(col("ib"), col("xb"), col("yb"), col("c.px"), col("c.py"))
    val dx = col("x") - col("xb")
    val dy = col("y") - col("yb")
    val pairs = p.join(probes,
        col("cx") === col("px") && col("cy") === col("py") &&
          col("id") =!= col("ib"))
      .where(dx * dx + dy * dy <= lit(eps * eps))
      .select(col("ib").as("cid"), col("id").as("nid"),
        (dx * dx + dy * dy).as("d2"))
      .localCheckpoint(true) // feeds counts, kNN, reach, lof
    val nnb = pairs.groupBy(col("cid").as("id"))
      .agg(count(lit(1)).as("n_nb"))
    val w = Window.partitionBy("cid").orderBy(col("d2"), col("nid"))
    val ranked = pairs.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .localCheckpoint(true)
    val kd = ranked.where(col("rk") === k)
      .select(col("cid").as("id"), sqrt(col("d2")).as("kd"))
    // capped k-distance for EVERY point: eps when sparse
    val kdc = p.select(col("id")).join(kd, Seq("id"), "left")
      .select(col("id"), coalesce(col("kd"), lit(eps)).as("kdc"))
    val dense = kd.select(col("id").as("cid"))
    val knn = ranked.join(dense, "cid") // exactly k rows per dense point
    val srq = knn
      .join(kdc.select(col("id").as("nid"), col("kdc")), "nid")
      .select(col("cid"),
        floor(greatest(col("kdc"), sqrt(col("d2"))) * lit(1e9))
          .cast("long").as("rq"))
      .groupBy("cid").agg(sum("rq").as("srq"))
    val lrdDense = srq.select(col("cid").as("id"),
      floor(lit(k.toDouble * 1e15)
        / greatest(col("srq"), lit(1L)).cast("double")).cast("long")
        .as("lrdq"))
    val lrdAll = p.select(col("id")).join(lrdDense, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("lrdq"), lit(math.floor(1e6 / eps).toLong))
          .as("lrdq"))
    val lof = knn
      .join(lrdAll.select(col("id").as("nid"), col("lrdq").as("nlrdq")),
        "nid")
      .groupBy("cid").agg(sum("nlrdq").as("slrd"))
      .join(lrdDense.select(col("id").as("cid"), col("lrdq")), "cid")
      .join(nnb.select(col("id").as("cid"), col("n_nb")), "cid")
      .select(col("cid").as("id"), col("n_nb"),
        round(col("slrd").cast("double")
          / (lit(k.toDouble) * col("lrdq").cast("double")), 4).as("lof"))
    val census = p.select(col("id")).join(dense.select(col("cid").as("id"))
        .withColumn("dn", lit(1L)), Seq("id"), "left")
      .agg(sum(coalesce(col("dn"), lit(0L))).as("n_dense"),
        sum(when(col("dn").isNull, 1L).otherwise(0L)).as("n_sparse"))
    lof.orderBy(col("lof").desc, col("id")).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("lof").desc, col("id"))))
      .crossJoin(broadcast(census))
      .select(col("rk").cast("int").as("rk"), col("id"), col("n_nb"),
        col("lof"), col("n_dense"), col("n_sparse"))
  }

  /** Half-space-chain isolation parameters: ensemble width and chain
    * depth. */
  val IsoChains = 8
  val IsoDepth = 12

  /** Per-chain constants, derived ONCE in Scala from md5 seeds and
    * inlined into BOTH plans as plain literals (the trained-artifact
    * stash — no in-engine hashing exists at all): for chain t and
    * depth k, the accumulated per-dim split counts (as exact powers of
    * two) and the per-dim dyadic shifts s ∈ [0,1). */
  private[graft] val IsoCfg: IndexedSeq[(Int, Int, Double, Double, Double, Double)] = {
    def h(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xFF) << 8) | (d(1) & 0xFF) // 16 bits
    }
    (0 until IsoChains).flatMap { t =>
      val sx = h(s"isox:$t") / 65536.0
      val sy = h(s"isoy:$t") / 65536.0
      var mx = 0; var my = 0
      (1 to IsoDepth).map { k =>
        if (h(s"isod:$t:$k") % 2 == 0) mx += 1 else my += 1
        (t, k, math.pow(2.0, mx), math.pow(2.0, my), sx, sy)
      }
    }
  }

  /** Isolation scoring by half-space chains (Manzoor, Lamba & Akoglu,
    * KDD 2018 — xStream's fixed random half-space partitioning; the
    * deterministic sibling of isolation forests, Liu et al. ICDM
    * 2008): each of [[IsoChains]] chains slices the data's bounding
    * box by a FIXED shifted dyadic grid that halves along a
    * pseudo-random dimension per level; a point's isolation depth in
    * a chain is the first level at which it is ALONE in its cell
    * (never-isolated ⇒ depth D+1), and the anomaly score is the sum
    * of depths across chains — low = isolated early = outlier. The
    * ensemble view is what q_lof's single-radius density cannot give:
    * chains at different shifts catch isolation at every scale, and
    * the grid never enumerates pairs at all.
    *
    * Determinism: the grid is a pure function of (bounding box,
    * Scala-derived constants) — bin = ⌊((v−lo)/range + s)·2^m⌋ over
    * identical doubles, dyadic shifts and exact powers of two, so
    * both engines compute identical cells; depths are exact integer
    * mins/sums. Scale: per point T·D = 96 cell rows (a CONSTANT
    * fan-out, the operator's documented price — xStream pays it per
    * point too), one hash agg per (chain, level, cell), one
    * count-back join, two per-point folds; the bounding box is one
    * 1-row broadcast. No pair generation anywhere — isolation comes
    * from CELL counts, which is why this scales past any kNN-based
    * detector. */
  private[graft] def isoForest(points: DataFrame): DataFrame = {
    val bb = points.agg(min("x").as("lox"), max("x").as("hix"),
      min("y").as("loy"), max("y").as("hiy"))
    val cfgArr = array(IsoCfg.map { case (t, k, p2x, p2y, sx, sy) =>
      struct(lit(t).as("t"), lit(k).as("k"), lit(p2x).as("p2x"),
        lit(p2y).as("p2y"), lit(sx).as("sx"), lit(sy).as("sy"))
    }: _*)
    val rx = greatest(col("hix") - col("lox"), lit(1e-12))
    val ry = greatest(col("hiy") - col("loy"), lit(1e-12))
    val cells = points.crossJoin(broadcast(bb))
      .select(col("id"),
        ((col("x") - col("lox")) / rx).as("zx"),
        ((col("y") - col("loy")) / ry).as("zy"))
      .select(col("id"), col("zx"), col("zy"), explode(cfgArr).as("c"))
      .select(col("id"), col("c.t").as("t"), col("c.k").as("k"),
        (floor((col("zx") + col("c.sx")) * col("c.p2x")).cast("long")
          * 65536L
          + floor((col("zy") + col("c.sy")) * col("c.p2y")).cast("long"))
          .as("ck"))
      .localCheckpoint(true) // feeds the cell census + the count-back
    val census = cells.groupBy("t", "k", "ck")
      .agg(count(lit(1)).as("cnt"))
    val iso = cells.join(census, Seq("t", "k", "ck"))
      .groupBy("id", "t")
      .agg(min(when(col("cnt") === 1, col("k"))
        .otherwise(lit(IsoDepth + 1))).as("iso"))
      .groupBy("id").agg(sum("iso").as("score_sum"))
    iso.orderBy(col("score_sum"), col("id")).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_sum"), col("id"))))
      .select(col("rk").cast("int").as("rk"), col("id"), col("score_sum"),
        round(col("score_sum").cast("double") / lit(IsoChains.toDouble), 2)
          .as("avg_depth"))
  }

  /** Soft k-means / isotropic-EM parameters (km_gmm): k components,
    * fixed EM rounds, stiffness β = 1/(2σ²) (MacKay ITILA §20.1 calls
    * β the stiffness; β=20 ⇒ σ≈0.16, the embedding-projection cluster
    * scale). Responsibilities quantize to 2²⁰ units so every cross-row
    * reduction is exact integer addition. */
  val GmmK = 4
  val GmmIters = 3
  val GmmBeta = 20.0
  private val GmmGrain = 1048576L

  /** Soft k-means by EM (MacKay, ITILA 2003 §20.1 — the fixed-equal-
    * isotropic-covariance Gaussian mixture; Dempster et al. 1977 for
    * EM itself): the SOFT-assignment member of the clustering family —
    * k-means commits each point to one centroid, the E-step spreads it
    * as responsibilities r_k ∝ exp(−β·d²_k) and the M-step takes
    * responsibility-weighted means. Output per component: final mean,
    * soft count Σr (the effective mass EM actually averaged over) and
    * the hard argmin count — soft_n ≠ hard_n on the overlap points,
    * which is the readout the operator exists for.
    *
    * Determinism (§4): coordinates floor-quantize ONCE to integer 1e-6
    * units; each round's per-point float work (d², the min-shifted
    * exp, the fixed-left-assoc denominator e0+…+e_{k−1}, r_k/den) is
    * the identical expression tree over identical doubles in both
    * engines, and r_k floor-quantizes to integer 2²⁰ units BEFORE the
    * cross-row sums — Σrq, Σrq·xq (DECIMAL(38,0): the product already
    * nears BIGINT at 10⁹-row scale) are exact in any partition order.
    * New means = two casts + two IEEE divisions on those exact sums;
    * empty components carry their old mean (the reference's
    * empty-cluster carry, kmeans_mapreduce_core.cu's behavior). Scale:
    * each EM round is ONE corpus scan — the means are broadcast
    * LITERALS (km_assign's fold discipline), the per-round reduction
    * is a map-side-combined 4k-column partial agg, driver state is one
    * k-component row per round (bounded). The oracle replays every
    * round as chained MATERIALIZED CTEs from the same pivoted 1-row
    * means table. */
  private[graft] def gmmFrom(points: DataFrame): DataFrame = {
    val spark = points.sparkSession
    val pq = points.select(col("id"),
        floor(col("x") * 1e6).cast("long").as("xq"),
        floor(col("y") * 1e6).cast("long").as("yq"))
      .localCheckpoint(true) // scanned once per EM round
    var means: IndexedSeq[(Double, Double)] = pq.filter(col("id") < GmmK)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("xq") / 1e6, r.getAs[Long]("yq") / 1e6))
      .toIndexedSeq
    var lastAgg: DataFrame = null
    for (_ <- 1 to GmmIters) {
      var df = pq
        .withColumn("x", col("xq") / lit(1e6))
        .withColumn("y", col("yq") / lit(1e6))
      for (k <- 0 until GmmK) {
        val (mx, my) = means(k)
        df = df.withColumn(s"d$k",
          (col("x") - mx) * (col("x") - mx) +
            (col("y") - my) * (col("y") - my))
      }
      df = df.withColumn("dmin",
        (0 until GmmK).map(k => col(s"d$k")).reduce(least(_, _)))
      for (k <- 0 until GmmK)
        df = df.withColumn(s"e$k",
          exp(lit(-GmmBeta) * (col(s"d$k") - col("dmin"))))
      df = df.withColumn("den",
        (0 until GmmK).map(k => col(s"e$k")).reduce(_ + _))
      for (k <- 0 until GmmK)
        df = df.withColumn(s"rq$k",
          floor(col(s"e$k") / col("den") * lit(GmmGrain.toDouble))
            .cast("long"))
      df = df.withColumn("hard",
        (0 until GmmK - 1).foldLeft(when(lit(false), -1)) { (acc, k) =>
          acc.when(((k + 1) until GmmK).map(j => col(s"d$k") <= col(s"d$j"))
            .reduce(_ && _), k)
        }.otherwise(GmmK - 1))
      val aggCols = (0 until GmmK).flatMap { k =>
        Seq(sum(col(s"rq$k")).as(s"s$k"),
          sum(col(s"rq$k").cast("decimal(38,0)") * col("xq")).as(s"sx$k"),
          sum(col(s"rq$k").cast("decimal(38,0)") * col("yq")).as(s"sy$k"),
          sum(when(col("hard") === k, 1L).otherwise(0L)).as(s"h$k"))
      }
      lastAgg = df.agg(aggCols.head, aggCols.tail: _*).localCheckpoint(true)
      val row = lastAgg.collect().head
      means = (0 until GmmK).map { k =>
        val sk = row.getAs[Long](s"s$k")
        if (sk == 0L) means(k)
        else (row.getAs[java.math.BigDecimal](s"sx$k").doubleValue
                / sk.toDouble / 1e6,
              row.getAs[java.math.BigDecimal](s"sy$k").doubleValue
                / sk.toDouble / 1e6)
      }
    }
    (0 until GmmK).map { k =>
      lastAgg.select(lit(k).as("k"),
        round(col(s"s$k").cast("double") / lit(GmmGrain.toDouble), 3)
          .as("soft_n"),
        col(s"h$k").as("hard_n"),
        round(lit(means(k)._1), 6).as("mx"),
        round(lit(means(k)._2), 6).as("my"))
    }.reduce(_ unionByName _)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dbscan_grid" -> ((s, d) => dbscanGrid(pts(s, d))),
    "km_gmm" -> ((s, d) => gmmFrom(pts(s, d))),
    "q_lof" -> ((s, d) => lofGrid(pts(s, d))),
    "q_isoforest" -> ((s, d) => isoForest(pts(s, d))),

    "km_assign" -> ((s, d) => {
      val p = pts(s, d)
      KMeansDF.assign(p, seedCentroids(p)).select("id", "cid")
    }),
    "km_sizes" -> ((s, d) => {
      val p = pts(s, d)
      KMeansDF.assign(p, seedCentroids(p)).groupBy("cid")
        .agg(count(lit(1)).as("n"))
    }),
    "km_update" -> ((s, d) => {
      val p = pts(s, d)
      KMeansDF.assign(p, seedCentroids(p)).groupBy("cid")
        .agg(round(avg("x"), 6).as("nx"), round(avg("y"), 6).as("ny"),
          count(lit(1)).as("n"))
    }),
    "km_iterate2" -> ((s, d) => {
      val p = pts(s, d)
      val c1 = KMeansDF.step(p, seedCentroids(p))
      val c2 = KMeansDF.step(p, c1)
      import s.implicits._
      c2.toDF().select(col("cid"), col("x").as("nx"), col("y").as("ny"))
    }),
    "km_cost" -> ((s, d) => {
      val p = pts(s, d)
      KMeansDF.cost(p, seedCentroids(p))
    }),
    "km_lloyd" -> ((s, d) => {
      val p = pts(s, d)
      import s.implicits._
      KMeansDF.fit(p, K).toDF()
        .select(col("cid"), round(col("x"), 4).as("x"), round(col("y"), 4).as("y"))
    }),
    // The reference's actual loop shape: a FIXED iteration count with no
    // convergence test in the hot path (config.cuh ITERATIONS,
    // kmeans_mapreduce_core.cu:237-259) — tol=0 runs the Lloyd round exactly
    // maxIter times. Unlike the tol-gated km_lloyd, the trajectory is a
    // pure function of the data, so the oracle replays every iteration
    // as a chained CTE.
    "km_lloyd_fixed" -> ((s, d) => {
      val p = pts(s, d)
      import s.implicits._
      KMeansDF.fit(p, K, maxIter = LloydFixedIters, tol = 0.0).toDF()
        .select(col("cid"), col("x").as("nx"), col("y").as("ny"))
    }),
    // Bisecting k-means (Steinbach, Karypis & Kumar, KDD-W 2000;
    // MLlib's BisectingKMeans is the same shape) — the hierarchical
    // member of the k-means family: repeatedly 2-means-split the
    // LARGEST cluster (ties to the smaller label), three levels → four
    // leaves, binary-tree labels (root 0, children 2l+1 / 2l+2).
    // Deterministic end to end: the split target is (count desc, lbl
    // asc); the 2-means init is the two lowest member ids (initFirstK,
    // the pack's seed-free data-driven rule); each of the three fixed
    // Lloyd iterations uses the SAME round-6 HALF_UP means and
    // strict-< argmin as every other Lloyd key, so the oracle replays
    // the full tree as chained MATERIALIZED CTEs (lloydReplaySql's
    // discipline, one chain per level, the target chosen by an ORDER
    // BY/LIMIT-1 scalar subquery). Driver collects are the k-row size
    // table + 2-row centroids per iteration — bounded. Output: leaf
    // label, size, round-4 centroid.
    "km_bisect" -> ((s, d) => bisectFrom(pts(s, d))),
    // Deterministic farthest-point initialization (round 8) — the
    // k-center greedy (Gonzalez 1985; the deterministic production
    // alternative to both the reference's seeded random sample,
    // random_num_generator.hpp, and k-means++'s D² draw — same spread
    // goal, no RNG to disagree on): c0 = min-id point, each next
    // center = the point maximizing min distance to those chosen
    // (ties → min id). Each round is one broadcast-literal scan +
    // top-1 (k scans total, k tiny); output centers ride one final
    // assignment pass for their Voronoi populations. The oracle
    // replays every selection as a chained CTE — the trajectory is a
    // pure function of the data.
    "km_farthest_init" -> ((s, d) => {
      val p = pts(s, d)
      val kInit = 4
      def distTo(cx: Double, cy: Double) =
        (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)
      val first = p.orderBy("id").limit(1).collect().head
      var centers = Vector((first.getAs[Long]("id"),
        first.getAs[Double]("x"), first.getAs[Double]("y")))
      while (centers.size < kInit) {
        val dd = centers.map(c => distTo(c._2, c._3)).reduce(least(_, _))
        val nxt = p.select(col("id"), col("x"), col("y"), dd.as("dd"))
          .orderBy(col("dd").desc, col("id")).limit(1).collect().head
        centers :+= ((nxt.getLong(0), nxt.getDouble(1), nxt.getDouble(2)))
      }
      val asCentroids = centers.zipWithIndex.map { case ((_, x, y), rk) =>
        Centroid(rk, x, y)
      }
      val sizes = KMeansDF.assign(p, asCentroids)
        .groupBy("cid").agg(count(lit(1)).as("n_points"))
      import s.implicits._
      centers.zipWithIndex.map { case ((id, x, y), rk) => (rk, id, x, y) }
        .toDF("rk", "id", "x", "y")
        .join(sizes, col("rk") === col("cid"))
        .select(col("rk"), col("id"), col("x"), col("y"), col("n_points"))
    }),

    // k-means++ seeding (Arthur & Vassilvitskii 2007) with the RNG
    // made deterministic and oracle-exact: each round draws ONE point
    // with probability ∝ D² via inverse-CDF over an id-ordered
    // cumulative weight, where the round's uniform draw is the 32-bit
    // md5 prefix of "kmpp:<round>" (both engines hash the same string)
    // and D² is quantized to integer weights floor(D²·2²⁰)+1 — every
    // comparison is exact integer arithmetic, so Spark and DuckDB pick
    // the same point regardless of summation order (a float cumsum
    // would be association-dependent). Scale shape: no global-order
    // window — a TWO-LEVEL block hierarchy bounds what the driver ever
    // sees: per round one scan yields 2³²-id SUPER-block sums (driver
    // collects O(n/2³²) rows — 256 at 10¹² points), the prefix walk
    // opens ONE super-block for its ≤2¹⁶ 65536-id block sums, and a
    // single-block window draws within the crossing block. Collected
    // rows per round ≤ n/2³² + 2¹⁶ regardless of n; the draw
    // arithmetic is unchanged (the walk visits blocks in the same blk
    // order, so the crossing point is bit-identical to a flat walk).
    // The +1 keeps every point selectable (pure D² zeroes exact dups
    // of chosen centers).
    "km_kmeanspp" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = pts(s, d)
      val kInit = 4
      def distTo(cx: Double, cy: Double) =
        (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)
      def md5Hex(str: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val first = p.orderBy("id").limit(1).collect().head
      var centers = Vector((first.getAs[Long]("id"),
        first.getAs[Double]("x"), first.getAs[Double]("y")))
      while (centers.size < kInit) {
        val dd = centers.map(c => distTo(c._2, c._3)).reduce(least(_, _))
        val weighted = p.select(col("id"), col("x"), col("y"),
          (floor(dd * lit(1048576.0)).cast("long") + lit(1L)).as("w"),
          shiftright(col("id"), 16).as("blk"),
          shiftright(col("id"), 32).as("sblk"))
        // level 1: super-block sums — the ONLY full-data aggregate the
        // driver sees, O(n/2^32) rows
        val supers = weighted.groupBy("sblk").agg(sum("w").as("sw"))
          .orderBy("sblk").collect()
        val total = supers.map(r => BigInt(r.getAs[Long]("sw"))).sum
        val hv = BigInt(md5Hex(s"kmpp:${centers.size}").substring(0, 8), 16)
        val thr = hv * total / BigInt(4294967296L)
        var acc = BigInt(0); var crossS = -1L
        supers.iterator.takeWhile(_ => crossS < 0).foreach { r =>
          val sw = BigInt(r.getAs[Long]("sw"))
          if (acc + sw > thr) crossS = r.getAs[Long]("sblk") else acc += sw
        }
        // level 2: open the crossing super-block for its ≤2^16 block
        // sums; blk order within a super-block continues the same
        // global prefix order, so acc carries over unchanged
        val blocks = weighted.filter(col("sblk") === crossS)
          .groupBy("blk").agg(sum("w").as("bw"))
          .orderBy("blk").collect()
        var crossBlk = -1L; var thrIn = BigInt(0)
        blocks.iterator.takeWhile(_ => crossBlk < 0).foreach { r =>
          val bw = BigInt(r.getAs[Long]("bw"))
          if (acc + bw > thr) { crossBlk = r.getAs[Long]("blk"); thrIn = thr - acc }
          else acc += bw
        }
        val inBlk = Window.partitionBy("blk").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sel = weighted.filter(col("blk") === crossBlk)
          .withColumn("cum", sum("w").over(inBlk))
          .filter(col("cum") > thrIn.toLong)
          .orderBy("id").limit(1).collect().head
        centers :+= ((sel.getAs[Long]("id"),
          sel.getAs[Double]("x"), sel.getAs[Double]("y")))
      }
      val asCentroids = centers.zipWithIndex.map { case ((_, x, y), rk) =>
        Centroid(rk, x, y)
      }
      val sizes = KMeansDF.assign(p, asCentroids)
        .groupBy("cid").agg(count(lit(1)).as("n_points"))
      import s.implicits._
      centers.zipWithIndex.map { case ((id, x, y), rk) => (rk, id, x, y) }
        .toDF("rk", "id", "x", "y")
        .join(sizes, col("rk") === col("cid"))
        .select(col("rk"), col("id"), col("x"), col("y"), col("n_points"))
    }),

    // Lightweight coreset + weighted Lloyd (Bachem, Lucic & Krause
    // KDD 2018) — THE technique for k-means at corpus scale: compress
    // n points into an m-point WEIGHTED summary in two scans (mean,
    // Σd²) + one selection pass, then fit on the coreset. Selection is
    // importance sampling q(x) = 1/(2n) + d²(x,μ)/(2Σd²) made
    // deterministic by md5 thresholding (q_sample's scan-side idiom,
    // km_kmeanspp's exact-integer inverse-CDF discipline): far/rare
    // points are kept with probability ~1 and LOW weight, dense-blob
    // points are thinned and re-weighted up, so the weighted fit sees
    // an unbiased surrogate of the full objective (E[Σw] = n). Two
    // weighted Lloyd iterations from the pack's id<K seeds, all
    // integer (quantized coords, truncating divides, least-struct
    // argmin with cid ties) — the whole pipeline hashes. Readout: one
    // row per center (n_members, w_sum, final position) + the global
    // (n, n_coreset, w_total) compression report. Scale shape: the
    // coreset NEVER collects — selection is a scan-side filter, the
    // fit's per-iteration state is k rows; at 10¹² points the same
    // three passes + an m-row table replace every downstream full
    // scan.
    "km_coreset" -> ((s, d) => {
      val q = coresetQpts(pts(s, d)).localCheckpoint(true)
      val sel = coresetSelect(q, CoresetM).localCheckpoint(true)
      var centers: Seq[(Int, Long, Long)] =
        q.filter(col("id") < K).orderBy("id").collect()
          .map(r => (r.getAs[Long]("id").toInt,
            r.getAs[Long]("qx"), r.getAs[Long]("qy"))).toSeq
      def assign(df: DataFrame): DataFrame = {
        val structs = centers.map { case (cid, cx, cy) =>
          struct(((col("qx") - cx) * (col("qx") - cx) +
            (col("qy") - cy) * (col("qy") - cy)).as("dist"),
            lit(cid).as("cid"))
        }
        df.withColumn("a", least(structs: _*))
          .select(col("qx"), col("qy"), col("w"), col("a.cid").as("cid"))
      }
      var lastUpd: Array[org.apache.spark.sql.Row] = Array.empty
      for (_ <- 1 to 2) {
        lastUpd = assign(sel).groupBy("cid").agg(
          sum(expr("w * qx")).as("swx"), sum(expr("w * qy")).as("swy"),
          sum("w").as("sw"), count(lit(1)).as("mcnt")).collect()
        val byCid = lastUpd.map(r => r.getAs[Int]("cid") -> r).toMap
        centers = centers.map { case (cid, cx, cy) =>
          byCid.get(cid) match {
            case Some(r) => (cid,
              r.getAs[Long]("swx") / r.getAs[Long]("sw"),
              r.getAs[Long]("swy") / r.getAs[Long]("sw"))
            case None => (cid, cx, cy) // empty center keeps (reference)
          }
        }
      }
      val glob = sel.agg(count(lit(1)).as("n_coreset"),
        sum("w").as("w_total")).head()
      val n = q.count()
      val byCid = lastUpd.map(r => r.getAs[Int]("cid") -> r).toMap
      import s.implicits._
      centers.map { case (cid, cx, cy) =>
        val (mc, sw) = byCid.get(cid)
          .map(r => (r.getAs[Long]("mcnt"), r.getAs[Long]("sw")))
          .getOrElse((0L, 0L))
        (cid, mc, sw, cx, cy, glob.getLong(0), glob.getLong(1), n)
      }.toDF("cid", "n_members", "w_sum", "qcx", "qcy",
          "n_coreset", "w_total", "n")
        .select(col("cid"), col("n_members"), col("w_sum"),
          round(col("qcx").cast("double") / CoresetQ - CoresetOff, 6)
            .as("cx"),
          round(col("qcy").cast("double") / CoresetQ - CoresetOff, 6)
            .as("cy"),
          col("n_coreset"), col("w_total"), col("n"))
    }),

    // Model selection: WSSSE elbow curve over candidate k — one
    // broadcast-argmin pass per k, unioned. Each pass is the km_cost
    // operator; the oracle reproduces every k from the same seeds.
    "km_elbow" -> ((s, d) => {
      val p = pts(s, d)
      val seeds = seedCentroids(p)
      Seq(2, 4, 8, 15).map { k =>
        KMeansDF.cost(p, seeds.take(k)).select(lit(k).as("k"), col("wssse"))
      }.reduce(_ unionByName _)
    }),

    // Mini-batch k-means (the Sculley 2010 shape made deterministic):
    // each round assigns only a ~20% md5-hash-selected batch (a
    // DIFFERENT deterministic batch per round — the round number is
    // hashed with the id) and moves each center to the RUNNING weighted
    // mean of every batch point it has absorbed so far. This is the fit
    // path when a full-corpus scan per Lloyd iteration is too
    // expensive: per-round cost is batch-sized, the hash filter is
    // scan-side (q_sample's shape, no shuffle of non-batch rows), and
    // center state stays k×2 on the driver. Two rounds, HALF_UP
    // rounding each round, so the oracle replays the exact trajectory
    // as chained CTEs.
    "km_minibatch" -> ((s, d) => {
      val p = pts(s, d)
      var cents = seedCentroids(p)
      val counts = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
      def rnd(v: Double) =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      for (b <- 1 to 2) {
        val h = conv(substring(md5(
          concat(col("id").cast("string"), lit(s"#$b")).cast("binary")), 1, 4),
          16, 10).cast("long")
        val batch = p.filter(h < 13107L) // ~20% of 2^16
        val upd = KMeansDF.assign(batch, cents).groupBy("cid")
          .agg(sum("x").as("sx"), sum("y").as("sy"), count(lit(1)).as("m"))
          .collect()
          .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
          .toMap
        cents = cents.map { c =>
          upd.get(c.cid) match {
            case Some((sx, sy, m)) =>
              val n = counts(c.cid)
              counts(c.cid) = n + m
              Centroid(c.cid, rnd((n * c.x + sx) / (n + m)),
                rnd((n * c.y + sy) / (n + m)))
            case None => c
          }
        }.sortBy(_.cid)
      }
      val spark = s
      import spark.implicits._
      cents.map(c => (c.cid, c.x, c.y, counts(c.cid)))
        .toDF("cid", "x", "y", "n")
    }),

    // Cluster quality: MLlib's squared-euclidean silhouette (O(n·k),
    // not the O(n²) textbook formula — the at-scale evaluator).
    "km_silhouette" -> ((s, d) => {
      import org.apache.spark.ml.evaluation.ClusteringEvaluator
      import org.apache.spark.ml.functions.array_to_vector
      val p = pts(s, d)
      val assigned = KMeansDF.assign(p, seedCentroids(p))
        .select(array_to_vector(array(col("x"), col("y"))).as("features"),
          col("cid").cast("int").as("prediction"))
      val sil = new ClusteringEvaluator().setMetricName("silhouette").evaluate(assigned)
      val spark = s
      import spark.implicits._
      Seq((math.rint(sil * 10000) / 10000, Clustering.K)).toDF("silhouette", "k")
    }),

    // Exact squared-euclidean silhouette from per-cluster aggregates —
    // the same O(n·k) decomposition MLlib uses (mean dist to a cluster
    // = |x|² − 2x·μ + E|c|², never pairwise), but with our own
    // deterministic convention (self included in a(i), cluster moments
    // rounded to 6 so both engines feed identical scalars downstream).
    // Scale shape: one stats aggregate (k rows) + one broadcast join.
    "km_silhouette_exact" -> ((s, d) => {
      val assigned = KMeansDF.assign(pts(s, d), seedCentroids(pts(s, d)))
        .withColumn("q", col("x") * col("x") + col("y") * col("y"))
      val stats = assigned.groupBy(col("cid").as("scid"))
        .agg(round(avg("x"), 6).as("mx"), round(avg("y"), 6).as("my"),
          round(avg("q"), 6).as("msq"))
      val md = (col("q") - lit(2.0) * (col("x") * col("mx") + col("y") * col("my"))) + col("msq")
      val per = assigned.join(broadcast(stats))
        .withColumn("md", md)
        .groupBy("id")
        .agg(max(when(col("scid") === col("cid"), col("md"))).as("a"),
          min(when(col("scid") =!= col("cid"), col("md"))).as("b"))
        .withColumn("s", when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b"))).otherwise(lit(0.0)))
      per.agg(round(avg("s"), 4).as("silhouette"), lit(K).as("k"))
    }),

    "km_fit_mllib" -> ((s, d) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
      // cache only for the iterative fit; the (cheap) final transform
      // rescans parquet rather than pinning the projection in the
      // shared session for the rest of a Bench/Verify run
      emb.cache()
      val model =
        try new KMeans().setK(10).setSeed(42L).setMaxIter(20)
          .setInitMode("random").fit(emb)
        finally emb.unpersist()
      model.transform(emb).groupBy("prediction").agg(count(lit(1)).as("n"))
    })
  )

  /** `iters` Lloyd stages as chained CTEs (assign by strict-< argmin,
    * update with round-6 means, empty clusters unchanged) + a caller-
    * supplied final projection — shared by km_lloyd_fixed and the
    * convergent km_lloyd replay. Every stage CTE is MATERIALIZED:
    * DuckDB otherwise INLINES each reference, and cent_{i+1} refers to
    * cent_i twice, so a 14-stage chain would expand to ~2^14 copies of
    * the base parquet scan (observed: "Too many open files"). */
  private def lloydReplaySql(iters: Int, finalSelect: String): String = {
    val stages = (0 until iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT id, x, y, cid FROM (
         |  SELECT p.id, p.x, p.y, c.cid,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) AS rn
         |  FROM pts p CROSS JOIN cent$i c) WHERE rn = 1),
         |cent${i + 1} AS MATERIALIZED (
         |  SELECT c.cid, coalesce(u.nx, c.cx) AS cx, coalesce(u.ny, c.cy) AS cy
         |  FROM cent$i c LEFT JOIN (
         |    SELECT cid, round(avg(x),6) AS nx, round(avg(y),6) AS ny
         |    FROM a$i GROUP BY cid) u USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS MATERIALIZED ($ptsSql),
       |cent0 AS MATERIALIZED (SELECT CAST(id AS INT) AS cid, x AS cx, y AS cy FROM pts WHERE id < $K),
       |$stages
       |$finalSelect""".stripMargin
  }

  /** The bisecting-tree replay: one Lloyd chain per level over the
    * level's member set, the split target picked by an ORDER BY /
    * LIMIT-1 scalar subquery — every stage MATERIALIZED
    * (lloydReplaySql's rationale). */
  private def bisectSql(levels: Int, iters: Int): String = {
    def argmin(src: String, cent: String) =
      s"""SELECT id, x, y, cid FROM (
         |    SELECT p.id, p.x, p.y, c.cid,
         |      row_number() OVER (PARTITION BY p.id
         |        ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid)
         |        AS rn
         |    FROM $src p CROSS JOIN $cent c) WHERE rn = 1"""
    val lvls = (1 to levels).map { l =>
      val lloyd = (0 until iters).map { i =>
        s"""a${l}_$i AS MATERIALIZED (${argmin(s"mem$l", s"c${l}_$i")}),
           |c${l}_${i + 1} AS MATERIALIZED (
           |  SELECT c.cid, coalesce(u.nx, c.cx) AS cx, coalesce(u.ny, c.cy) AS cy
           |  FROM c${l}_$i c LEFT JOIN (
           |    SELECT cid, round(avg(x),6) AS nx, round(avg(y),6) AS ny
           |    FROM a${l}_$i GROUP BY cid) u USING (cid))"""
      }.mkString(",\n")
      s"""tgt$l AS (SELECT lbl FROM (SELECT lbl, count(*) AS n
         |    FROM asn${l - 1} GROUP BY 1) ORDER BY n DESC, lbl LIMIT 1),
         |mem$l AS MATERIALIZED (SELECT a.id, p.x, p.y FROM asn${l - 1} a
         |  JOIN pts p ON p.id = a.id
         |  WHERE a.lbl = (SELECT lbl FROM tgt$l)),
         |c${l}_0 AS MATERIALIZED (SELECT
         |    CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid,
         |    x AS cx, y AS cy
         |  FROM (SELECT id, x, y FROM mem$l ORDER BY id LIMIT 2)),
         |$lloyd,
         |fa$l AS (${argmin(s"mem$l", s"c${l}_$iters")}),
         |asn$l AS MATERIALIZED (
         |  SELECT id, lbl FROM asn${l - 1}
         |    WHERE lbl != (SELECT lbl FROM tgt$l)
         |  UNION ALL
         |  SELECT id, (SELECT lbl FROM tgt$l) * 2 + 1 + cid AS lbl
         |  FROM fa$l)"""
    }.mkString(",\n")
    s"""WITH pts AS MATERIALIZED ($ptsSql),
       |asn0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS lbl FROM pts),
       |$lvls
       |SELECT lbl AS cluster, count(*) AS n_points,
       |  round(avg(x), 4) AS cx, round(avg(y), 4) AS cy
       |FROM asn$levels JOIN pts USING (id) GROUP BY 1""".stripMargin
  }

  /** The km_gmm oracle: every EM round replayed as chained MATERIALIZED
    * CTEs from the same pivoted 1-row means table the Spark side
    * inlines as literals — identical d²/exp/den/floor expressions,
    * exact HUGEINT sums, the same empty-component carry. */
  private def gmmSql(kk: Int, iters: Int): String = {
    val ks = 0 until kk
    val rounds = (1 to iters).map { r =>
      val hardCase = "CASE " + (0 until kk - 1).map { k =>
        s"WHEN ${((k + 1) until kk).map(j => s"d$k <= d$j").mkString(" AND ")} THEN $k"
      }.mkString(" ") + s" ELSE ${kk - 1} END"
      s"""d$r AS (SELECT p.id, p.xq, p.yq,
         |    ${ks.map(k => s"(p.xq/1e6 - m.mx$k)*(p.xq/1e6 - m.mx$k) + (p.yq/1e6 - m.my$k)*(p.yq/1e6 - m.my$k) AS d$k").mkString(",\n    ")}
         |  FROM pts p CROSS JOIN m${r - 1} m),
         |w$r AS (SELECT *, least(${ks.map(k => s"d$k").mkString(", ")}) AS dmin FROM d$r),
         |q$r AS (SELECT *, ${ks.map(k => s"exp(-$GmmBeta*(d$k - dmin)) AS e$k").mkString(", ")} FROM w$r),
         |v$r AS (SELECT *, ${ks.map(k => s"e$k").mkString(" + ")} AS den FROM q$r),
         |z$r AS (SELECT *,
         |    ${ks.map(k => s"CAST(floor(e$k/den*$GmmGrain.0) AS BIGINT) AS rq$k").mkString(",\n    ")},
         |    $hardCase AS hard
         |  FROM v$r),
         |a$r AS MATERIALIZED (SELECT
         |    ${ks.map(k => s"sum(rq$k) AS s$k, sum(CAST(rq$k AS HUGEINT)*xq) AS sx$k, sum(CAST(rq$k AS HUGEINT)*yq) AS sy$k, sum(CASE WHEN hard = $k THEN 1 ELSE 0 END) AS h$k").mkString(",\n    ")}
         |  FROM z$r),
         |m$r AS MATERIALIZED (SELECT
         |    ${ks.map(k => s"CASE WHEN a.s$k = 0 THEN m.mx$k ELSE CAST(a.sx$k AS DOUBLE)/CAST(a.s$k AS DOUBLE)/1e6 END AS mx$k, CASE WHEN a.s$k = 0 THEN m.my$k ELSE CAST(a.sy$k AS DOUBLE)/CAST(a.s$k AS DOUBLE)/1e6 END AS my$k").mkString(",\n    ")}
         |  FROM a$r a CROSS JOIN m${r - 1} m)""".stripMargin
    }.mkString(",\n")
    val out = ks.map { k =>
      s"""SELECT CAST($k AS INT) AS k,
         |  round(CAST(s$k AS DOUBLE)/$GmmGrain.0, 3) AS soft_n,
         |  CAST(h$k AS BIGINT) AS hard_n,
         |  round(mx$k, 6) AS mx, round(my$k, 6) AS my
         |FROM a$iters CROSS JOIN m$iters""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pts AS MATERIALIZED (SELECT vec_id AS id,
       |    CAST(floor(embedding[1]*1e6) AS BIGINT) AS xq,
       |    CAST(floor(embedding[2]*1e6) AS BIGINT) AS yq
       |  FROM embeddings),
       |m0 AS MATERIALIZED (SELECT
       |    ${ks.map(k => s"max(CASE WHEN id = $k THEN xq/1e6 END) AS mx$k, max(CASE WHEN id = $k THEN yq/1e6 END) AS my$k").mkString(",\n    ")}
       |  FROM pts WHERE id < $kk),
       |$rounds
       |$out""".stripMargin
  }

  /** q_lof oracle: brute-force n² in-radius pairs (semantics, not plan
    * shape — the grid blocking must agree with unblocked ground truth,
    * dbscan's discipline), then the same quantized reach/lrd/lof
    * chain. */
  private def lofSql(eps: Double, k: Int): String = {
    val eps2 = eps * eps
    val kNum = k.toDouble * 1e15
    val sparseLrd = math.floor(1e6 / eps).toLong
    s"""WITH pts AS MATERIALIZED ($ptsSql),
       |pr AS MATERIALIZED (SELECT a.id AS cid, b.id AS nid,
       |    (b.x-a.x)*(b.x-a.x)+(b.y-a.y)*(b.y-a.y) AS d2
       |  FROM pts a JOIN pts b ON a.id != b.id
       |  WHERE (b.x-a.x)*(b.x-a.x)+(b.y-a.y)*(b.y-a.y) <= $eps2),
       |nnb AS (SELECT cid AS id, count(*) AS n_nb FROM pr GROUP BY 1),
       |rkt AS MATERIALIZED (SELECT cid, nid, d2, row_number() OVER (
       |    PARTITION BY cid ORDER BY d2, nid) AS rk FROM pr),
       |kd AS MATERIALIZED (SELECT cid AS id, sqrt(d2) AS kd
       |  FROM rkt WHERE rk = $k),
       |kdc AS (SELECT p.id, coalesce(kd.kd, $eps) AS kdc
       |  FROM pts p LEFT JOIN kd ON kd.id = p.id),
       |knn AS MATERIALIZED (SELECT r.* FROM rkt r
       |  JOIN kd ON kd.id = r.cid WHERE r.rk <= $k),
       |srq AS (SELECT cid, sum(CAST(floor(
       |      greatest(kdc.kdc, sqrt(knn.d2)) * 1e9) AS BIGINT)) AS srq
       |  FROM knn JOIN kdc ON kdc.id = knn.nid GROUP BY cid),
       |lrdd AS MATERIALIZED (SELECT cid AS id,
       |    CAST(floor($kNum / CAST(greatest(srq, 1) AS DOUBLE))
       |      AS BIGINT) AS lrdq
       |  FROM srq),
       |lrda AS (SELECT p.id, coalesce(l.lrdq, $sparseLrd) AS lrdq
       |  FROM pts p LEFT JOIN lrdd l ON l.id = p.id),
       |lofv AS (SELECT knn.cid AS id, sum(a.lrdq) AS slrd
       |  FROM knn JOIN lrda a ON a.id = knn.nid GROUP BY 1),
       |lf AS (SELECT lofv.id, n.n_nb,
       |    round(CAST(slrd AS DOUBLE)
       |      / (${k.toDouble} * CAST(d.lrdq AS DOUBLE)), 4) AS lof
       |  FROM lofv JOIN lrdd d ON d.id = lofv.id
       |  JOIN nnb n ON n.id = lofv.id),
       |cen AS (SELECT
       |    sum(CASE WHEN kd.id IS NOT NULL THEN 1 ELSE 0 END) AS n_dense,
       |    sum(CASE WHEN kd.id IS NULL THEN 1 ELSE 0 END) AS n_sparse
       |  FROM pts p LEFT JOIN kd ON kd.id = p.id),
       |top AS (SELECT * FROM lf ORDER BY lof DESC, id LIMIT 20)
       |SELECT CAST(row_number() OVER (ORDER BY lof DESC, id) AS INT)
       |    AS rk, id, n_nb, lof, CAST(n_dense AS BIGINT) AS n_dense,
       |  CAST(n_sparse AS BIGINT) AS n_sparse
       |FROM top CROSS JOIN cen""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "km_gmm" -> gmmSql(GmmK, GmmIters),
    "q_lof" -> lofSql(LofEps, LofK),
    // the half-space-chain replay: the Scala-derived chain constants
    // inline as a 96-row VALUES table; cells are pure per-row math
    // over the shared bounding box, isolation depths exact integer
    // folds
    "q_isoforest" -> {
      val rows = IsoCfg.map { case (t, k, p2x, p2y, sx, sy) =>
        s"($t, $k, $p2x, $p2y, $sx, $sy)"
      }.mkString(",\n    ")
      s"""WITH pts AS MATERIALIZED ($ptsSql),
         |bb AS (SELECT min(x) AS lox, max(x) AS hix,
         |    min(y) AS loy, max(y) AS hiy FROM pts),
         |cfg(t, k, p2x, p2y, sx, sy) AS (VALUES
         |    $rows),
         |cells AS MATERIALIZED (SELECT p.id, c.t, c.k,
         |    CAST(floor(((p.x - lox) / greatest(hix - lox, 1e-12) + c.sx)
         |      * c.p2x) AS BIGINT) * 65536
         |  + CAST(floor(((p.y - loy) / greatest(hiy - loy, 1e-12) + c.sy)
         |      * c.p2y) AS BIGINT) AS ck
         |  FROM pts p, bb, cfg c),
         |census AS (SELECT t, k, ck, count(*) AS cnt FROM cells
         |  GROUP BY 1, 2, 3),
         |iso AS (SELECT id, sum(iso) AS score_sum FROM (
         |    SELECT cells.id, cells.t,
         |      min(CASE WHEN cnt = 1 THEN cells.k
         |        ELSE ${IsoDepth + 1} END) AS iso
         |    FROM cells JOIN census USING (t, k, ck)
         |    GROUP BY 1, 2) GROUP BY id),
         |top AS (SELECT * FROM iso ORDER BY score_sum, id LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY score_sum, id) AS INT)
         |    AS rk, id, CAST(score_sum AS BIGINT) AS score_sum,
         |  round(CAST(score_sum AS DOUBLE) / $IsoChains.0, 2) AS avg_depth
         |FROM top""".stripMargin
    },
    "km_bisect" -> bisectSql(BisectLevels, BisectIters),
    // Brute-force n² neighbor pairs (the oracle checks SEMANTICS, not
    // plan shape — the Spark side's cell blocking must agree with the
    // unblocked ground truth, which also proves no pair is lost at a
    // cell boundary) + recursive-CTE min-label closure over core-core
    // edges, the same min-id cluster convention as the gated CC
    // operator. eps/eps² literals interpolate from the SAME Scala
    // constants the Spark plan uses, so both engines compare identical
    // doubles.
    "dbscan_grid" ->
      s"""WITH RECURSIVE pts AS ($ptsSql),
         |nbp AS (SELECT a.id AS ia, b.id AS ib FROM pts a JOIN pts b
         |  ON a.id <> b.id
         |  AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= ${DbscanEps * DbscanEps}),
         |nb AS (SELECT id, coalesce(n, 0) + 1 AS n_nb FROM pts
         |  LEFT JOIN (SELECT ia, count(*) AS n FROM nbp GROUP BY 1) ON id = ia),
         |core AS (SELECT id FROM nb WHERE n_nb >= $DbscanMinPts),
         |ce AS (SELECT ia AS a, ib AS b FROM nbp
         |  WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
         |lab AS (SELECT id, id AS label FROM core
         |  UNION SELECT ce.b, lab.label FROM lab JOIN ce ON ce.a = lab.id),
         |cl AS (SELECT id, min(label) AS ccl FROM lab GROUP BY 1),
         |adj AS (SELECT nbp.ia AS id, min(cl.ccl) AS bcl FROM nbp
         |  JOIN cl ON nbp.ib = cl.id GROUP BY 1)
         |SELECT nb.id, nb.n_nb,
         |  CASE WHEN cl.id IS NOT NULL THEN 'core'
         |       WHEN adj.bcl IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(cl.ccl, adj.bcl, -1) AS cluster
         |FROM nb LEFT JOIN cl ON nb.id = cl.id
         |  LEFT JOIN adj ON nb.id = adj.id""".stripMargin,

    "km_farthest_init" ->
      s"""WITH pts AS ($ptsSql),
         |c0 AS (SELECT id, x, y FROM pts ORDER BY id LIMIT 1),
         |d1 AS (SELECT p.id, p.x, p.y,
         |  (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y) AS dd FROM pts p, c0 c),
         |c1 AS (SELECT id, x, y FROM d1 ORDER BY dd DESC, id LIMIT 1),
         |d2 AS (SELECT p.id, p.x, p.y, least(
         |    (p.x-a.x)*(p.x-a.x)+(p.y-a.y)*(p.y-a.y),
         |    (p.x-b.x)*(p.x-b.x)+(p.y-b.y)*(p.y-b.y)) AS dd
         |  FROM pts p, c0 a, c1 b),
         |c2 AS (SELECT id, x, y FROM d2 ORDER BY dd DESC, id LIMIT 1),
         |d3 AS (SELECT p.id, p.x, p.y, least(
         |    (p.x-a.x)*(p.x-a.x)+(p.y-a.y)*(p.y-a.y),
         |    (p.x-b.x)*(p.x-b.x)+(p.y-b.y)*(p.y-b.y),
         |    (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y)) AS dd
         |  FROM pts p, c0 a, c1 b, c2 c),
         |c3 AS (SELECT id, x, y FROM d3 ORDER BY dd DESC, id LIMIT 1),
         |cent AS (
         |  SELECT CAST(0 AS INT) AS rk, id, x, y FROM c0
         |  UNION ALL SELECT 1, id, x, y FROM c1
         |  UNION ALL SELECT 2, id, x, y FROM c2
         |  UNION ALL SELECT 3, id, x, y FROM c3),
         |asg AS (SELECT pid, rk FROM (
         |  SELECT p.id AS pid, c.rk,
         |    row_number() OVER (PARTITION BY p.id ORDER BY
         |      (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y), c.rk) AS rn
         |  FROM pts p CROSS JOIN cent c) WHERE rn = 1)
         |SELECT cent.rk, cent.id, cent.x, cent.y, n.n_points
         |FROM cent JOIN (SELECT rk, count(*) AS n_points FROM asg GROUP BY rk) n
         |  USING (rk)""".stripMargin,
    // Replays the kmpp draw exactly: integer weights floor(D²·2²⁰)+1,
    // threshold = md5-32bit("kmpp:<r>") · Σw // 2³², selection = first
    // id whose id-ordered integer cumsum exceeds it. A global cumsum
    // here vs the engine's block-partial-sum draw: identical result,
    // integer sums are association-free.
    "km_kmeanspp" ->
      s"""WITH pts AS ($ptsSql),
         |c0 AS (SELECT id, x, y FROM pts ORDER BY id LIMIT 1),
         |w1 AS (SELECT p.id, p.x, p.y,
         |  CAST(floor(((p.x-a.x)*(p.x-a.x)+(p.y-a.y)*(p.y-a.y)) * 1048576.0)
         |    AS BIGINT) + 1 AS w
         |  FROM pts p, c0 a),
         |t1 AS (SELECT (CAST(CAST(('0x' || substr(md5('kmpp:1'),1,8)) AS BIGINT)
         |    AS HUGEINT) * sum(CAST(w AS HUGEINT))) // 4294967296 AS thr FROM w1),
         |c1 AS (SELECT id, x, y FROM (
         |  SELECT id, x, y, sum(CAST(w AS HUGEINT)) OVER (ORDER BY id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM w1), t1
         |  WHERE cum > thr ORDER BY id LIMIT 1),
         |w2 AS (SELECT p.id, p.x, p.y,
         |  CAST(floor(least(
         |    (p.x-a.x)*(p.x-a.x)+(p.y-a.y)*(p.y-a.y),
         |    (p.x-b.x)*(p.x-b.x)+(p.y-b.y)*(p.y-b.y)) * 1048576.0)
         |    AS BIGINT) + 1 AS w
         |  FROM pts p, c0 a, c1 b),
         |t2 AS (SELECT (CAST(CAST(('0x' || substr(md5('kmpp:2'),1,8)) AS BIGINT)
         |    AS HUGEINT) * sum(CAST(w AS HUGEINT))) // 4294967296 AS thr FROM w2),
         |c2 AS (SELECT id, x, y FROM (
         |  SELECT id, x, y, sum(CAST(w AS HUGEINT)) OVER (ORDER BY id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM w2), t2
         |  WHERE cum > thr ORDER BY id LIMIT 1),
         |w3 AS (SELECT p.id, p.x, p.y,
         |  CAST(floor(least(
         |    (p.x-a.x)*(p.x-a.x)+(p.y-a.y)*(p.y-a.y),
         |    (p.x-b.x)*(p.x-b.x)+(p.y-b.y)*(p.y-b.y),
         |    (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y)) * 1048576.0)
         |    AS BIGINT) + 1 AS w
         |  FROM pts p, c0 a, c1 b, c2 c),
         |t3 AS (SELECT (CAST(CAST(('0x' || substr(md5('kmpp:3'),1,8)) AS BIGINT)
         |    AS HUGEINT) * sum(CAST(w AS HUGEINT))) // 4294967296 AS thr FROM w3),
         |c3 AS (SELECT id, x, y FROM (
         |  SELECT id, x, y, sum(CAST(w AS HUGEINT)) OVER (ORDER BY id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM w3), t3
         |  WHERE cum > thr ORDER BY id LIMIT 1),
         |cent AS (
         |  SELECT CAST(0 AS INT) AS rk, id, x, y FROM c0
         |  UNION ALL SELECT 1, id, x, y FROM c1
         |  UNION ALL SELECT 2, id, x, y FROM c2
         |  UNION ALL SELECT 3, id, x, y FROM c3),
         |asg AS (SELECT pid, rk FROM (
         |  SELECT p.id AS pid, c.rk,
         |    row_number() OVER (PARTITION BY p.id ORDER BY
         |      (p.x-c.x)*(p.x-c.x)+(p.y-c.y)*(p.y-c.y), c.rk) AS rn
         |  FROM pts p CROSS JOIN cent c) WHERE rn = 1)
         |SELECT cent.rk, cent.id, cent.x, cent.y, n.n_points
         |FROM cent JOIN (SELECT rk, count(*) AS n_points FROM asg GROUP BY rk) n
         |  USING (rk)""".stripMargin,
    "km_assign" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql)
         |SELECT id, cid FROM a""".stripMargin,
    "km_sizes" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql)
         |SELECT cid, count(*) AS n FROM a GROUP BY cid""".stripMargin,
    "km_update" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql)
         |SELECT cid, round(avg(x),6) AS nx, round(avg(y),6) AS ny, count(*) AS n
         |FROM a GROUP BY cid""".stripMargin,
    "km_iterate2" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql),
         |cent1 AS (
         |  SELECT c.cid, coalesce(u.nx, c.cx) AS cx, coalesce(u.ny, c.cy) AS cy
         |  FROM cent c LEFT JOIN (
         |    SELECT cid, round(avg(x),6) AS nx, round(avg(y),6) AS ny FROM a GROUP BY cid
         |  ) u USING (cid)),
         |a2 AS (SELECT id, x, y, cid FROM (
         |  SELECT p.id, p.x, p.y, c.cid,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) AS rn
         |  FROM pts p CROSS JOIN cent1 c) WHERE rn = 1),
         |upd2 AS (SELECT cid, round(avg(x),6) AS nx, round(avg(y),6) AS ny FROM a2 GROUP BY cid)
         |SELECT c.cid, coalesce(u.nx, c.cx) AS nx, coalesce(u.ny, c.cy) AS ny
         |FROM cent1 c LEFT JOIN upd2 u USING (cid)""".stripMargin,
    "km_cost" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql)
         |SELECT round(sum(dist),4) AS wssse FROM a""".stripMargin,
    // both mini-batch rounds replayed: deterministic hash batch, batch
    // assignment, running-weighted-mean center update with HALF_UP
    // rounding per round — the same scalars the driver loop produces
    "km_minibatch" ->
      s"""WITH pts AS ($ptsSql), cent0 AS (SELECT cid, cx, cy FROM ($centSql) c),
         |b1 AS (SELECT * FROM pts
         |  WHERE CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '#1'), 1, 4)) AS INT) < 13107),
         |a1 AS (SELECT id, x, y, cid FROM (
         |  SELECT p.id, p.x, p.y, c.cid,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) AS rn
         |  FROM b1 p CROSS JOIN cent0 c) WHERE rn = 1),
         |u1 AS (SELECT cid, sum(x) AS sx, sum(y) AS sy, count(*) AS m FROM a1 GROUP BY cid),
         |cent1 AS (
         |  SELECT c.cid,
         |    CASE WHEN u.m IS NULL THEN c.cx ELSE round(u.sx/u.m, 6) END AS cx,
         |    CASE WHEN u.m IS NULL THEN c.cy ELSE round(u.sy/u.m, 6) END AS cy,
         |    coalesce(u.m, 0) AS n
         |  FROM cent0 c LEFT JOIN u1 u USING (cid)),
         |b2 AS (SELECT * FROM pts
         |  WHERE CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '#2'), 1, 4)) AS INT) < 13107),
         |a2 AS (SELECT id, x, y, cid FROM (
         |  SELECT p.id, p.x, p.y, c.cid,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) AS rn
         |  FROM b2 p CROSS JOIN cent1 c) WHERE rn = 1),
         |u2 AS (SELECT cid, sum(x) AS sx, sum(y) AS sy, count(*) AS m FROM a2 GROUP BY cid)
         |SELECT c.cid,
         |  CASE WHEN u.m IS NULL THEN c.cx
         |    ELSE round((c.n*c.cx + u.sx)/(c.n + u.m), 6) END AS x,
         |  CASE WHEN u.m IS NULL THEN c.cy
         |    ELSE round((c.n*c.cy + u.sy)/(c.n + u.m), 6) END AS y,
         |  CAST(c.n + coalesce(u.m, 0) AS BIGINT) AS n
         |FROM cent1 c LEFT JOIN u2 u USING (cid)""".stripMargin,
    // every Lloyd iteration replayed as one assign+update CTE stage;
    // per-iteration round(…,6) keeps the trajectory bit-stable across
    // engines despite different summation orders
    "km_lloyd_fixed" -> lloydReplaySql(LloydFixedIters,
      s"SELECT cid, cx AS nx, cy AS ny FROM cent$LloydFixedIters"),
    // lightweight-coreset replay: quantize, mean, Σd², md5-threshold
    // selection + integral weights (HUGEINT clears the u·2nS ≈ 2¹⁰³
    // products), then both weighted Lloyd stages with truncating
    // integer center updates and empty-center carry
    "km_coreset" -> {
      s"""WITH pts AS ($ptsSql),
         |qpts AS (SELECT id,
         |    CAST(floor((x + $CoresetOff) * $CoresetQ) AS BIGINT) AS qx,
         |    CAST(floor((y + $CoresetOff) * $CoresetQ) AS BIGINT) AS qy
         |  FROM pts),
         |st AS (SELECT count(*) AS n, sum(qx) AS sqx, sum(qy) AS sqy
         |  FROM qpts),
         |mu AS (SELECT n, sqx // n AS mx, sqy // n AS my FROM st),
         |dq AS (SELECT id, qx, qy,
         |    (qx - mx)*(qx - mx) + (qy - my)*(qy - my) AS d
         |  FROM qpts, mu),
         |sq AS (SELECT sum(d) AS s FROM dq),
         |sel AS MATERIALIZED (SELECT id, qx, qy,
         |    (2 * n * s * 1000) // ($CoresetM * (s + n * d)) AS w
         |  FROM dq, mu, sq
         |  WHERE CAST(('0x'||substr(md5('cs:'||CAST(id AS VARCHAR)),1,8))
         |      AS BIGINT) * 2 * n * s
         |    < $CoresetM * (s + n * d) * 4294967296),
         |cent0 AS (SELECT CAST(id AS INT) AS cid, qx AS cx, qy AS cy
         |  FROM qpts WHERE id < $K),
         |a1 AS (SELECT id, qx, qy, w, cid FROM (
         |  SELECT p.id, p.qx, p.qy, p.w, c.cid,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY (p.qx-c.cx)*(p.qx-c.cx)+(p.qy-c.cy)*(p.qy-c.cy),
         |        c.cid) AS rn
         |  FROM sel p CROSS JOIN cent0 c) WHERE rn = 1),
         |u1 AS (SELECT cid, sum(w*qx) AS swx, sum(w*qy) AS swy,
         |    sum(w) AS sw FROM a1 GROUP BY cid),
         |cent1 AS (SELECT c.cid,
         |    CAST(coalesce(u.swx // u.sw, c.cx) AS BIGINT) AS cx,
         |    CAST(coalesce(u.swy // u.sw, c.cy) AS BIGINT) AS cy
         |  FROM cent0 c LEFT JOIN u1 u USING (cid)),
         |a2 AS (SELECT id, qx, qy, w, cid FROM (
         |  SELECT p.id, p.qx, p.qy, p.w, c.cid,
         |    row_number() OVER (PARTITION BY p.id
         |      ORDER BY (p.qx-c.cx)*(p.qx-c.cx)+(p.qy-c.cy)*(p.qy-c.cy),
         |        c.cid) AS rn
         |  FROM sel p CROSS JOIN cent1 c) WHERE rn = 1),
         |u2 AS (SELECT cid, sum(w*qx) AS swx, sum(w*qy) AS swy,
         |    sum(w) AS sw, count(*) AS mcnt FROM a2 GROUP BY cid),
         |cent2 AS (SELECT c.cid,
         |    CAST(coalesce(u.swx // u.sw, c.cx) AS BIGINT) AS cx,
         |    CAST(coalesce(u.swy // u.sw, c.cy) AS BIGINT) AS cy
         |  FROM cent1 c LEFT JOIN u2 u USING (cid)),
         |gstat AS (SELECT count(*) AS n_coreset, sum(w) AS w_total
         |  FROM sel)
         |SELECT c.cid, CAST(coalesce(u.mcnt, 0) AS BIGINT) AS n_members,
         |  CAST(coalesce(u.sw, 0) AS BIGINT) AS w_sum,
         |  round(CAST(c.cx AS DOUBLE) / $CoresetQ - $CoresetOff, 6) AS cx,
         |  round(CAST(c.cy AS DOUBLE) / $CoresetQ - $CoresetOff, 6) AS cy,
         |  CAST(gstat.n_coreset AS BIGINT) AS n_coreset,
         |  CAST(gstat.w_total AS BIGINT) AS w_total,
         |  CAST(mu.n AS BIGINT) AS n
         |FROM cent2 c LEFT JOIN u2 u USING (cid), gstat, mu""".stripMargin
    },
    // the CONVERGENT fit's replay: the tol gate stopped after exactly
    // LloydConvergedItersSf001 rounds at the gate's scale (pinned by
    // ClusteringSpec), so the same fixed chain reproduces its
    // trajectory; only the final projection rounds to 4
    "km_lloyd" -> lloydReplaySql(LloydConvergedItersSf001,
      s"SELECT cid, round(cx, 4) AS x, round(cy, 4) AS y " +
        s"FROM cent$LloydConvergedItersSf001"),
    "km_silhouette_exact" ->
      s"""WITH pts AS ($ptsSql), cent AS ($centSql), a AS ($assignSql),
         |q AS (SELECT id, x, y, cid, x*x + y*y AS q FROM a),
         |stats AS (
         |  SELECT cid AS scid, round(avg(x),6) AS mx, round(avg(y),6) AS my,
         |    round(avg(q),6) AS msq
         |  FROM q GROUP BY cid),
         |per AS (
         |  SELECT id,
         |    max(CASE WHEN scid = cid THEN md END) AS sa,
         |    min(CASE WHEN scid <> cid THEN md END) AS sb
         |  FROM (
         |    SELECT p.id, p.cid, s.scid,
         |      (p.q - 2*(p.x*s.mx + p.y*s.my)) + s.msq AS md
         |    FROM q p CROSS JOIN stats s)
         |  GROUP BY id)
         |SELECT round(avg(CASE WHEN greatest(sa, sb) > 0
         |    THEN (sb - sa) / greatest(sa, sb) ELSE 0.0 END), 4) AS silhouette,
         |  $K AS k
         |FROM per""".stripMargin,
    "km_elbow" -> {
      val perK = Seq(2, 4, 8, 15).map { k =>
        s"""SELECT $k AS k, round(sum(dist),4) AS wssse FROM (
           |  SELECT id, dist FROM (
           |    SELECT p.id,
           |      (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy) AS dist,
           |      row_number() OVER (PARTITION BY p.id
           |        ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy), c.cid) AS rn
           |    FROM pts p CROSS JOIN (SELECT * FROM cent WHERE cid < $k) c)
           |  WHERE rn = 1)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH pts AS ($ptsSql), cent AS ($centSql)\n$perK"
    }
  )
}
