package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.KMeansDF
import graft.operators.KMeansDF.Centroid

class KMeansSpec extends SparkSpec {
  private val s = TestSession.spark
  import s.implicits._

  private def tiny = Seq(
    (0L, 0.0, 0.0), (1L, 1.0, 0.0), (2L, 10.0, 10.0), (3L, 11.0, 10.0)
  ).toDF("id", "x", "y")

  test("assign picks the nearest centroid") {
    val cs = Seq(Centroid(0, 0.0, 0.0), Centroid(1, 10.0, 10.0))
    val got = KMeansDF.assign(tiny, cs).select("id", "cid")
      .as[(Long, Int)].collect().toMap
    assert(got === Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("assign breaks distance ties toward the lower cid") {
    val cs = Seq(Centroid(0, -1.0, 0.0), Centroid(1, 1.0, 0.0))
    val p = Seq((0L, 0.0, 5.0)).toDF("id", "x", "y") // equidistant
    val cid = KMeansDF.assign(p, cs).select("cid").as[Int].head()
    assert(cid === 0)
  }

  test("exact silhouette agrees with MLlib's evaluator to within the self-term") {
    // same squared-euclidean decomposition; conventions differ only in
    // including the point itself in a(i) (an O(1/|cluster|) effect)
    val exact = SparkEntry.queries("km_silhouette_exact")(spark, sfDir)
      .select("silhouette").as[Double].head()
    val mllib = SparkEntry.queries("km_silhouette")(spark, sfDir)
      .select("silhouette").as[Double].head()
    assert(math.abs(exact - mllib) < 0.1,
      s"exact=$exact vs mllib=$mllib — decompositions should closely agree")
  }

  test("fixed-iteration fit (tol=0) equals the declarative step chain") {
    val p = Tables.points2d(spark, sfDir)
    val viaFit = KMeansDF.fit(p, 4, maxIter = 2, tol = 0.0)
    val seeds = p.filter(col("id") < 4).collect()
      .sortBy(_.getAs[Long]("id")).zipWithIndex
      .map { case (r, i) => Centroid(i, r.getAs[Double]("x"), r.getAs[Double]("y")) }
      .toSeq
    val viaStep = KMeansDF.step(p, KMeansDF.step(p, seeds))
    assert(viaFit === viaStep,
      "RDD treeAggregate loop and DataFrame step must agree bit-exactly")
  }

  test("step averages members and keeps empty clusters unchanged") {
    val cs = Seq(Centroid(0, 0.0, 0.0), Centroid(1, 10.0, 10.0),
      Centroid(2, 1000.0, 1000.0))
    val next = KMeansDF.step(tiny, cs)
    assert(next(0) === Centroid(0, 0.5, 0.0))
    assert(next(1) === Centroid(1, 10.5, 10.0))
    assert(next(2) === Centroid(2, 1000.0, 1000.0)) // no members → unchanged
  }

  test("fit converges to the two obvious clusters") {
    val cs = KMeansDF.fit(tiny, 2)
    val xs = cs.map(c => (c.x, c.y)).toSet
    assert(xs === Set((0.5, 0.0), (10.5, 10.0)))
  }

  test("fit's treeAggregate inner loop equals the DataFrame step on real points") {
    // one full round through each path from the same seed must agree
    // exactly: same strict-< lowest-cid ties, same HALF_UP 6-dp means
    val p = Tables.points2d(spark, sfDir)
    val k = graft.queries.Clustering.K
    val viaFit = KMeansDF.fit(p, k, maxIter = 1, tol = 0.0)
    val viaStep = KMeansDF.step(p, KMeansDF.initFirstK(p, k))
    assert(viaFit === viaStep)
  }

  test("cost is the sum of squared distances to assigned centroids") {
    val cs = Seq(Centroid(0, 0.5, 0.0), Centroid(1, 10.5, 10.0))
    val w = KMeansDF.cost(tiny, cs).select("wssse").as[Double].head()
    assert(w === 1.0) // 4 × 0.25
  }

  test("km queries run on real data with sane shapes") {
    val p = Tables.points2d(spark, sfDir)
    val k = graft.queries.Clustering.K
    val sizes = graft.queries.Clustering.defs("km_sizes")(spark, sfDir).collect()
    assert(sizes.map(_.getLong(1)).sum === p.count())
    assert(sizes.length <= k)
  }

  test("kmeans++ D² draw lands on the dominant-mass outlier") {
    // 100 near-origin points plus one far outlier: the outlier holds
    // >99.999% of the quantized D² mass after c0 = id 0, so the fixed
    // md5 draw must select it in round 1 — the defining difference
    // from uniform sampling (1/101 odds) and a direct check that the
    // weighting, not just the hash, drives the selection.
    val pts = ((0L until 100L).map(i => (i, i * 1e-4, 0.0)) :+
      ((100L, 1000.0, 1000.0))).toDF("id", "x", "y")
    val saved = java.nio.file.Files.createTempDirectory("kmpp").toString
    pts.select($"id".cast("long").as("vec_id"),
        array($"x".cast("float"), $"y".cast("float")).as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$saved/embeddings.parquet")
    val out = graft.queries.Clustering.defs("km_kmeanspp")(spark, saved)
      .orderBy("rk").collect()
    assert(out.length === 4)
    assert(out(0).getAs[Long]("id") === 0L, "c0 is the min-id point")
    assert(out(1).getAs[Long]("id") === 100L,
      s"round-1 draw must follow the D² mass to the outlier, got ${out.toSeq}")
    assert(out.map(_.getAs[Long]("n_points")).sum === 101L)
  }

  test("the convergent km_lloyd fit performs exactly the pinned iteration count at sf0.01") {
    // km_lloyd's hash gate replays the convergent trajectory as a FIXED
    // chain of LloydConvergedItersSf001 oracle stages — that is only
    // sound while the tol-gated fit actually stops there. Pin it here
    // so a testdata or step-arithmetic change fails in ScalaTest with
    // this message instead of as an opaque driver hash mismatch.
    val p = Tables.points2d(spark, "/root/testdata/sf0.01")
    val (_, iters) = graft.operators.KMeansDF.fitWithIters(
      p, graft.queries.Clustering.K)
    assert(iters === graft.queries.Clustering.LloydConvergedItersSf001,
      "update Clustering.LloydConvergedItersSf001 (and the km_lloyd " +
        s"oracle stage count) — the sf0.01 fit now takes $iters rounds")
  }

  test("km_kmeanspp on real data: 4 distinct centers covering all points") {
    val p = Tables.points2d(spark, sfDir)
    val out = graft.queries.Clustering.defs("km_kmeanspp")(spark, sfDir).collect()
    assert(out.length === 4)
    assert(out.map(_.getAs[Long]("id")).distinct.length === 4)
    assert(out.map(_.getAs[Long]("n_points")).sum === p.count())
  }

  test("bisectFrom separates four well-spaced blobs into pure leaves") {
    // four blobs far apart, ids planted so the two-lowest-ids init of
    // every split straddles the natural boundary (ids 0..3 are the
    // four blob corners): level 1 splits left {A,C} from right {B,D}
    // (seeds 0∈A, 1∈B), level 2 splits A from C (seeds 0∈A, 2∈C),
    // level 3 takes the 8-vs-8 size tie to the SMALLER label — the
    // {B,D} side — and splits it (seeds 1∈B, 3∈D). Blob sizes
    // 8/6/4/2.
    def blob(x0: Double, y0: Double, n: Int, corner: Long, base: Long) =
      (corner, x0, y0) +: (1 until n).map(i =>
        (base + i, x0 + (i % 2) * 0.5, y0 + (i / 2) * 0.5))
    val pts = (blob(0, 0, 8, 0L, 10L) ++ blob(100, 0, 6, 1L, 20L) ++
      blob(0, 100, 4, 2L, 30L) ++ blob(100, 100, 2, 3L, 40L))
      .toDF("id", "x", "y")
    val got = graft.queries.Clustering.bisectFrom(pts).collect()
    assert(got.length === 4)
    val byLbl = got.map(r => r.getAs[Long]("cluster") ->
      ((r.getAs[Long]("n_points"),
        r.getAs[Double]("cx"), r.getAs[Double]("cy")))).toMap
    // the tree: 0 → {1: left, 2: right}; 1 → {3: A, 4: C};
    // 2 → {5: B, 6: D}
    assert(byLbl.keySet === Set(3L, 4L, 5L, 6L))
    def near(c: (Long, Double, Double), n: Long, bx: Double, by: Double) =
      c._1 === n && math.abs(c._2 - bx) <= 1.0 && math.abs(c._3 - by) <= 1.0
    assert(near(byLbl(3L), 8L, 0.0, 0.0))
    assert(near(byLbl(4L), 4L, 0.0, 100.0))
    assert(near(byLbl(5L), 6L, 100.0, 0.0))
    assert(near(byLbl(6L), 2L, 100.0, 100.0))
  }

  test("gmmFrom spreads overlap mass softly while hard counts stay integral") {
    // two tight blobs at (0,0) and (0.5,0.5); seeds 0,1 start in A and
    // 2,3 in B; one point at the exact midpoint carries responsibility
    // to BOTH sides, so soft counts differ from hard counts there
    val a = (0 until 10).map(i =>
      (i.toLong * 2, 0.01 * (i % 3), 0.01 * (i % 2)))
    val b = (0 until 10).map(i =>
      (i.toLong * 2 + 1, 0.5 + 0.01 * (i % 3), 0.5 + 0.01 * (i % 2)))
    // seeds: ids 0,2 in A... ids < 4 are 0,1,2,3 -> 0,2 from a; 1,3 from b
    val pts = (a ++ b :+ (100L, 0.25, 0.25)).toDF("id", "x", "y")
    val got = graft.queries.Clustering.gmmFrom(pts).collect()
    assert(got.length === graft.queries.Clustering.GmmK)
    val hard = got.map(_.getAs[Long]("hard_n")).sum
    assert(hard === 21L)
    val soft = got.map(_.getAs[Double]("soft_n")).sum
    // quantization drops at most GmmK units per point
    assert(math.abs(soft - 21.0) < 0.1)
    // every final mean sits inside the data's bounding box
    got.foreach { r =>
      assert(r.getAs[Double]("mx") >= -0.01 && r.getAs[Double]("mx") <= 0.53)
      assert(r.getAs[Double]("my") >= -0.01 && r.getAs[Double]("my") <= 0.53)
    }
    // the overlap signature: some component's soft mass differs from
    // its hard count by a visible margin (the midpoint point spreads)
    assert(got.exists(r =>
      math.abs(r.getAs[Double]("soft_n") - r.getAs[Long]("hard_n")) > 0.2))
  }

  test("coresetSelect keeps every far outlier with LOW weight, thins " +
      "the blob with HIGH weight, and the weights stay unbiased") {
    import graft.queries.Clustering
    // 1005 points: a dense 1000-point blob near the origin + 5 far
    // outliers that carry ~all of the Σd² mass. Lightweight-coreset
    // importance: far points have m·q(x) ≫ 1 → kept with certainty
    // and low weight (they represent only themselves); blob points
    // have q(x) ≈ 1/(2n) → thinned to ~m/2 survivors that each stand
    // in for ~2n/m originals via a high weight. E[Σw] = n.
    val blob = (0 until 1000).map(i =>
      (i.toLong, 0.001 * (i % 32), 0.001 * (i / 32)))
    val far = (0 until 5).map(j => (5000L + j, 7.0 + j, -7.0 - j))
    val q = Clustering.coresetQpts((blob ++ far).toDF("id", "x", "y"))
    val sel = Clustering.coresetSelect(q, Clustering.CoresetM)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("w")).toMap
    far.foreach { case (id, _, _) =>
      assert(sel.contains(id), s"far point $id must be kept") }
    val (farW, blobW) = (far.map(f => sel(f._1)),
      sel.view.filterKeys(_ < 5000L).values.toSeq)
    assert(blobW.nonEmpty && farW.max * 50 < blobW.min,
      s"far weights ${farW.max} must sit far below blob weights " +
        s"${blobW.min} — each far point represents only itself")
    val wTotal = sel.values.sum / 1000.0
    assert(math.abs(wTotal - 1005.0) / 1005.0 < 0.15,
      s"Σw = $wTotal must track n = 1005 (unbiased weights)")
    // the blob thins toward m/2 = 128 (the 1/(2n) uniform half of q)
    val blobKept = sel.keys.count(_ < 5000L)
    assert(blobKept > 60 && blobKept < 230,
      s"blob kept $blobKept of 1000 — expected ~128")
  }

  /** Birch-shaped integer points, as the benchmark's generator makes
    * them: seeded Gaussian blobs (σ = 15 000) on a 10×10 grid in
    * [0, 10⁶], in shuffled order. */
  private def birch(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    def coord(cell: Int) =
      math.rint((cell + 0.5) * 1e5 + rnd.nextGaussian() * 15000).max(0).min(1e6)
    (0 until n).map { i =>
      val blob = rnd.nextInt(100)
      val x = coord(blob % 10)
      (i.toLong, x, coord(blob / 10))
    }.toDF("id", "x", "y")
  }

  test("integer fit equals the stepInt chain round for round") {
    val p = birch(3000, 11L)
    val init = KMeansDF.initFirstK(p, 15)
    val chain = Iterator.iterate(init)(KMeansDF.stepInt(p, _)).take(11).toIndexedSeq
    (1 to 10).foreach { n =>
      assert(KMeansDF.fitReferenceFrom(p, init, n) === chain(n), s"after $n rounds")
    }
    // this trajectory settles after about two dozen rounds; the cycle
    // exit must land where the chain does
    val settled = Iterator.iterate(chain(10))(KMeansDF.stepInt(p, _))
      .sliding(2).collectFirst { case Seq(a, b) if a == b => a }.get
    assert(KMeansDF.fitReferenceFrom(p, init, 999) === settled)
  }

  test("fitReference is fitReferenceFrom from the first-k init") {
    val p = birch(2000, 12L)
    assert(KMeansDF.fitReference(p, 15, 6) ===
      KMeansDF.fitReferenceFrom(p, KMeansDF.initFirstK(p, 15), 6))
  }

  test("a fit leaves the caller's cache cached") {
    val p = birch(2000, 13L).cache()
    try {
      p.count()
      KMeansDF.fitReferenceFrom(p, KMeansDF.initFirstK(p, 15), 5)
      assert(p.storageLevel !== StorageLevel.NONE,
        "fitReferenceFrom dropped the caller's cache")
      KMeansDF.fit(p, 15, maxIter = 3)
      assert(p.storageLevel !== StorageLevel.NONE,
        "fit dropped the caller's cache")
      val v = p.select($"id", array($"x".cast("float"), $"y".cast("float")).as("vec"))
        .cache()
      try {
        graft.operators.KMeansND.fit(v, 15, maxIter = 3)
        assert(v.storageLevel !== StorageLevel.NONE,
          "KMeansND.fit dropped the caller's cache")
      } finally v.unpersist(blocking = true)
    } finally p.unpersist(blocking = true)
  }

  test("a fit of an uncached input unpins what it pinned") {
    val p = birch(2000, 14L)
    val v = p.select($"id", array($"x".cast("float"), $"y".cast("float")).as("vec"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    KMeansDF.fitReferenceFrom(p, KMeansDF.initFirstK(p, 15), 5)
    KMeansDF.fit(p, 15, maxIter = 3)
    graft.operators.KMeansND.fit(v, 15, maxIter = 3)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("fit counts a non-finite or null point nowhere, as step's cid -1 does") {
    val p = Seq((0L, 0.0, 0.0), (1L, 10.0, 10.0), (2L, 1.0, 0.0),
      (3L, Double.NaN, 5.0), (4L, 3.0, Double.PositiveInfinity)).toDF("id", "x", "y")
    val viaFit = KMeansDF.fit(p, 2, maxIter = 1, tol = 0.0)
    assert(viaFit === KMeansDF.step(p, KMeansDF.initFirstK(p, 2)))
    assert(viaFit === Seq(Centroid(0, 0.5, 0.0), Centroid(1, 10.0, 10.0)))
    val withNull = p.union(Seq((5L, Option.empty[Double], 1.0)).toDF("id", "x", "y"))
    assert(KMeansDF.fit(withNull, 2, maxIter = 1, tol = 0.0) === viaFit)
  }
}
