package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-first re-expression of the reference's GPU MapReduce K-means
  * (kmeans_mapreduce_core.cu, kmeans_with_mapreduce-cuda.cu).
  *
  * The reference's phases map onto Spark as:
  *   - map (nearest-centroid assignment, kmeans_mapreduce_core.cu:21-44):
  *     a per-row codegen'd fold over a *broadcast-literal* centroid array
  *     — zero shuffle, no n×k intermediate.
  *   - shuffle+reduce (sort pairs by key, load-balanced per-cluster sum,
  *     kmeans_mapreduce_core.cu:71-207): the fits' `treeAggregate`
  *     ([[Lloyd]]) sends only k partial sums per partition — the
  *     skew-proof "loading balance" the reference hand-rolls, for free.
  *     `groupBy(cid)` is only the declarative [[step]] / [[stepInt]],
  *     whose hash aggregation does the same map-side partial combine.
  *   - iterate (kmeans_mapreduce_core.cu:237-259): driver loop over k×dim
  *     doubles (tiny state), re-broadcast each round.
  *
  * At 100 TB: the point table is only ever scanned (never repartitioned);
  * each iteration moves k partial sums per partition, independent of
  * data volume and of cluster-size skew.
  */
object KMeansDF {

  final case class Centroid(cid: Int, x: Double, y: Double)

  /** (cid, squared-distance) argmin over the centroid list — the native
    * codegen'd NearestCentroid2D expression with the centroid table
    * baked in as primitive arrays. Ties break to the lowest cid. */
  def nearest(x: Column, y: Column, centroids: Seq[Centroid]): Column =
    graft.functions.KMeansExpressions.nearestCentroid(
      x, y, centroids.map(c => (c.cid, c.x, c.y)))

  /** Map phase: points(id,x,y) → +cid, +dist (squared Euclidean). */
  def assign(points: DataFrame, centroids: Seq[Centroid]): DataFrame = {
    val n = nearest(col("x"), col("y"), centroids)
    points.withColumn("_n", n)
      .withColumn("cid", col("_n.cid"))
      .withColumn("dist", col("_n.dist"))
      .drop("_n")
  }

  /** One full Lloyd iteration: assign + per-cluster mean (the reference's
    * map→sort→reduce round). Empty clusters keep their old centroid, as
    * the reference implicitly does (no pairs → centroid untouched).
    * Centroids are rounded to `roundTo` decimals so that iteration
    * results are bit-stable across engines/summation orders. */
  def step(points: DataFrame, centroids: Seq[Centroid], roundTo: Int = 6): Seq[Centroid] = {
    val moved = assign(points, centroids)
      .groupBy("cid")
      .agg(round(avg("x"), roundTo).as("nx"), round(avg("y"), roundTo).as("ny"))
      .collect()
      .map(r => r.getInt(0) -> Centroid(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toMap
    centroids.map(c => moved.getOrElse(c.cid, c)).sortBy(_.cid)
  }

  /** Deterministic init: the k lowest-id points (the reference samples k
    * input points with a seeded RNG, kmeans_with_mapreduce-cuda.cu:12-19;
    * we pick a seed-free but equally data-driven rule so the oracle can
    * reproduce it). */
  def initFirstK(points: DataFrame, k: Int): Seq[Centroid] =
    points.orderBy("id").limit(k).collect().toIndexedSeq.zipWithIndex.map { case (r, i) =>
      Centroid(i, r.getAs[Double]("x"), r.getAs[Double]("y"))
    }

  /** Full Lloyd's to convergence (max centroid movement < tol), bounded
    * iterations like the reference's ITERATIONS cap (config.cuh:11). */
  def fit(points: DataFrame, k: Int, maxIter: Int = 25, tol: Double = 1e-4): Seq[Centroid] =
    fitWithIters(points, k, maxIter, tol)._1

  /** [[fit]] plus the number of Lloyd iterations actually performed —
    * the convergent trajectory is deterministic (per-round HALF_UP
    * rounding, strict-< tie-break), so exposing the count lets an
    * oracle replay the SAME trajectory as a fixed chain of
    * assign+update stages (km_lloyd's hash gate, round 11). Each round
    * has [[step]]'s arithmetic and runs as one [[Lloyd]] job. */
  def fitWithIters(points: DataFrame, k: Int, maxIter: Int = 25,
      tol: Double = 1e-4): (Seq[Centroid], Int) =
    lloyd(points, initFirstK(points, k), maxIter, Some(tol), integer = false)

  private def lloyd(points: DataFrame, init: Seq[Centroid], maxIter: Int,
      tol: Option[Double], integer: Boolean): (Seq[Centroid], Int) = {
    val sorted = init.sortBy(_.cid)
    val (cs, iters) = Lloyd.fit(points, array(col("x"), col("y")),
      sorted.map(c => Array(c.x, c.y)).toArray, maxIter, tol,
      Lloyd.Arith(decomposed = false, integer))
    (sorted.zip(cs).map { case (c, v) => Centroid(c.cid, v(0), v(1)) }, iters)
  }

  /** WSSSE: sum of squared distance to the nearest centroid. */
  def cost(points: DataFrame, centroids: Seq[Centroid]): DataFrame =
    assign(points, centroids).agg(round(sum("dist"), 4).as("wssse"))

  // ---- reference-faithful integer mode ------------------------------

  /** One iteration with the reference's exact arithmetic: integer
    * coordinates, per-cluster integer sums, truncating-division means
    * (kmeans_mapreduce_core.cu:54-69 `new_centroid.x /= len`). Distance
    * comparison in double is exact here — Birch coords ≤ ~1e6, so
    * squared distances stay below 2^53. Empty clusters keep their
    * centroid, as in the reference (no pairs → untouched). */
  def stepInt(points: DataFrame, centroids: Seq[Centroid]): Seq[Centroid] = {
    val moved = assign(points, centroids)
      .groupBy("cid")
      .agg(expr("sum(CAST(x AS BIGINT)) div count(1)").as("nx"),
        expr("sum(CAST(y AS BIGINT)) div count(1)").as("ny"))
      .collect()
      .map(r => r.getInt(0) -> Centroid(r.getInt(0),
        r.getLong(1).toDouble, r.getLong(2).toDouble))
      .toMap
    centroids.map(c => moved.getOrElse(c.cid, c)).sortBy(_.cid)
  }

  /** The reference's full pipeline shape: fixed iteration count
    * (config.cuh ITERATIONS), integer means, deterministic init. */
  def fitReference(points: DataFrame, k: Int, iterations: Int): Seq[Centroid] =
    fitReferenceFrom(points, initFirstK(points, k), iterations)

  /** [[fitReference]] from an EXPLICIT init (the CLI's seeded draw,
    * kmeans_with_mapreduce-cuda.cu:75): [[stepInt]]'s arithmetic, one
    * [[Lloyd]] job per round, with the cycle early-exit of
    * [[Lloyd.fit]] — the result is IDENTICAL to running the
    * reference's full fixed count, at a fraction of the rounds. */
  def fitReferenceFrom(points: DataFrame, init: Seq[Centroid],
      iterations: Int): Seq[Centroid] =
    lloyd(points, init, iterations, None, integer = true)._1
}
