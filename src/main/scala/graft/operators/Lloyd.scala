package graft.operators

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** The Lloyd round every K-means fit runs — the reference's
  * map→sort→reduce round (kmeans_mapreduce_core.cu:21-207) as one
  * `treeAggregate` job: broadcast the k×dim centroids, fold each
  * partition into k partial sums and counts, combine them, form the new
  * means on the driver. A DataFrame round would be re-analysed every
  * time because the centroid literals change; this loop carries no
  * Catalyst work (MLlib's KMeans has the same shape). The declarative
  * `step`s stay the reference the specs check it against. */
private[operators] object Lloyd {

  /** What each kernel's oracle fixes. `decomposed` measures
    * |x|² − 2x·c + |c|² (`NearestCentroidND`, DuckDB's
    * `list_dot_product`) instead of the direct Σ(x−c)², which for d = 2
    * is bit-identical to `NearestCentroid2D`. `integer` takes Long sums
    * of the truncated coordinates and a truncating division
    * (`stepInt`'s `sum(CAST(x AS BIGINT)) div count(1)`) instead of the
    * HALF_UP 6-dp mean of `step`. */
  final case class Arith(decomposed: Boolean, integer: Boolean)

  /** k partial counts and sums, cluster-major; `l` holds the integer
    * mode's exact Long sums, `d` the float mode's. */
  private final class Sums(k: Int, dim: Int, integer: Boolean) extends Serializable {
    val n = new Array[Long](k)
    val d = new Array[Double](if (integer) 0 else k * dim)
    val l = new Array[Long](if (integer) k * dim else 0)

    def add(c: Int, x: Array[Double]): Sums = {
      n(c) += 1
      var j = 0
      while (j < dim) {
        if (integer) l(c * dim + j) += x(j).toLong else d(c * dim + j) += x(j)
        j += 1
      }
      this
    }

    def merge(o: Sums): Sums = {
      n.indices.foreach(i => n(i) += o.n(i))
      d.indices.foreach(i => d(i) += o.d(i))
      l.indices.foreach(i => l(i) += o.l(i))
      this
    }

    def mean(c: Int): Array[Double] = Array.tabulate(dim) { j =>
      if (integer) (l(c * dim + j) / n(c)).toDouble
      else BigDecimal(d(c * dim + j) / n(c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Index of the nearest centroid, ties to the lowest (strict <), or −1
    * when none is strictly nearer than `Double.MaxValue` — `assign`'s
    * cid −1, so a NaN or infinite point is counted nowhere. */
  private def nearest(x: Array[Double], cs: Array[Array[Double]],
      norms: Array[Double]): Int = {
    val na = if (norms == null) 0.0 else KMeansND.norm2(x)
    var best = Double.MaxValue
    var bi = -1
    var c = 0
    while (c < cs.length) {
      val v = cs(c)
      var d = 0.0
      var j = 0
      if (norms == null) {
        while (j < x.length) { val e = x(j) - v(j); d += e * e; j += 1 }
      } else {
        while (j < x.length) { d += x(j) * v(j); j += 1 }
        d = (na - 2 * d) + norms(c)
      }
      if (d < best) { best = d; bi = c }
      c += 1
    }
    bi
  }

  /** One round from `cs`; a centroid with no members keeps its value, as
    * in the reference (no pairs → untouched). */
  private def round(rdd: RDD[Array[Double]], cs: Array[Array[Double]],
      a: Arith): Array[Array[Double]] = {
    val k = cs.length
    val dim = if (k == 0) 0 else cs(0).length
    require(cs.forall(_.length == dim),
      s"ragged centroid dims: ${cs.map(_.length).distinct.mkString(",")}")
    val bc = rdd.sparkContext.broadcast(
      (cs, if (a.decomposed) cs.map(KMeansND.norm2) else null))
    try {
      val sums = rdd.treeAggregate(new Sums(k, dim, a.integer))(
        seqOp = (s, x) => {
          // a ragged corpus must fail fast, not yield a silently-partial
          // distance or mis-sized sums
          require(k == 0 || x.length == dim,
            s"vector dim ${x.length} != centroid dim $dim")
          val (c, norms) = bc.value
          val bi = nearest(x, c, norms)
          if (bi >= 0) s.add(bi, x) else s
        },
        combOp = (s, t) => s.merge(t))
      Array.tabulate(k)(c => if (sums.n(c) == 0) cs(c) else sums.mean(c))
    } finally bc.destroy()
  }

  /** Lloyd rounds over `points`' coordinate vectors `vec` (a numeric
    * array column), from `init`, for at most `maxIter` rounds. Returns
    * the centroids and the rounds run.
    *
    * With `tol`, stops once no coordinate moved by `tol` or more.
    * Without, stops when the trajectory revisits a state: a round is
    * deterministic, so from there it is periodic — usually a fixpoint,
    * occasionally a short limit cycle (integer means can oscillate
    * between two partitions) — and the state round `maxIter` would reach
    * is read off the cycle, identical to running every round.
    *
    * The caller owns its frame's cache: a cached `points` is read through
    * it every round and never persisted or unpersisted here; an uncached
    * one gets a coordinate RDD pinned for the fit's duration. */
  def fit(points: DataFrame, vec: Column, init: Array[Array[Double]],
      maxIter: Int, tol: Option[Double], a: Arith): (Array[Array[Double]], Int) = {
    val rdd = points.select(vec.cast("array<double>")).queryExecution.toRdd.map { r =>
      val v = r.getArray(0) // a null coordinate reads as NaN, nearest to no centroid
      Array.tabulate(v.numElements())(j => if (v.isNullAt(j)) Double.NaN else v.getDouble(j))
    }
    val owned = points.storageLevel == StorageLevel.NONE
    if (owned) rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seen = mutable.HashMap[Seq[Seq[Double]], Int]()
      val trail = mutable.ArrayBuffer[Array[Array[Double]]]()
      var cs = init
      var i = 0
      var moved = Double.MaxValue
      while (i < maxIter && tol.forall(moved >= _)) {
        if (tol.isEmpty) {
          val state = cs.toSeq.map(_.toSeq)
          seen.get(state) match {
            case Some(j) => return (trail(j + (maxIter - i) % (i - j)), i)
            case None => seen(state) = i; trail += cs
          }
        }
        val next = round(rdd, cs, a)
        moved = cs.zip(next).flatMap { case (p, q) =>
          p.zip(q).map { case (u, v) => math.abs(u - v) } }.foldLeft(0.0)(math.max)
        cs = next
        i += 1
      }
      (cs, i)
    } finally if (owned) rdd.unpersist(blocking = false)
  }
}
