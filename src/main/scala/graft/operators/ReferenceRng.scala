package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col

/** Arithmetic-exact port of the reference's centroid-init RNG
  * (random_num_generator.hpp:5-28): `std::default_random_engine`
  * (libstdc++'s minstd_rand0 — the Lehmer/"minimal standard" LCG,
  * x' = 16807·x mod (2³¹−1), Park & Miller, CACM 1988) drawn through
  * `std::uniform_int_distribution<int>(0, max)` (libstdc++'s
  * reject-and-downscale algorithm). Both algorithms are published —
  * the ISO C++ standard pins minstd_rand0's parameters, and the
  * downscale loop is the standard unbiased range-reduction — so the
  * port reproduces the reference's draw stream bit-exactly for any
  * seed (pinned against compiled libstdc++ vectors in
  * KMeansMainSpec).
  *
  * The reference seeds from the wall clock at process start
  * (random_num_generator.hpp:18), so its own runs are unreproducible;
  * the port takes the seed explicitly, which is what makes an exact
  * init-parity spec possible at all.
  */
final class ReferenceRng(seed: Long) {
  private val Mod = 2147483647L // 2^31 - 1
  private val Mult = 16807L
  // minstd_rand0 seeding: seed mod m, with 0 promoted to 1 (the LCG
  // has no zero state)
  private var state: Long = {
    val s = java.lang.Long.remainderUnsigned(seed, Mod)
    if (s == 0L) 1L else s
  }

  /** One raw engine draw in [1, 2^31-2]. */
  def nextRaw(): Long = {
    state = (state * Mult) % Mod
    state
  }

  /** `uniform_int_distribution<int>(0, max)` over this engine —
    * libstdc++'s downscale path (engine range ≫ target range):
    * scaling = floor(urngRange / range), reject draws ≥ range·scaling,
    * divide the rest. Unbiased, and bit-compatible with what the
    * reference's `distribution(generator)` returns. NOTE the
    * reference passes max = NUM_INPUT with an INCLUSIVE upper bound
    * (random_num_generator.hpp:18, config.cuh NUM_INPUT=10000), so
    * index NUM_INPUT itself can be drawn — an off-by-one that reads
    * one past the input array in the original. Callers clamp. */
  def nextInt(max: Int): Int = {
    val range = max.toLong + 1L
    val urngRange = Mod - 2L // max (2^31-2) - min (1)
    val scaling = urngRange / range
    val past = range * scaling
    var r = nextRaw() - 1L // shift to [0, urngRange]
    while (r >= past) r = nextRaw() - 1L
    (r / scaling).toInt
  }
}

object ReferenceRng {

  /** The reference's `initialize_centroids`
    * (kmeans_with_mapreduce-cuda.cu:12-19): k draws from
    * uniform_int(0, n) pick input points BY FILE POSITION as the
    * initial centroids, in draw order (slot i = centroid cid i). The
    * inclusive-bound draw n is clamped to n-1 (in the original it
    * reads past the array — unreproducible garbage). Duplicate draws
    * are kept, exactly as the reference does.
    *
    * `points` must hold its ids in ascending order within and across
    * its partitions, as `PointsSource.readPoints` and any frame sorted
    * by `id` do; a position is then a partition plus an offset in it.
    * Two jobs and no shuffle: the first returns each partition's count,
    * first id, last id and whether its ids ascend; the second reads the
    * drawn offsets from only the partitions they fall in. A frame out
    * of id order throws `IllegalArgumentException`. */
  def seededInit(points: DataFrame, k: Int, n: Int, seed: Long): Seq[KMeansDF.Centroid] = {
    val rng = new ReferenceRng(seed)
    val idx = Seq.fill(k)(math.min(rng.nextInt(n), n - 1).toLong)
    val rows = points.select(col("id"), col("x"), col("y")).queryExecution.toRdd
    val sc = points.sparkSession.sparkContext
    // (count, first id, last id, ascending) per partition
    val stats = sc.runJob(rows, (it: Iterator[InternalRow]) => {
      var count, first, last = 0L
      var ascending = true
      it.foreach { r =>
        val id = r.getLong(0)
        if (count == 0) first = id else if (id <= last) ascending = false
        last = id
        count += 1
      }
      (count, first, last, ascending)
    })
    val filled = stats.filter(_._1 > 0)
    require(filled.forall(_._4) &&
      filled.zip(filled.drop(1)).forall { case (a, b) => a._3 < b._2 },
      "seededInit reads positions as id ranks: its frame's partitions must " +
        "hold ascending ids in order; sort it by id first")
    val starts = stats.scanLeft(0L)(_ + _._1)
    require(idx.forall(_ < starts.last),
      s"seededInit draws positions below $n, but the frame holds ${starts.last} points")
    // the last partition starting at or before pos skips empty ones
    val at = idx.map { pos =>
      val p = starts.lastIndexWhere(_ <= pos, stats.length - 1)
      (p, pos - starts(p))
    }
    val wanted = at.groupMap(_._1)(_._2).map { case (p, offs) => p -> offs.toSet }
    val picked = sc.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) => {
      val offs = wanted(ctx.partitionId())
      it.take(offs.max.toInt + 1).zipWithIndex.collect {
        case (r, off) if offs.contains(off.toLong) =>
          (ctx.partitionId(), off.toLong) -> (r.getDouble(1), r.getDouble(2))
      }.toArray
    }, wanted.keys.toSeq.sorted).flatten.toMap
    at.zipWithIndex.map { case (slot, cid) =>
      val (x, y) = picked(slot)
      KMeansDF.Centroid(cid, x, y)
    }
  }
}
