package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{KMeansDF, ReferenceRng}
import graft.sources.PointsSource

/** Binary-parity CLI with the reference executable
  * (kmeans_with_mapreduce-cuda.cu:26-140): the drop-in entry point for
  * anyone invoking the reference as `./kmeans_with_mapreduce-cuda
  * <file.txt>` today.
  *
  * Same contract end to end:
  *   - one argument, a whitespace `x y` points file; anything else
  *     prints the reference's usage line and exits 1
  *     (kmeans_with_mapreduce-cuda.cu:27-30);
  *   - config.cuh defaults: first NUM_INPUT=10000 lines,
  *     NUM_OUTPUT=15 centroids, ITERATIONS=999 Lloyd rounds (the
  *     fixpoint early-exit returns the identical result — the integer
  *     step is deterministic), SAVE_TO_FILE semantics;
  *   - the reference's seeded-sample init (k uniform_int draws over
  *     file positions, `ReferenceRng` — bit-exact libstdc++
  *     minstd_rand0 + downscale). The seed is the wall clock, as in
  *     random_num_generator.hpp:18; `SPARK_GRAFT_SEED` pins it, an
  *     override the reference lacks (which is why its own recorded
  *     runs are unreproducible);
  *   - integer-mean iteration arithmetic
  *     (kmeans_mapreduce_core.cu:54-69 via `KMeansDF.fitReferenceFrom`,
  *     whose rounds `KMeansDF.stepInt` states declaratively);
  *   - the same output: one `Point: (x,y)` line per centroid to
  *     stdout AND to `<input>.output`
  *     (kmeans_with_mapreduce-cuda.cu:105-121), then the three
  *     load/compute/total wall-time lines.
  */
object KMeansMain {
  val NumInput = 10000
  val NumOutput = 15
  val Iterations = 999

  /** Fit and format — everything between the reference's file read and
    * its output loop. Returns the `Point: (x,y)` lines in centroid
    * slot order. Exposed separately so the spec can drive it without
    * process-level side effects. */
  def run(spark: SparkSession, fname: String, seed: Long): Seq[String] =
    fitFile(spark, fname, seed)
      .getOrElse(throw new IllegalArgumentException(s"no points parsed from $fname"))._1

  /** The first NumInput points, cached for the fit and unpersisted after
    * it, the seeded init and integer Lloyd from it. Also returns the
    * nanoTime at which loading and init ended, the reference's read_data /
    * runTask stopwatch split (cu:36, 76-80). None when no point parses. */
  private def fitFile(spark: SparkSession, fname: String,
      seed: Long): Option[(Seq[String], Long)] = {
    val points = PointsSource.readPoints(spark, fname)
      .orderBy("id").limit(NumInput).cache()
    try {
      val n = points.count().toInt
      Option.when(n > 0) {
        val init = ReferenceRng.seededInit(points, NumOutput, math.min(NumInput, n), seed)
        val loaded = System.nanoTime()
        // Point is integer-coordinate (config.cuh:17-19); integer means
        // keep it so — print as the reference's operator<< does
        (KMeansDF.fitReferenceFrom(points, init, Iterations)
          .map(c => s"Point: (${c.x.toLong},${c.y.toLong})"), loaded)
      }
    } finally points.unpersist(blocking = false)
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      // the reference's exact usage complaint (cu:28)
      println("input textfile *.txt")
      sys.exit(1)
    }
    val fname = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.registerFunctions(spark)
    spark.sparkContext.setLogLevel("WARN")
    // seed: env (CLI use) / system property (in-process spec use) /
    // the reference's clock seed (random_num_generator.hpp:18)
    val seed = sys.env.get("SPARK_GRAFT_SEED")
      .orElse(sys.props.get("spark.graft.seed")).map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    val t0 = System.nanoTime()
    val (lines, t1) = fitFile(spark, fname, seed).getOrElse {
      println("Failed to read file.")
      sys.exit(1)
    }
    lines.foreach(println)
    val outPath = java.nio.file.Paths.get(fname + ".output")
    java.nio.file.Files.write(outPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val t2 = System.nanoTime()
    println(s"Data loading and initialize: ${(t1 - t0) / 1000000} milliseconds")
    println(s"Time for map reduce KMeans: ${(t2 - t1) / 1000000} milliseconds")
    println(s"Total time: ${(t2 - t0) / 1000000} milliseconds")
    // the spec drives main() inside the shared test JVM, where the
    // session must outlive this call
    if (!sys.props.contains("spark.graft.test.keepSession")) spark.stop()
  }
}
