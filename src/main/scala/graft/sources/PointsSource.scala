package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader for the reference's input format: whitespace-delimited `x y`
  * integer pairs, one point per line (kmeans_with_mapreduce-cuda.cu:51-70,
  * Birch benchmark files). Distributed text scan — no driver-side
  * parsing; malformed lines are dropped, matching the reference's
  * best-effort stream extraction, and so are lines whose x or y is not
  * finite (`NaN`, `Infinity`), which no centroid can be nearest to. */
object PointsSource {

  val schema: StructType = StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType)))

  /** Splits the input into `defaultParallelism` byte ranges, so the scan
    * and everything that inherits its partitioning run on every core.
    * (Hadoop's split rule may add one range for a file of under about
    * 10·p² bytes, and cuts a file larger than p blocks at its blocks.)
    * The SQL text scan would read a Birch-sized file as one partition:
    * it is below the 4 MB `openCostInBytes` floor. `id` ascends in file
    * order within and across partitions but is not contiguous: it is
    * `monotonically_increasing_id`, with the partition index in its
    * upper bits. */
  def readPoints(spark: SparkSession, path: String): DataFrame =
    spark.createDataset(spark.sparkContext.textFile(path,
        spark.sparkContext.defaultParallelism))(Encoders.STRING)
      .select(split(trim(col("value")), "\\s+").as("parts"))
      .select(
        expr("try_cast(element_at(parts, 1) AS DOUBLE)").as("x"),
        expr("try_cast(element_at(parts, 2) AS DOUBLE)").as("y"))
      // Spark orders NaN above +∞, so `< ∞` also drops NaN and null
      .filter(abs(col("x")) < Double.PositiveInfinity &&
        abs(col("y")) < Double.PositiveInfinity)
      .withColumn("id", monotonically_increasing_id())
      .select("id", "x", "y")
}
