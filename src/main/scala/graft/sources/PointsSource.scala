package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  def readPoints(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
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
