package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Columnar/row source+sink round-trips beyond the driver's parquet
  * tables (SURVEY.md §2 sources): JSONL and CSV with explicit schemas
  * (never inference on a 100 TB lake — one pass saved and no drift),
  * and hive-partitioned parquet layout for partition-pruned scans.
  */
object Sinks {

  /** Writes a DataFrame as JSON-lines, one file tree per call. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Schema-explicit JSONL read: no sampling pass, no type drift. */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV with header+escape settings that survive embedded delimiters. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(path)

  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true").option("escape", "\"")
      .csv(path)

  /** Hive-partitioned parquet: directory per partition-column value, so
    * partition-key predicates prune whole directories at planning time
    * (PartitionFilters in the scan — zero I/O for pruned values).
    *
    * The rows are first hash-partitioned by the column into
    * `defaultParallelism` tasks, so each value is written by one task as
    * one file, however many partitions `df` has; without it every input
    * partition writes its own file for every value it holds. Write
    * parallelism is then at most the number of distinct values, which
    * suits its callers: K-means clusters, nations, IVF cells. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(path)
}
