package graft

import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._
import graft.sources.Sinks

class SinksSpec extends SparkSpec {
  private val s = TestSession.spark
  import s.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("documents survive a JSONL round-trip with explicit schema") {
    val dir = tmp("graft_jsonl_")
    try {
      val docs = Tables.documents(spark, sfDir)
      Sinks.writeJsonl(docs, s"$dir/docs")
      val back = Sinks.readJsonl(spark, s"$dir/docs", docs.schema)
      assert(back.count() === docs.count())
      // value-level equality both directions
      assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    } finally rm(dir)
  }

  test("documents survive a CSV round-trip (quotes/newlines escaped)") {
    val dir = tmp("graft_csv_")
    try {
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "n_chars", "text")
      Sinks.writeCsv(docs, s"$dir/docs")
      val back = Sinks.readCsv(spark, s"$dir/docs", docs.schema)
      assert(back.count() === docs.count())
      assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    } finally rm(dir)
  }

  test("embeddings survive an ORC round-trip (arrays included)") {
    val dir = tmp("graft_orc_")
    try {
      val emb = Tables.embeddings(spark, sfDir)
      emb.write.mode("overwrite").orc(s"$dir/emb")
      val back = spark.read.orc(s"$dir/emb")
      assert(back.count() === emb.count())
      assert(back.exceptAll(emb).isEmpty && emb.exceptAll(back).isEmpty)
    } finally rm(dir)
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    // the 100 TB star-join shape: the fact table is partitioned on the
    // join key, the dim filter's matching keys are only known at
    // runtime — DPP turns the broadcast side into a partition filter
    // on the fact scan, so the job reads 1 partition, not all of them
    val dir = tmp("graft_dpp_")
    try {
      val cust = Tables.customer(spark, sfDir)
      Sinks.writePartitioned(cust, s"$dir/cust", "c_nationkey")
      val fact = spark.read.parquet(s"$dir/cust")
      val dim = Tables.nation(spark, sfDir).filter($"n_name" === "NATION_7")
      val j = fact.join(dim, $"c_nationkey" === $"n_nationkey")
        .select("c_custkey", "c_name", "n_name")
      val p = j.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("dynamicpruning"),
        s"the fact scan must carry a runtime pruning subquery, got:\n$p")
      val want = cust.join(Tables.nation(spark, sfDir)
          .filter($"n_name" === "NATION_7"),
        $"c_nationkey" === $"n_nationkey").count()
      assert(j.count() === want && want > 0)
    } finally rm(dir)
  }

  test("partitioned parquet prunes non-matching partitions at plan time") {
    val dir = tmp("graft_part_")
    try {
      val docs = Tables.documents(spark, sfDir)
      Sinks.writePartitioned(docs, s"$dir/docs", "lang")
      val scan = spark.read.parquet(s"$dir/docs").filter($"lang" === "en")
      val p = scan.queryExecution.explainString(SimpleMode)
      assert(p.contains("PartitionFilters") && p.contains("lang"),
        "lang predicate must prune directories, not filter rows")
      val want = docs.filter($"lang" === "en").count()
      assert(scan.count() === want)
    } finally rm(dir)
  }

  test("writePartitioned writes one parquet file per value of a multi-partition frame") {
    val dir = tmp("graft_onefile_")
    try {
      val df = spark.range(0, 2000, 1, 8).select($"id", ($"id" % 5).cast("int").as("part"))
      assert(df.rdd.getNumPartitions === 8)
      Sinks.writePartitioned(df, s"$dir/out", "part")
      val files = new java.io.File(s"$dir/out").listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .sorted.toSeq
      assert(files === (0 until 5).map(v => s"part=$v" -> 1))
      val back = spark.read.parquet(s"$dir/out").select("id", "part")
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    } finally rm(dir)
  }
}
