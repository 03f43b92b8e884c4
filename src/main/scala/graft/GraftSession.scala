package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.ExprBridge
import graft.functions.{CosineSimilarity, MinHashBands, NGramHashSet, SimHash64, SortedIntersectSize, SortedLongIntersectSize}

/** Session bootstrap + SQL surface for the graft engine.
  *
  * `builder()` applies the recommended config (shuffle partitions sized
  * to cores — AQE coalesces upward at cluster scale; UTC timestamps).
  * It also sizes Spark's generated-code cache to 1000 classes (default
  * 100). One perfbench `graph_loops` repetition — q_mst, q_kcore and
  * q_betweenness — uses about 330 distinct generated classes
  * (~170 + 74 + 93). The cache is four LRU segments of a quarter of
  * its size each, so at 100 the cyclic access pattern evicted every
  * class before its reuse, and even q_kcore's 75 classes alone
  * overflowed a 25-entry segment in about one JVM of three. With
  * `operators.SessionScope`'s clones sharing one classloader, 1000
  * lets a kernel's second call compile nothing. It is a static conf,
  * read once when the JVM first generates code, so it takes effect only
  * through a session built here before any query ran.
  * `registerFunctions` exposes the native expressions to SQL so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works without the Scala
  * API. */
object GraftSession {

  def builder(master: String = "local[*]", cores: Int =
      Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // runtime Bloom semi-join pushdown: when a selective creation
      // side feeds a shuffle join, a bloom filter built from its join
      // keys prunes the probe-side scan before the exchange — the
      // standard mitigation for "scan 100 TB to semi-join a sliver".
      // Pinned explicitly (not left to the release default) because the
      // q_semi_anti scale plan depends on it.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** The cluster-deployment preset (1000-executor / 100 TB shape).
    * Local runs don't need these; a production submit applies them on
    * top of `builder()`:
    *   - AQE owns runtime parallelism: start shuffle partitions high
    *     (coalescing shrinks them per-stage; undersized partitions at
    *     100 TB mean multi-GB spills), let skew-join splitting handle
    *     hot keys the salting API doesn't cover.
    *   - Broadcast threshold raised to 64 MB: every §2 dim table and
    *     centroid/probe/query side fits, keeping the fact tables to
    *     at most one exchange per query.
    *   - Kryo + compressed shuffle/broadcast: the dedup packs ship
    *     long-array hash sets — binary-friendly, poorly served by
    *     Java serialization. */
  def clusterDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", "4000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L << 20).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // at cluster scale a 64 MB creation side is still worth a bloom
      // build if it saves a fact-table shuffle
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", (64L << 20).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.shuffle.compress", "true")
      .config("spark.broadcast.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")

  /** Registers graft's native expressions under SQL names. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_sim",
      es => CosineSimilarity(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_bands",
      es => MinHashBands(es.head, 128, 32), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      es => SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("sorted_intersect_size",
      es => SortedIntersectSize(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("ngram_hash_set",
      es => NGramHashSet(es(0),
        graft.functions.FunctionArgs.literalInt("ngram_hash_set", "n", es(1))),
      "scala_udf")
    reg.createOrReplaceTempFunction("sorted_long_intersect_size",
      es => SortedLongIntersectSize(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize",
      es => graft.functions.NormalizeNFC(es.head), "scala_udf")
  }
}
