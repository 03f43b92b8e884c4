package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-job profiler for a single query key: runs
  * `SparkEntry.queries(key)` twice and prints every job over 300 ms
  * with its stage/task shape — the tool that localized q_mst's cost to
  * AQE-off task floors rather than job count. Each pass also prints its
  * Janino compile count and compile time. Pass 1 pays JIT warmup and
  * compiles the key's generated classes; pass 2 should compile none
  * (q_mst may still compile a few), since the builder's codegen cache
  * holds a whole repetition and `SessionScope` clones share one
  * classloader — a non-zero pass 2 means one of the two broke. Usage:
  * {{{ sbt "runMain graft.Prof q_mst /root/testdata/sf0.1" }}} */
object Prof {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse("q_mst")
    val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.registerFunctions(spark)
    spark.sparkContext.setLogLevel("WARN")
    val starts = collection.concurrent.TrieMap.empty[Int, Long]
    val descs = collection.concurrent.TrieMap.empty[Int, String]
    val sites = collection.concurrent.TrieMap.empty[Int, String]
    val execDescs = collection.concurrent.TrieMap.empty[String, String]
    // TrieMap like the neighbors: onJobEnd fires on the listener-bus
    // thread while the main thread clears/reads (r18 ADVICE)
    val hist = collection.concurrent.TrieMap.empty[String, (Int, Long)]
    var jobs = 0
    var jobMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        starts(j.jobId) = System.nanoTime()
        val all = j.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
        val names = all.take(3).mkString(" | ")
        descs(j.jobId) = (s"[${j.stageInfos.size} stages, " +
          s"${j.stageInfos.map(_.numTasks).sum} tasks] $names").take(160)
        // most specific repo call-site for the histogram
        sites(j.jobId) = all.find(_.matches(".*at (graft|.*Pack|.*\\.scala).*"))
          .orElse(all.headOption).getOrElse("?")
        if (sys.env.contains("PROF_TRACE") &&
            sites(j.jobId).contains("CompletableFuture")) {
          val eid = Option(j.properties)
            .map(_.getProperty("spark.sql.execution.id")).getOrElse("?")
          val root = Option(j.properties)
            .map(_.getProperty("spark.sql.execution.root.id")).getOrElse("?")
          println(s"  TRACE job ${j.jobId}: execId=$eid root=$root " +
            execDescs.getOrElse(eid, ""))
        }
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDescs(s.executionId.toString) =
            s.description.takeWhile(_ != '\n').take(120)
        case _ => ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobs += 1
        val dt = (System.nanoTime() -
          starts.getOrElse(j.jobId, System.nanoTime())) / 1000000
        jobMs += dt
        val site = sites.getOrElse(j.jobId, "?")
        hist.updateWith(site) { case Some((n, ms)) => Some((n + 1, ms + dt))
                                case None => Some((1, dt)) }
        if (dt > sys.env.get("PROF_ALL").fold(300L)(_ => -1L))
          println(s"  JOB ${j.jobId}: $dt ms :: ${descs.getOrElse(j.jobId, "?")}")
      }
    })
    // warm the parquet-footer / codegen paths like Bench does
    SparkEntry.queries("q1_agg")(spark, d).count()
    for (pass <- 1 to 2) {
      jobs = 0; jobMs = 0; hist.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, d).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus so trailing onJobEnd events land
      // before the histogram is read/cleared (r18 ADVICE)
      Thread.sleep(500)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      println(f"PASS $pass ($key): $dt%.2f s, $jobs jobs, ${jobMs / 1000.0}%.2f s in jobs, " +
        f"$compiles compiles, $compileS%.2f s compiling")
      if (pass == 2) hist.toSeq.sortBy(-_._2._2).take(15).foreach {
        case (site, (n, ms)) => println(f"  SITE $n%4d jobs ${ms / 1000.0}%7.2f s  $site")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
