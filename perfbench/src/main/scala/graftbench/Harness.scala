package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import graft.{GraftSession, SparkEntry}
import graft.operators.{KMeansDF, ReferenceRng}
import graft.sources.{PointsSource, Sinks}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run in one JVM: build the session, run one untimed
  * warm-up repetition of the workload, then timed repetitions for about
  * `--seconds`, and write `result.json` (per-repetition totals plus the
  * last repetition's outputs, which run.py checks) to `--work`.
  *
  * With `--trace 1` every layer call is wrapped in a span that drains the
  * listener bus at both ends and records the counters' deltas; the spans
  * are written to `trace.json` when the run ends.
  *
  * Usage: Harness --workload W --seed S --seconds T --trace 0|1
  *   --work DIR --min-reps R --stop-by EPOCH_MS [--n N --k K --iters I]
  *   [--keys K1,K2 --tables DIR]
  */
object Harness {

  final case class Span(name: String, rep: Int, startNs: Long, endNs: Long,
      counters: Map[String, Double], attrs: Map[String, Double])

  /** Wraps layer calls. Untraced, and in the warm-up (`rep` 0), `apply`
    * only runs the body. */
  final class Tracer(spark: SparkSession, cost: CostListener,
      layers: Option[LayerListener], t0: Long) {
    val spans = ArrayBuffer[Span]()
    var rep = 0

    private def counters(): Map[String, Double] = {
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      layers.get.snapshot() + ("exec_cpu_s" -> cost.cpuSeconds)
    }

    def traced: Boolean = layers.isDefined

    /** Attaches attributes to the span that ended last. */
    def note(attrs: => Map[String, Double]): Unit =
      if (traced && rep > 0) spans(spans.size - 1) = spans.last.copy(attrs = attrs)

    def apply[T](name: String)(body: => T): T =
      if (!traced || rep == 0) body
      else {
        val before = counters()
        cost.resetPeak()
        val s = System.nanoTime()
        val out = body
        val e = System.nanoTime()
        val after = counters()
        val delta = after.map { case (k, v) => k -> (v - before(k)) } +
          ("storage_peak_mb" -> cost.peakMb)
        spans += Span(name, rep, s - t0, e - t0, delta, Map.empty)
        out
      }
  }

  /** A workload: one repetition attempts each of `ops` once, in order.
    * `run` keeps the outputs of the last run of each operation for
    * `outputs`. */
  trait Workload {
    def ops: Seq[String]
    def run(spark: SparkSession, span: Tracer, op: String): Unit
    def outputs(spark: SparkSession): Map[String, Any]

    /** Each operation's error, if it failed. Blocks an operation leaves
      * cached or checkpointed are freed before the next one starts. */
    def rep(spark: SparkSession, span: Tracer): Seq[Option[String]] =
      ops.map { op =>
        val error = attempt(run(spark, span, op))
        freeBlocks(spark)
        error
      }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val minReps = opts("min-reps").toInt
    // epoch ms: no repetition starts that would end after it, whatever
    // --min-reps says, so that a run on a slowed-down host still ends
    val stopBy = opts("stop-by").toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    val builder = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced)
      builder.config("spark.sql.queryExecutionListeners",
        classOf[PlanningListener].getName)
    val spark = builder.getOrCreate()
    try {
      GraftSession.registerFunctions(spark)
      spark.sparkContext.setLogLevel("ERROR")
      val cost = new CostListener
      spark.sparkContext.addSparkListener(cost)
      val layers = if (traced) Some(new LayerListener) else None
      layers.foreach(spark.sparkContext.addSparkListener)
      val wl: Workload = opts("workload") match {
        case "kmeans_ref" => new KMeansRef(work, opts("n").toInt,
          opts("k").toInt, opts("iters").toInt, opts("seed").toLong)
        case "graph_loops" => new GraphLoops(work, opts("tables"),
          opts("keys").split(",").toSeq)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val t0 = System.nanoTime()
      val span = new Tracer(spark, cost, layers, t0)

      // warm-up: loads classes, JIT-compiles, fills the codegen caches
      val warmErrors = wl.rep(spark, span).flatten
      val setupEndMs = System.currentTimeMillis()

      final case class Rep(wall: Double, cpu: Double, peakMb: Double)
      val reps = ArrayBuffer[Rep]()
      var failed = 0
      val errors = ArrayBuffer[String]() ++= warmErrors
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      do {
        span.rep += 1
        org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
        val cpu0 = cost.cpuSeconds
        cost.resetPeak()
        val r0 = System.nanoTime()
        val res = wl.rep(spark, span)
        val wall = (System.nanoTime() - r0) / 1e9
        org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
        val peak =
          if (traced) span.spans.filter(_.rep == span.rep)
            .map(_.counters("storage_peak_mb")).foldLeft(0.0)(math.max)
          else cost.peakMb
        reps += Rep(wall, cost.cpuSeconds - cpu0, peak)
        failed += res.count(_.isDefined)
        errors ++= res.flatten
      } while ((reps.size < minReps || elapsed + reps.last.wall <= seconds) &&
        System.currentTimeMillis() + 1000 * reps.last.wall < stopBy)

      val result = Map(
        "setup_end_ms" -> setupEndMs,
        "attempted" -> reps.size * wl.ops.size,
        "failed" -> failed,
        "errors" -> errors.distinct.toSeq,
        "reps" -> reps.map(r => Map(
          "wall_s" -> r.wall, "exec_cpu_s" -> r.cpu,
          "peak_storage_mb" -> r.peakMb)).toSeq,
        "outputs" -> wl.outputs(spark))
      def write(file: String, v: AnyRef): Unit = Files.writeString(
        Paths.get(s"$work/$file"), Serialization.write(v)(DefaultFormats))
      write("result.json", result)
      if (traced) write("trace.json", span.spans.toSeq)
    } finally spark.stop()
  }

  /** The paper's loop: text ingest, the reference's seeded init, integer
    * Lloyd rounds with cycle resolution, WSSSE and cluster sizes, then the
    * per-point assignment written partitioned by cluster. */
  final class KMeansRef(work: String, n: Int, k: Int, iters: Int, seed: Long)
      extends Workload {
    val ops = Seq("kmeans_ref")
    private var last = Map.empty[String, Any]

    def run(spark: SparkSession, span: Tracer, op: String): Unit = {
      val points = span("ingest") {
        val p = PointsSource.readPoints(spark, s"$work/points.txt").cache()
        p.count()
        p
      }
      val init = span("init")(ReferenceRng.seededInit(points, k, n, seed))
      val cs = span("fit")(KMeansDF.fitReferenceFrom(points, init, iters))
      val (wssse, sizes) = span("cost") {
        val w = KMeansDF.cost(points, cs).head().getDouble(0)
        val s = KMeansDF.assign(points, cs).groupBy("cid").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        (w, s)
      }
      val out = s"$work/out/assign"
      span("write")(Sinks.writePartitioned(
        KMeansDF.assign(points, cs).select("id", "x", "y", "cid"), out, "cid"))
      last = Map(
        "init" -> init.map(c => Seq(c.x, c.y)),
        "centroids" -> cs.map(c => Seq(c.x, c.y)),
        "sizes" -> cs.map(c => sizes.getOrElse(c.cid, 0L)),
        "wssse" -> wssse, "assign_dir" -> out)
    }

    def outputs(spark: SparkSession): Map[String, Any] = last
  }

  /** Graph loop kernels (`ops` names `q_<op>` query keys), each built
    * and collected through the query registry on the tables in `tables`. */
  final class GraphLoops(work: String, tables: String, val ops: Seq[String])
      extends Workload {
    private val last = scala.collection.mutable.Map[String, (Array[Row], DataFrame)]()

    def run(spark: SparkSession, span: Tracer, key: String): Unit = {
      val df = span(s"$key.build")(
        SparkEntry.queries(s"q_$key")(spark, tables))
      val rows = span(s"$key.action")(df.collect())
      span.note(planShape(df.queryExecution.executedPlan))
      last(key) = (rows, df)
    }

    def outputs(spark: SparkSession): Map[String, Any] =
      last.map { case (key, (rows, df)) =>
        val dir = s"$work/out/$key"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        key -> Map("dir" -> dir, "oracle" -> SparkEntry.oracleSql(s"q_$key"))
      }.toMap
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Node and exchange counts of an executed plan, through AQE's stages. */
  def planShape(plan: SparkPlan): Map[String, Double] = Map(
    "plan_nodes" -> PlanWalk.collect(plan) { case p => p }.size.toDouble,
    "exchanges" -> PlanWalk.collect(plan) { case e: Exchange => e }.size.toDouble)

  def freeBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  private def attempt(body: => Unit): Option[String] =
    try { body; None } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e")
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
}
