package graft.operators

import org.apache.spark.sql.SparkSession

/** Structural scoping for the AQE-off layout-capture discipline.
  *
  * The iterative graph/linkage loops park co-partitioned layouts by
  * checkpointing with AQE disabled (an AdaptiveSparkPlanExec reports
  * unknown partitioning at checkpoint time, so captures must run
  * static — ScaleOpsSpec proves capture + AQE-consumer reuse). Until
  * round 14 each loop toggled the SHARED session conf around its body
  * and restored it in a finally — correct sequentially, but a second
  * query planned concurrently on the same session could capture a
  * checkpoint with AQE re-enabled (losing its layout) or briefly lose
  * AQE on an unrelated plan.
  *
  * `withAqeOff` scopes the discipline structurally: the body runs
  * against a CLONED session (`newSession()` — same SparkContext,
  * same block manager and cache, PRIVATE SQLConf) with AQE off, so
  * nothing global ever mutates. Frames the body builds stay bound to
  * the clone, which also pins the discipline through the caller's
  * later actions on the returned frame. Function/temp-view registries
  * are per-session — bodies must build inputs from tables/paths and
  * Column expressions (every pack query does), not from the shared
  * session's registered names.
  *
  * Every clone turns artifact isolation OFF before its first use.
  * Spark keys its generated-code cache by (thread context classloader,
  * code), and an isolated session runs its tasks under a classloader of
  * its own, so with isolation on each clone — one per kernel call —
  * recompiled all of its generated classes even when the code was
  * byte-identical to the previous call's (q_mst ~170, q_kcore 74,
  * q_betweenness 93 Janino compiles per call). Non-isolated clones all
  * run on the default classloader and share one cache entry per class,
  * so a kernel's second call compiles nothing. What this gives up: a
  * clone cannot see artifacts (jars, files) added to an isolated
  * parent session; graft adds none. The parent's own isolation is left
  * as it was, and each clone still has its private SQLConf. */
object SessionScope {
  def withAqeOff[T](s: SparkSession)(body: SparkSession => T): T = {
    val s2 = fresh(s)
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    body(s2)
  }

  /** A plain private clone — for loops that tune OTHER session-scoped
    * knobs (q_mst drops shuffle partitions to quarter parallelism for
    * its node-sized rounds) without touching the shared conf. */
  def cloned[T](s: SparkSession)(body: SparkSession => T): T =
    body(fresh(s))

  /** [[withAqeOff]] + quarter-parallelism shuffles on the clone — the
    * task-floor lever for AQE-off iterative loops whose shuffles carry
    * node-sized state or level slices (AQE would coalesce these tiny
    * exchanges at runtime; with capture forcing AQE off, the static
    * partition count must drop instead). Hash-neutral: partition count
    * never reaches any value. Measured round 16: q_betweenness 20.0 →
    * 12.4 s, q_hits 15.7 → 6.6 s warm at sf0.1/local[32]. */
  def withAqeOffQuarterNp[T](s: SparkSession)(body: SparkSession => T): T =
    withAqeOff(s) { s2 =>
      s2.conf.set("spark.sql.shuffle.partitions", math.max(1,
        s2.sparkContext.defaultParallelism / 4).toString)
      body(s2)
    }

  /** The one place a clone is made. The isolation flag is read once,
    * lazily, on the session's first execution, so it must be set here,
    * before the body runs anything. */
  private def fresh(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s2
  }
}
