package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Executor CPU and cached/checkpointed block storage: the only listener
  * totals an end-to-end run keeps. */
final class CostListener extends SparkListener {
  private var cpuNs = 0L
  private val blocks = mutable.HashMap[BlockId, Long]()
  private var held = 0L
  private var peak = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) cpuNs += e.taskMetrics.executorCpuTime
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      held += now - blocks.getOrElse(b.blockId, 0L)
      if (now == 0L) blocks.remove(b.blockId) else blocks(b.blockId) = now
      peak = math.max(peak, held)
    }
  }

  // unpersisting removes an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.asRDDId.exists(_.rddId == e.rddId)).toList
    gone.foreach(b => held -= blocks.remove(b).get)
  }

  def cpuSeconds: Double = synchronized(cpuNs / 1e9)

  /** Opens a new peak window at the storage held now. */
  def resetPeak(): Unit = synchronized { peak = held }

  def peakMb: Double = synchronized(peak / 1048576.0)
}

/** Job, stage, task, shuffle, spill and output counters for a traced
  * run. `busyMs` is the time at least one job was running, from the
  * scheduler's own event timestamps. */
final class LayerListener extends SparkListener {
  private var jobs, stages, tasks, gcMs, shRead, shWrite, spill, output = 0L
  private var busyMs = 0L
  private var active = 0
  private var since = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (active == 0) since = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyMs += e.time - since
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      gcMs += m.jvmGCTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      output += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Map[String, Double] = synchronized(Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "gc_s" -> gcMs / 1e3,
    "shuffle_read_bytes" -> shRead.toDouble,
    "shuffle_write_bytes" -> shWrite.toDouble,
    "spill_bytes" -> spill.toDouble, "output_bytes" -> output.toDouble,
    "busy_s" -> busyMs / 1e3,
    "planning_s" -> PlanningListener.planningMs.get / 1e3))
}

/** Sums the analysis, optimization and planning phases of every SQL
  * execution. Registered through `spark.sql.queryExecutionListeners`, so
  * every session gets one, including the clones the kernels make; all
  * instances add into the same total. */
final class PlanningListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanningListener.add(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanningListener.add(qe)
}

object PlanningListener {
  val planningMs = new AtomicLong()
  private val phases = Set("analysis", "optimization", "planning")

  private def add(qe: QueryExecution): Unit =
    planningMs.addAndGet(qe.tracker.phases.collect {
      case (name, p) if phases(name) => p.durationMs
    }.sum)
}
