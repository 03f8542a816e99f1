package dlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Block-manager storage held by RDD blocks (checkpoints, persisted
  * statics, cached inputs), from public listener events. A block is
  * added or resized by `onBlockUpdated` and dropped by an update to an
  * invalid level or by `onUnpersistRDD`, which `unpersist` posts at once
  * even when the block removal itself runs later. */
final class StorageProbe extends SparkListener {
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var bytes = 0L
  private var peak = 0L
  private var written = 0L
  private var writtenBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        val before = blocks.remove(id)
        bytes -= before.getOrElse(0L)
        if (e.blockUpdatedInfo.storageLevel.isValid) {
          blocks(id) = size
          bytes += size
          if (before.isEmpty) { written += 1; writtenBytes += size }
        }
        peak = math.max(peak, bytes)
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.rddId == e.rddId).toList.foreach(id => bytes -= blocks.remove(id).get)
  }

  def snapshot: StorageProbe.Snapshot = synchronized(StorageProbe.Snapshot(blocks.size, written, writtenBytes))
  /** Restart the peak from the current level; returns that level. */
  def resetPeak(): Long = synchronized { peak = bytes; bytes }
  def peakBytes: Long = synchronized(peak)
}

object StorageProbe {
  final case class Snapshot(liveBlocks: Int, blocksWritten: Long, bytesWritten: Long)
}

/** Scheduler work from `SparkListener` events: job intervals, stages,
  * tasks, busy and CPU time, shuffle bytes. Jobs of the benchmark's own
  * sync marker are left out. */
final class ExecProbe extends SparkListener {
  final case class Totals(jobs: Int, stages: Int, tasks: Long, failedTasks: Long,
      busyMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long)

  private val ignoredStages = mutable.HashSet.empty[Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var t = Totals(0, 0, 0, 0, 0, 0, 0, 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Sync.isMarker(e)) ignoredStages ++= e.stageIds
    else jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      intervals += ((s, e.time))
      t = t.copy(jobs = t.jobs + 1)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (!ignoredStages(info.stageId)) {
      val m = info.taskMetrics
      t = t.copy(stages = t.stages + 1,
        shuffleWrite = t.shuffleWrite + (if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten),
        shuffleRead = t.shuffleRead + (if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!ignoredStages(e.stageId)) {
      val m = e.taskMetrics
      t = t.copy(tasks = t.tasks + 1,
        failedTasks = t.failedTasks + (if (e.taskInfo.successful) 0 else 1),
        busyMs = t.busyMs + (if (m == null) 0 else m.executorRunTime),
        cpuNs = t.cpuNs + (if (m == null) 0 else m.executorCpuTime))
    }
  }

  def totals: Totals = synchronized(t)

  /** Milliseconds of [from, to] that no job interval covers. */
  def uncoveredMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = from
    for ((s, e) <- clipped) {
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (to - from) - covered
  }
}

/** Catalyst work from `QueryExecutionListener`: one execution per
  * Dataset action the listener sees, and the analysis, optimisation and
  * planning phase times of its `QueryPlanningTracker`. */
final class CatalystProbe extends QueryExecutionListener {
  private var executions = 0L
  private var planningMs = 0L

  private def record(qe: QueryExecution): Unit = synchronized {
    executions += 1
    planningMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def totals: (Long, Long) = synchronized((executions, planningMs))
}

/** Waits until every listener event posted so far has been handled.
  * Spark delivers the events of `addSparkListener` listeners and of
  * `QueryExecutionListener`s in order on one queue, so once the end of a
  * marker job reaches this listener, every earlier event has been
  * handled too. The marker job runs in its own job group, which
  * `ExecProbe` leaves out. */
final class Sync(spark: SparkSession) extends SparkListener {
  @volatile private var seen = 0L
  private val markers = mutable.HashSet.empty[Int]
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Sync.isMarker(e)) markers.synchronized(markers += e.jobId)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markers.synchronized(markers.remove(e.jobId))) seen += 1

  def apply(): Unit = {
    val before = seen
    val sc = spark.sparkContext
    sc.setJobGroup(Sync.group, "listener sync")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (seen == before) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("listener events did not drain in 30 s")
      Thread.sleep(1)
    }
  }
}

object Sync {
  val group = "dlbench-sync"
  def isMarker(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)
}
