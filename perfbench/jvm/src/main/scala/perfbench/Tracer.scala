package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative per-layer counters from the benchmark's own Spark,
  * query-execution and streaming listeners, which count only while
  * attached. The client takes a [[snapshot]] at the start and end of each
  * traced block and reports the differences per request; block-manager
  * figures are levels, not totals.
  *
  *  - planning: the analysis, optimization and planning phases of each
  *    finished query execution (`QueryExecution.tracker`);
  *  - driver gaps: time between one job's end and the next job's start
  *    within the same SQL execution, when none of its jobs is running;
  *  - task metrics: executor CPU, JVM GC, shuffle write, memory and disk
  *    spill;
  *  - streaming: per micro-batch progress (`durationMs` phases, and the
  *    state stores' commit time);
  *  - blocks: bytes of cached and checkpointed RDD blocks (memory +
  *    disk) at the snapshot, and their peak since the previous snapshot.
  *    The level comes from `getRDDStorageInfo`; the peak adds the largest
  *    net growth that block-update events showed in between, so blocks
  *    that existed before the tracer was attached are counted too.
  */
final class Tracer(spark: SparkSession) {
  private var jobs, stages, executions = 0L
  private var planningMs, gcMs, executorCpuNs, shuffleWriteB, spillB = 0L
  private var driverGapMs = 0L
  private var batches, triggerMs, addBatchMs, queryPlanningMs = 0L
  private var walCommitMs, stateCommitMs = 0L
  // per SQL execution: running job count and the end time of its last job
  private val running = mutable.Map.empty[String, Int]
  private val lastEnd = mutable.Map.empty[String, Long]
  private val jobExecution = mutable.Map.empty[Int, String]
  private val blocks = mutable.Map.empty[(String, String), Long]
  // net block bytes added since attach; its maximum since the last
  // snapshot; and its value and the storage level at the last snapshot
  private var blockDelta, blockDeltaPeak, lastDelta = 0L
  private var lastLevel = -1L
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      jobs += 1
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).foreach { id =>
        jobExecution(e.jobId) = id
        if (running.getOrElse(id, 0) == 0)
          lastEnd.get(id).foreach(t => driverGapMs += math.max(0L, e.time - t))
        running(id) = running.getOrElse(id, 0) + 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobExecution.remove(e.jobId).foreach { id =>
        running(id) = running.getOrElse(id, 1) - 1
        lastEnd(id) = e.time
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock { stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      Option(e.taskMetrics).foreach { m =>
        gcMs += m.jvmGCTime
        executorCpuNs += m.executorCpuTime
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = (info.blockManagerId.executorId, info.blockId.name)
        val size =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockDelta += size - blocks.getOrElse(key, 0L)
        if (size == 0L) blocks.remove(key) else blocks(key) = size
        blockDeltaPeak = math.max(blockDeltaPeak, blockDelta)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = lock {
      executions += 1
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = lock {
      executions += 1
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = lock {
      val d = e.progress.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.withDefaultValue(0L)
      batches += 1
      triggerMs += d("triggerExecution")
      addBatchMs += d("addBatch")
      queryPlanningMs += d("queryPlanning")
      // the offset log entry written before a batch, and the commit log
      // entry after it
      walCommitMs += d("walCommit") + d("commitOffsets")
      stateCommitMs += e.progress.stateOperators.map(_.commitTimeMs).sum
    }
  }

  private def lock[T](body: => T): T = synchronized(body)

  /** Start counting. Block tracking restarts: the next snapshot's level
    * is the baseline its peak grows from. */
  def attach(): Unit = lock {
    if (!attached) {
      blocks.clear()
      blockDelta = 0L; blockDeltaPeak = 0L; lastDelta = 0L; lastLevel = -1L
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
      attached = true
    }
  }

  def detach(): Unit = lock {
    if (attached) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
      attached = false
    }
  }

  def snapshot(): Map[String, Double] = lock {
    val mb = 1024.0 * 1024.0
    val level = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    val peak =
      if (lastLevel < 0) level
      else math.max(level, lastLevel + blockDeltaPeak - lastDelta)
    val out = Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.executions" -> executions.toDouble,
      "spark.planning_s" -> planningMs / 1e3,
      "spark.driver_gap_s" -> driverGapMs / 1e3,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.executor_cpu_s" -> executorCpuNs / 1e9,
      "spark.shuffle_write_mb" -> shuffleWriteB / mb,
      "spark.spill_mb" -> spillB / mb,
      "spark.blocks_mb" -> level / mb,
      "spark.blocks_peak_mb" -> peak / mb,
      "streaming.batches" -> batches.toDouble,
      "streaming.trigger_s" -> triggerMs / 1e3,
      "streaming.add_batch_s" -> addBatchMs / 1e3,
      "streaming.query_planning_s" -> queryPlanningMs / 1e3,
      "streaming.wal_commit_s" -> walCommitMs / 1e3,
      "streaming.state_commit_s" -> stateCommitMs / 1e3)
    lastLevel = level
    lastDelta = blockDelta
    blockDeltaPeak = blockDelta
    out
  }
}
