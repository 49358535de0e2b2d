package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters for the traced run, fed by three listeners attached from
  * the benchmark (nothing inside the library is instrumented):
  *  - a `SparkListener` for the scheduler, executor, shuffle and cut
  *    (persist / cache / localCheckpoint block) layers;
  *  - a `QueryExecutionListener` for the Catalyst phase times;
  *  - a `StreamingQueryListener` for micro-batch progress.
  *
  * Counters only grow; callers take [[snapshot]]s at layer boundaries
  * after [[drain]], and subtract. */
final class Trace(spark: SparkSession) {
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val stored = mutable.HashMap[String, Long]()
  private var storedNow = 0L
  private var storedPeak = 0L
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  private def add(k: String, v: Double): Unit = synchronized { c(k) = c(k) + v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("scheduler.jobs", 1)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("scheduler.stages", 1)
      add("scheduler.tasks", e.stageInfo.numTasks)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add("executor.task_run_s", m.executorRunTime / 1e3)
        add("executor.task_cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        val size = info.memSize + info.diskSize
        if (info.storageLevel.isValid && size > 0) {
          if (!stored.contains(id)) c("cut.blocks_stored") += 1
          storedNow += size - stored.getOrElse(id, 0L)
          stored(id) = size
        } else stored.remove(id).foreach(old => storedNow -= old)
        storedPeak = math.max(storedPeak, storedNow)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        if (Set("analysis", "optimization", "planning")(phase))
          add(s"catalyst.${phase}_s", summary.durationMs / 1e3)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Start a new peak window for the stored-block and heap peaks. */
  def resetPeaks(): Unit = synchronized {
    storedPeak = storedNow
    heapPools.foreach(_.resetPeakUsage())
  }

  def snapshot(): Map[String, Double] = synchronized {
    c.toMap ++ Map(
      "cut.stored_bytes_peak" -> storedPeak.toDouble,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** Micro-batch progress events seen since the last call. */
  def takeProgress(): Seq[StreamingQueryProgress] = synchronized {
    val ps = progress.toSeq
    progress.clear()
    ps
  }
}

object Trace {
  /** Per-micro-batch phase times and state-store figures, one list entry
    * per batch. */
  def microBatches(ps: Seq[StreamingQueryProgress]): Map[String, Seq[Double]] = {
    def dur(k: String) = ps.map(_.durationMs.getOrDefault(k, 0L).toDouble)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ps.map(_.stateOperators.map(f).sum.toDouble)
    Map(
      "batch_ms" -> dur("triggerExecution"),
      "add_batch_ms" -> dur("addBatch"),
      "query_planning_ms" -> dur("queryPlanning"),
      "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"),
      "latest_offset_ms" -> dur("latestOffset"),
      "state_commit_ms" -> state(_.commitTimeMs),
      "state_rows" -> state(_.numRowsTotal),
      "state_bytes" -> state(_.memoryUsedBytes),
      "late_drops" -> state(_.numRowsDroppedByWatermark))
  }

  /** Counters that are levels, not running totals: not subtracted. */
  val levels = Set("cut.stored_bytes_peak", "jvm.heap_peak_mb")

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) =>
      k -> (if (levels(k)) v else v - before.getOrElse(k, 0.0))
    }
}
