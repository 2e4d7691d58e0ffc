package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer collector for one traced pass. Everything it sees arrives on
  * Spark's public listener buses: task/stage/job ends from the
  * `SparkListener` bus, each action's `QueryPlanningTracker` through a
  * `QueryExecutionListener`, and streaming micro-batch progress through a
  * `StreamingQueryListener` ([[StreamProgress]]). The harness drains the
  * bus after every op, so streaming events are charged to the op that ran
  * them. */
final class Trace(spark: SparkSession) {
  private val lock = new Object
  private var curOp = ""
  def op(name: String): Unit = lock.synchronized { curOp = name }

  private val jobSpans = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var jobs, stages, tasks = 0L
  private var runMs, inBytes, inRows, outBytes, outRows = 0L
  private var shufW, shufR, spill, taskPeak = 0L
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var stageMs, skewMs = 0L
  private var planNs = 0L
  /** Micro-batch phase times (ms) per op, summed over the op's batches. */
  val streamPhases = mutable.LinkedHashMap.empty[String, mutable.Map[String, Long]]
  val streamBatches = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += 1; jobSpans(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpans.remove(e.jobId).foreach(t0 => jobIntervals += (t0 -> e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        inBytes += m.inputMetrics.bytesRead; inRows += m.inputMetrics.recordsRead
        outBytes += m.outputMetrics.bytesWritten; outRows += m.outputMetrics.recordsWritten
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        spill += m.memoryBytesSpilled
        taskPeak = math.max(taskPeak, m.peakExecutionMemory)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stages += 1
        val si = e.stageInfo
        for (s <- si.submissionTime; c <- si.completionTime) stageMs += c - s
        stageTasks.remove((si.stageId, si.attemptNumber())).foreach { ds =>
          val sorted = ds.sorted
          skewMs += sorted.last - sorted(sorted.length / 2)
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      planNs += Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs * 1000000L).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  /** One micro-batch's progress, from [[StreamProgress]]. */
  private[perfbench] def progress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    lock.synchronized {
      val ph = streamPhases.getOrElseUpdate(curOp,
        mutable.Map.empty[String, Long].withDefaultValue(0L))
      e.progress.durationMs.forEach((k, v) => ph(k) += v.longValue)
      streamBatches(curOp) += 1
    }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  Trace.active = Some(this)

  /** Union length of the job-running intervals inside [t0, t1] (ms). */
  private def busyMs(t0: Long, t1: Long): Long = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, end = 0L
    var start = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { if (start != Long.MinValue) total += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    if (start != Long.MinValue) total += end - start
    total
  }

  private val MB = 1024.0 * 1024.0

  /** Engine and sources metrics of the pass [t0Ms, t1Ms] (epoch ms). */
  def summary(t0Ms: Long, t1Ms: Long, cores: Int, gcS: Double): Map[String, Double] =
    lock.synchronized {
      val wallMs = math.max(1L, t1Ms - t0Ms).toDouble
      Map(
        "engine.plan_s" -> planNs / 1e9,
        "engine.driver_gap_s" -> (wallMs - busyMs(t0Ms, t1Ms)) / 1e3,
        "engine.core_busy_frac" -> runMs / (wallMs * cores),
        "engine.jobs" -> jobs.toDouble,
        "engine.stages" -> stages.toDouble,
        "engine.tasks" -> tasks.toDouble,
        "engine.exec_run_s" -> runMs / 1e3,
        "engine.gc_s" -> gcS,
        "engine.shuffle_write_mb" -> shufW / MB,
        "engine.shuffle_read_mb" -> shufR / MB,
        "engine.spill_mb" -> spill / MB,
        "engine.task_peak_mb" -> taskPeak / MB,
        "engine.skew" -> (if (stageMs > 0) skewMs.toDouble / stageMs else 0.0),
        "sources.scan_mb" -> inBytes / MB,
        "sources.scan_rows" -> inRows.toDouble,
        "sources.write_mb" -> outBytes / MB,
        "sources.write_rows" -> outRows.toDouble)
    }

  /** Streaming metrics over the pass, given each op's measured wall. */
  def streaming(opWall: Map[String, Double]): Map[String, Double] = lock.synchronized {
    def total(k: String) = streamPhases.values.map(_.getOrElse(k, 0L)).sum / 1e3
    val rigWall = streamPhases.keys.toSeq.flatMap(opWall.get).sum
    Map(
      "streaming.batches" -> streamBatches.values.sum.toDouble,
      "streaming.latest_offset_s" -> total("latestOffset"),
      "streaming.get_batch_s" -> total("getBatch"),
      "streaming.query_planning_s" -> total("queryPlanning"),
      "streaming.add_batch_s" -> total("addBatch"),
      "streaming.wal_commit_s" -> total("walCommit"),
      "streaming.commit_offsets_s" -> total("commitOffsets"),
      "streaming.rig_overhead_s" ->
        (if (streamPhases.isEmpty) 0.0 else rigWall - total("addBatch")))
  }
}

object Trace {
  @volatile private[perfbench] var active: Option[Trace] = None
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * every session's query manager carries one: the streaming rigs run their
  * queries on cloned sessions (`newSession`), whose managers a listener
  * added to the root session's `streams` would never see. */
final class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Trace.active.foreach(_.progress(e))
}
