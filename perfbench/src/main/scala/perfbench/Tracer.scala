package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters gathered from outside the engine: a SparkListener for
  * jobs, stages and tasks, a QueryExecutionListener for the planning
  * phases of every action, and a StreamingQueryListener for micro-batch
  * phases. Installed only in a traced run; an untraced run registers
  * nothing, so its timings carry no listener cost.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val c = mutable.LinkedHashMap.empty[String, AtomicLong]
  private def ctr(name: String): AtomicLong = c.synchronized(c.getOrElseUpdate(name, new AtomicLong()))
  CounterNames.foreach(ctr)

  /** (startMs, endMs) per finished job, in completion order. */
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  /** (phase, startMs, durationMs) per planning phase of every action. */
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** One entry per streaming progress event. */
  private val progress = mutable.ArrayBuffer.empty[StreamProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      val start = jobStarts.remove(e.jobId).getOrElse(e.time)
      jobs += ((start, e.time))
      ctr("jobs").incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      ctr("stages").incrementAndGet(); ()
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      ctr("tasks").incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (read > 0) ctr("useful_tasks").incrementAndGet()
        ctr("run_ms").addAndGet(m.executorRunTime)
        ctr("cpu_ns").addAndGet(m.executorCpuTime)
        ctr("gc_ms").addAndGet(m.jvmGCTime)
        ctr("bytes_read").addAndGet(m.inputMetrics.bytesRead)
        ctr("records_read").addAndGet(m.inputMetrics.recordsRead)
        ctr("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        ctr("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        ctr("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        ctr("spill_mem_bytes").addAndGet(m.memoryBytesSpilled)
        ctr("spill_disk_bytes").addAndGet(m.diskBytesSpilled)
        val info = e.taskInfo
        if (info != null && info.finishTime > 0) {
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          ctr("sched_delay_ms").addAndGet(math.max(0L, delay))
        }
      }
      ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs, p.durationMs))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
      progress.synchronized {
        progress += StreamProgress(p.id.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum)
      }
      ()
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    sync()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def sync(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  def mark(): Mark = {
    sync()
    Mark(c.synchronized(c.map { case (k, v) => k -> v.get }.toMap),
      jobs.synchronized(jobs.size), phases.synchronized(phases.size),
      progress.synchronized(progress.size))
  }

  /** Layer counters of the operation that ran between `from` and now.
    * `t0`/`tBuilt`/`t1` are wall-clock ms: operation start, the moment
    * its DataFrame was built, and its end.
    */
  def since(from: Mark, t0: Long, tBuilt: Long, t1: Long): Map[String, Double] = {
    val to = mark()
    val delta = to.counters.map { case (k, v) => k -> (v - from.counters.getOrElse(k, 0L)).toDouble }
    val js = jobs.synchronized(jobs.slice(from.jobs, to.jobs).toList)
    val ps = phases.synchronized(phases.slice(from.phases, to.phases).toList)
    val sp = progress.synchronized(progress.slice(from.progress, to.progress).toList)
    val execJobs = js.filter(_._1 >= tBuilt)
    // planning that ran after the build; analysis inside the build (an
    // eager `spark.sql`) is part of the build time
    def execPhase(name: String) =
      ps.filter(p => p._1 == name && p._2 >= tBuilt).map(_._3).sum.toDouble
    val analysis = execPhase("analysis")
    val optimizer = execPhase("optimization")
    val physical = execPhase("planning")
    val jobWall = unionLength(execJobs)
    val build = (tBuilt - t0).toDouble
    val wall = (t1 - t0).toDouble
    val batches = sp.size.toDouble
    def dur(key: String) = sp.map(_.durations.getOrElse(key, 0L)).sum.toDouble
    delta - "cpu_ns" ++ Map(
      "cpu_ms" -> delta("cpu_ns") / 1e6,
      "build_ms" -> build,
      "build_jobs" -> (js.size - execJobs.size).toDouble,
      "analysis_ms" -> ps.filter(_._1 == "analysis").map(_._3).sum.toDouble,
      "optimizer_ms" -> optimizer,
      "physical_ms" -> physical,
      "job_wall_ms" -> jobWall,
      "driver_gap_ms" -> (wall - build - analysis - optimizer - physical - jobWall),
      "stream_batches" -> batches,
      "stream_empty_batches" -> sp.count(_.inputRows == 0).toDouble,
      "stream_add_batch_ms" -> dur("addBatch"),
      "stream_wal_commit_ms" -> dur("walCommit"),
      "stream_query_planning_ms" -> dur("queryPlanning"),
      "stream_commit_offsets_ms" -> dur("commitOffsets"),
      "stream_state_commit_ms" -> sp.map(_.stateCommitMs).sum.toDouble,
      "stream_state_rows" -> sp.lastOption.map(_.stateRows).getOrElse(0L).toDouble)
  }

  /** Wall-clock ms of the first progress event of query `id` at or after
    * `sinceMs`, plus its trigger time — when the first micro-batch ended.
    */
  def firstBatchEnd(id: String, sinceMs: Long): Option[Long] = {
    sync()
    progress.synchronized(progress.find(p => p.id == id && p.timestampMs >= sinceMs - 1000))
      .map(p => p.timestampMs + p.durations.getOrElse("triggerExecution", 0L))
  }
}

object Tracer {
  val CounterNames = Seq("jobs", "stages", "tasks", "useful_tasks", "run_ms", "cpu_ns",
    "gc_ms", "sched_delay_ms", "bytes_read", "records_read", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_mem_bytes", "spill_disk_bytes")

  final case class Mark(counters: Map[String, Long], jobs: Int, phases: Int, progress: Int)

  final case class StreamProgress(id: String, timestampMs: Long, durations: Map[String, Long],
                                  inputRows: Long, stateCommitMs: Long, stateRows: Long)

  /** Total length of the union of [start, end] intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
