package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer counters of a traced run, fed by Spark's public listeners.
  *
  * The listeners are registered only in traced runs, and they count only
  * while `on` is set, so a traced run can alternate traced and untraced
  * passes and report the tracing overhead from one JVM. Times are kept in
  * milliseconds and sizes in bytes, as the listeners report them. */
object Tap {
  @volatile var on = false

  val Counters: Seq[String] = Seq(
    "jobs", "stages", "tasks", "task_ms", "sched_delay_ms",
    "shuffle_write_b", "shuffle_read_b", "spill_b",
    "analysis_ms", "optimization_ms", "planning_ms",
    "stream_batches", "batch_ms", "addbatch_ms", "walcommit_ms",
    "commitoffsets_ms", "state_commit_ms")

  private val adders: Map[String, LongAdder] =
    Counters.map(_ -> new LongAdder).toMap

  def add(name: String, v: Long): Unit = if (on) adders(name).add(v)

  def snapshot(): Map[String, Long] = adders.map { case (k, a) => k -> a.sum }

  private val running = new AtomicLong
  private val peak = new AtomicLong

  private[perfbench] def taskStarted(): Unit = {
    val n = running.incrementAndGet()
    if (on) peak.accumulateAndGet(n, math.max)
  }
  private[perfbench] def taskEnded(): Unit = running.decrementAndGet()

  /** Highest number of concurrently running tasks since the last call. */
  def takePeakTasks(): Long = peak.getAndSet(0)

  final case class JobSpan(id: Int, startMs: Long, var endMs: Long)
  final case class StageSpan(id: Int, job: Int, startMs: Long, endMs: Long)

  val jobSpans = new ConcurrentLinkedQueue[JobSpan]()
  val stageSpans = new ConcurrentLinkedQueue[StageSpan]()
  private val openJobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private[perfbench] def jobStarted(id: Int, time: Long, stages: Seq[Int]): Unit = {
    val s = JobSpan(id, time, time)
    openJobs.put(id, s)
    stages.foreach(st => stageJob.putIfAbsent(st, id))
    jobSpans.add(s)
  }
  private[perfbench] def jobEnded(id: Int, time: Long): Unit = {
    val s = openJobs.remove(id)
    if (s != null) s.endMs = time
  }
  private[perfbench] def stageDone(id: Int, start: Long, end: Long): Unit =
    stageSpans.add(StageSpan(id, stageJob.getOrDefault(id, -1), start, end))

  /** Row count of each streaming query's state at its last progress. */
  val stateRows = new ConcurrentHashMap[java.util.UUID, Long]()

  def takeStateRows(): Long = {
    val n = stateRows.values().asScala.sum
    stateRows.clear()
    n
  }
}

/** Jobs, stages and tasks of every query, with their timings. */
final class SparkTap extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tap.on) {
    Tap.add("jobs", 1)
    Tap.jobStarted(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Tap.jobEnded(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (Tap.on) {
    Tap.add("stages", 1)
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) Tap.stageDone(i.stageId, s, c)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = Tap.taskStarted()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Tap.taskEnded()
    val m = e.taskMetrics
    if (Tap.on && m != null) {
      val info = e.taskInfo
      Tap.add("tasks", 1)
      Tap.add("task_ms", m.executorRunTime)
      Tap.add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      Tap.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      Tap.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      Tap.add("spill_b", m.diskBytesSpilled)
    }
  }
}

/** Catalyst phase times of every executed query, from its tracker.
  * Registered through `spark.sql.queryExecutionListeners`, so the private
  * sessions the streaming queries clone get it too. */
final class QeTap extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit = if (Tap.on) {
    val p = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "analysis_ms",
        "optimization" -> "optimization_ms", "planning" -> "planning_ms"))
      p.get(phase).foreach(s => Tap.add(key, s.durationMs))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

/** Micro-batch phases and state-store commits of every streaming query.
  * Registered through `spark.sql.streaming.streamingQueryListeners`. */
final class StreamTap extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Tap.on) {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    Tap.add("stream_batches", 1)
    Tap.add("batch_ms", d("triggerExecution"))
    Tap.add("addbatch_ms", d("addBatch"))
    Tap.add("walcommit_ms", d("walCommit"))
    Tap.add("commitoffsets_ms", d("commitOffsets"))
    Tap.add("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
    Tap.stateRows.put(p.runId, p.stateOperators.map(_.numRowsTotal).sum)
  }
}
