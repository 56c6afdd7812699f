package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import graft.Session
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Dev-only per-query profiler: attach a SparkListener, run one declared
  * query, and attribute its wall time to individual Spark jobs (with
  * per-job task-time sums) versus the gaps between jobs (driver-side
  * planning, AQE re-optimization, persist barriers, codegen). It gives a
  * first-cut attribution for ANY of the declared queries without a
  * bespoke harness; the one-off stage profilers it replaced are listed in
  * BASELINE.md "Retired instruments".
  *
  * Output per job: start offset (s, from query t0), wall (s), task-time
  * sum (s), tasks, and the job's callsite/description. Then a summary:
  * query wall, Σ job wall, the uncovered gap (driver-side), and the
  * task-parallelism ratio Σtask/Σjobwall (a 32-core box doing ~1 means
  * single-task stages dominate — core-count scaling will be flat).
  *
  * Streaming queries: every micro-batch of every stream the query starts
  * is printed after the summary as an `[sq] batch=…` line with its
  * durationMs phases (triggerExecution / addBatch / walCommit /
  * commitOffsets / latestOffset / queryPlanning) and each stateful
  * operator's rows, update/removal and state-store commit times. The gap
  * between Σ triggerExecution and the query wall is the non-batch fixed
  * cost: query start-ups (offset-log and state recovery), the harness's
  * staging writes and the final sink read. The [[Printer]] is registered
  * through Spark's static `spark.sql.streaming.streamingQueryListeners`
  * conf, which each stream's private state session (a `newSession()`
  * clone) inherits; `spark.streams.addListener` would miss those streams.
  *
  * State-store A/B: `SparkConf` reads `spark.*` JVM system properties, so
  * `-Dspark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.
  * execution.streaming.state.RocksDBStateStoreProvider` (sbt: `set run /
  * javaOptions += "-D…"`) profiles RocksDB against the default store.
  *
  * Usage: runMain graft.tools.ProfileQ <name[,name...]> [sfDir] [reps]
  */
object ProfileQ {
  final case class JobRec(id: Int, start: Long, var end: Long = -1L,
      var taskNanos: Long = 0L, var gcMs: Long = 0L, var tasks: Int = 0,
      desc: String = "")

  /** Buffers each stream's start, per-batch phases and state-store times,
    * and termination as `[sq]` lines, printed after the query's summary.
    * Spark instantiates one per session, hence the shared buffer. */
  final class Printer extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Printer.lines.add(s"[sq] started run=${e.runId}")
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.map(o =>
        s"${o.operatorName}:rows=${o.numRowsTotal},upd=${o.allUpdatesTimeMs}ms," +
          s"rm=${o.allRemovalsTimeMs}ms,commit=${o.commitTimeMs}ms").mkString(" ")
      Printer.lines.add(s"[sq] batch=${p.batchId} in=${p.numInputRows} " +
        s"durs=${p.durationMs} $st")
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Printer.lines.add(s"[sq] terminated run=${e.runId}")
  }

  object Printer {
    private val lines = new ConcurrentLinkedQueue[String]()
    def flush(): Unit = Iterator.continually(lines.poll())
      .takeWhile(_ != null).foreach(println)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.start(Session.defaultCores,
      "spark.sql.streaming.streamingQueryListeners" -> classOf[Printer].getName)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = e.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct
          .mkString(" | ").take(120)
        jobs(e.jobId) = JobRec(e.jobId, e.time, desc = desc)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (j <- stageToJob.get(e.stageId); r <- jobs.get(j);
             m <- Option(e.taskMetrics)) {
          r.taskNanos += m.executorRunTime * 1000000L
          r.gcMs += m.jvmGCTime
          r.tasks += 1
        }
      }
    }

    val cg = org.apache.spark.metrics.source.CodegenMetrics
    // approximate: the histogram's mean comes from a decaying reservoir, so
    // mean x count is only an estimate of total compile time; the count
    // delta is exact
    def cgTotalMs: Long = {
      val h = cg.METRIC_COMPILATION_TIME
      (h.getSnapshot.getMean * h.getCount).toLong
    }
    for (name <- names; rep <- 1 to reps) {
      val gq = graft.Registry.byName(name)
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val cg0n = cg.METRIC_COMPILATION_TIME.getCount
      val cg0t = cgTotalMs
      val t0w = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val n = gq.run(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cgN = cg.METRIC_COMPILATION_TIME.getCount - cg0n
      val cgMs = cgTotalMs - cg0t
      // drain listener-bus stragglers before reading the job map
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      // drop the run's persists and stream scratch dirs (a bare run keeps
      // them until released), and the plan cache, before the next rep
      spark.catalog.clearCache()
      graft.Caches.release(spark)
      val snap = jobs.synchronized { jobs.values.toVector }
      println(f"[pq] ===== $name rep$rep rows=$n wall=$wall%.2fs =====")
      var sumJob = 0.0; var sumTask = 0.0; var sumGc = 0.0
      snap.foreach { r =>
        val jw = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        val tt = r.taskNanos / 1e9
        sumJob += math.max(jw, 0); sumTask += tt; sumGc += r.gcMs / 1e3
        if (jw >= 0.01 || tt >= 0.01)
          println(f"[pq] job=${r.id}%-4d at+${(r.start - t0w) / 1e3}%6.2fs wall=$jw%6.2fs task=$tt%7.2fs n=${r.tasks}%-5d ${r.desc.take(90)}")
      }
      println(f"[pq] jobs=${snap.size} sumJobWall=$sumJob%.2fs gap=${wall - sumJob}%.2fs sumTask=$sumTask%.2fs par=${if (sumJob > 0) sumTask / sumJob else 0.0}%.1f codegen_compiles=$cgN codegen_s_approx=${cgMs / 1000.0}%.1f gc=$sumGc%.1fs")
      Printer.flush()
    }
    spark.stop()
  }
}
