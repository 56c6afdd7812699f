package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev-only GENERIC per-query job profiler (round 13): attach a
  * SparkListener, run one declared query, and attribute its wall time to
  * individual Spark jobs (with per-job task-time sums) versus the gaps
  * between jobs (driver-side planning, AQE re-optimization, persist
  * barriers, codegen). The round-12 profilers (ProfileRecsGraph,
  * ProfileLlm, StreamCkptProfile) each hand-staged ONE query; this tool
  * gives the same first-cut attribution for ANY of the 230 declared
  * queries without writing a bespoke harness, which is what guide §1.1's
  * empirical loop needs when the next target is a mid-band query that has
  * never been profiled.
  *
  * Output per job: start offset (s, from query t0), wall (s), task-time
  * sum (s), tasks, and the job's callsite/description. Then a summary:
  * query wall, Σ job wall, the uncovered gap (driver-side), and the
  * task-parallelism ratio Σtask/Σjobwall (a 32-core box doing ~1 means
  * single-task stages dominate — core-count scaling will be flat).
  *
  * Usage: runMain graft.tools.ProfileQ <name[,name...]> [sfDir] [reps]
  */
object ProfileQ {
  final case class JobRec(id: Int, start: Long, var end: Long = -1L,
      var taskNanos: Long = 0L, var gcMs: Long = 0L, var tasks: Int = 0,
      desc: String = "")

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
      spark.catalog.clearCache()
      graft.Caches.release(spark)
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
    }
    spark.stop()
  }
}
