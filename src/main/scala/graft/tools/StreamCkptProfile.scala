package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only fixed-cost profiler for the four checkpoint-restart streaming
  * queries (round 12, VERDICT item 4): runs each declared ckpt query with
  * the [[StreamCkptProfile.Printer]] listener on, so every micro-batch
  * prints its durationMs breakdown (triggerExecution / addBatch /
  * walCommit / commitOffsets / latestOffset / queryPlanning) and
  * state-store update/commit times, then prints the query's total wall
  * time (including the release that deletes the run's scratch dirs). The gap
  * between Σ triggerExecution and the wall time is the NON-batch fixed
  * cost: two query startups/teardowns per query (checkpoint dir creation,
  * offset-log recovery, state-store provider load) plus the protocol's
  * own staging writes (sentinel/half parquet files) and the final sink
  * read.
  *
  * Usage: runMain graft.tools.StreamCkptProfile [sfDir] [reps] [provider]
  *   provider = "rocksdb" sets the RocksDB state store ON THE CONTEXT CONF
  *   (stateSession children inherit it) for an A/B against the default
  *   HDFS-backed store. Measurement-only: the declared queries themselves
  *   never set a provider.
  *
  * The listener is registered through Spark's static
  * `spark.sql.streaming.streamingQueryListeners` conf, which every session
  * cloned from this one — each stream's private state session — inherits.
  */
object StreamCkptProfile {

  /** Prints each stream's start, per-batch phases and state-store times,
    * and termination as `[sq]` lines. */
  final class Printer extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      println(s"[sq] started run=${e.runId}")
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.map(o =>
        s"${o.operatorName}:rows=${o.numRowsTotal},upd=${o.allUpdatesTimeMs}ms," +
          s"rm=${o.allRemovalsTimeMs}ms,commit=${o.commitTimeMs}ms").mkString(" ")
      println(s"[sq] batch=${p.batchId} in=${p.numInputRows} " +
        s"durs=${p.durationMs} $st")
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      println(s"[sq] terminated run=${e.runId}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val provider = if (args.length > 2) args(2) else "default"
    val b = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[Printer].getName)
    if (provider == "rocksdb")
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = Seq("q_stream_sliding_ckpt", "q_stream_sessions_ckpt",
      "q_stream_join_ckpt", "q_stream_dedup_ckpt")
    for (rep <- 1 to reps; name <- queries) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = graft.Registry.byName(name)(spark, sfDir)(_.count())
      println(f"[sq] $name rep=$rep provider=$provider rows=$n " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
