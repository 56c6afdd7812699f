package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.spark.sql.SparkSession

/** The engine's whole session posture. Every main and the tests get their
  * session from [[start]]; [[configure]] serves a session built elsewhere
  * (`spark-submit` with `GraftExtensions`). Why each conf
  * (OPTIMIZATION_r13.md "Engine-wide"):
  *  - UTC: `Tables.events` re-tags TIMESTAMP_NTZ on the session clock, as
  *    DuckDB's `epoch_ns(ts)` does in UTC.
  *  - `codegen.cache.maxEntries=20000` (static): at the default 100 the
  *    big plans (70-120 whole-stage units each) recompiled every run.
  *  - `canChangeCachedPlanOutputPartitioning`: AQE sizes cached plans by
  *    bytes (consumers rely on hash clustering, not partition count); else
  *    a tiny persist kept the static layout and downstream exchanges wrote
  *    map×reduce tiny files (q_graph_kcore: 90 task-s).
  *  - `legacy.parquet.nanosAsLong`: reads a TIMESTAMP(NANOS) `events.ts`
  *    as epoch-nanos. Session-scoped, so set here, not by the read.
  *  - WARN logs; `HDFSBackedStateStoreProvider` from ERROR, as each
  *    restart's "state for version N doesn't exist in loadedMaps" is
  *    expected. Its loggers are named per instance: a package filter.
  * Builder options reach `newSession()` clones; ParallelGC and the heap
  * are JVM flags and stay in `build.sbt`.
  */
object Session {
  private val CodegenCacheEntries = 20000
  /** Dropped by a `newSession()` clone when they were `conf.set`. */
  private[graft] val runtimeConfs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session with `cores` shuffle partitions, no UI, the
    * confs above and the caller's `extra` options on top. */
  def start(cores: Int, extra: (String, String)*): SparkSession = quietLogs(
    SparkSession.builder().master(s"local[$cores]").config(Map(
      "spark.sql.shuffle.partitions" -> cores.toString, "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString)
      ++ runtimeConfs ++ extra).getOrCreate())

  /** For a session built elsewhere: sets the runtime confs and the log
    * levels, and WARNs when the static codegen cache is below what the
    * engine needs. Idempotent. */
  def configure(spark: SparkSession): SparkSession = {
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val entries = spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
    if (entries < CodegenCacheEntries) LogManager.getLogger(getClass).warn(
      s"codegen.cache.maxEntries=$entries: plans recompile; start with $CodegenCacheEntries")
    quietLogs(spark)
  }

  private def quietLogs(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    // added once; a package logger the user configured is left alone
    val (logs, pkg) = (LoggerContext.getContext(false),
      "org.apache.spark.sql.execution.streaming.state")
    if (!logs.getConfiguration.getLoggers.containsKey(pkg)) {
      val lc = new LoggerConfig(pkg, null, true)
      lc.addFilter(new AbstractFilter {
        override def filter(e: LogEvent): Filter.Result =
          if (e.getLoggerName.startsWith(s"$pkg.HDFSBackedStateStoreProvider") &&
            e.getLevel.isLessSpecificThan(Level.WARN)) Filter.Result.DENY
          else Filter.Result.NEUTRAL
      })
      logs.getConfiguration.addLogger(pkg, lc)
      logs.updateLoggers()
    }
    spark
  }
}
