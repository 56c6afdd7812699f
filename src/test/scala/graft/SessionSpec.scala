package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one session setup, proved in code: the test JVM gets no `-Dspark.*`
  * flags, so every engine conf below reaches [[TestSpark.spark]] only
  * through [[Session.start]].
  */
class SessionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val posture = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  test("the codegen cache keeps more than Spark's default 100 classes") {
    // each i is a distinct whole-stage class: the literals are inlined
    def run(i: Int): Unit = spark.range(0, 8, 1, 1)
      .selectExpr(s"id * ${i + 7} AS x").where(s"x % ${i + 2} <> 1")
      .collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    run(0)
    (1 to 150).foreach(run)
    val before = compiles.getCount
    run(0)
    assert(compiles.getCount === before, "the first plan was evicted and recompiled")
  }

  test("a tiny cached aggregate is coalesced by AQE, as in the bench") {
    def cachedPartitions(s: org.apache.spark.sql.SparkSession): Int = {
      val df = s.range(0, 100).groupBy((col("id") % 10).as("k")).count().persist()
      try { df.count(); df.rdd.getNumPartitions } finally df.unpersist(blocking = true)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(cachedPartitions(spark) === 1)
    // the contrast: without the conf the cache keeps the static layout
    val off = spark.newSession()
    off.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    assert(cachedPartitions(off) === 4)
  }

  test("a newSession clone inherits the posture; configure restores it, idempotently") {
    val s = spark.newSession()
    for ((k, v) <- posture) assert(s.conf.get(k) === v, k)
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") === "20000")
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(Session.configure(s) eq s)
    for ((k, v) <- posture) assert(s.conf.get(k) === v, k)
    val once = s.conf.getAll
    Session.configure(s)
    assert(s.conf.getAll === once)
  }

  test("Tables.events writes nothing into the caller's session conf") {
    val clone = spark.newSession()
    val before = clone.conf.getAll
    Tables.events(clone, MiniData.dir)
    assert(clone.conf.getAll === before)
  }

  test("the state-store provider's WARNs are dropped and its ERRORs kept") {
    Session.configure(spark)
    // Spark names each provider's logger "<class> StateStoreProviderId[…]"
    val provider = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider").getName +
      " StateStoreProviderId[storeId=StateStoreId[operatorId=0, partitionId=0], queryRunId=x]"
    val seen = ArrayBuffer.empty[(String, Level)]
    val app = new AbstractAppender("graft-session-spec", null, null, true, null) {
      override def append(e: LogEvent): Unit =
        seen.synchronized(seen += e.getLoggerName -> e.getLevel)
    }
    app.start()
    val logs = LoggerContext.getContext(false)
    val root = logs.getConfiguration.getRootLogger
    root.addAppender(app, null, null)
    logs.updateLoggers()
    val sibling = "org.apache.spark.sql.execution.streaming.state.StateStore"
    try {
      org.slf4j.LoggerFactory.getLogger(provider).warn("state for version 2 doesn't exist")
      org.slf4j.LoggerFactory.getLogger(provider).error("a real failure")
      org.slf4j.LoggerFactory.getLogger(sibling).warn("a sibling's warning")
    } finally {
      root.removeAppender(app.getName)
      logs.updateLoggers()
      app.stop()
    }
    // other threads may log meanwhile: keep the two loggers under test
    assert(seen.toSeq.filter(e => e._1 == provider || e._1 == sibling) ===
      Seq(provider -> Level.ERROR, sibling -> Level.WARN))
  }
}
