package graft.tools

import graft.Session
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Runtime drive of the streaming surface against Spark's built-in `rate`
  * source: events at 50/s bucketed into 5-second tumbling windows with a
  * 2-second watermark, printed by the console sink as windows close.
  * Usage: runMain graft.tools.StreamingDemo [seconds]
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val runSeconds = if (args.nonEmpty) args(0).toInt else 20
    val spark = Session.start(Session.defaultCores)

    val events = spark.readStream
      .format("rate").option("rowsPerSecond", 50).load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(3)).as("user_id"),
        when(pmod(col("value"), lit(2)) === 0, "click").otherwise("view")
          .as("event_type"),
        (pmod(col("value"), lit(100)) / lit(10.0)).as("value"))

    val q = EventStreams.tumbling(events, every = "5 seconds", watermark = "2 seconds")
      .writeStream.format("console").outputMode("append")
      .option("truncate", "false").start()
    q.awaitTermination(runSeconds * 1000L)
    q.stop()
    spark.stop()
  }
}
