package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * The listener bus is package-private, so the benchmark reaches it from
  * inside `org.apache.spark`; the per-pass telemetry snapshots need it to
  * count a pass's last tasks and queries before they are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
