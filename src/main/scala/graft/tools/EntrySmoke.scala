package graft.tools

import graft.Session

/** Dev tool mirroring the driver's t1 smoke: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.start(Session.defaultCores)
    val df = graft.SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(truncate = false)
    spark.stop()
  }
}
