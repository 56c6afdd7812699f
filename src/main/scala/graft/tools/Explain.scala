package graft.tools

import graft.{Registry, Session}

/** Dev tool: print the formatted physical plan and wall-time for one query.
  * Usage: runMain graft.tools.Explain <queryName> [sfDir] [reps]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.start(Session.defaultCores)
    val gq = Registry.byName(name)
    gq.run(spark, sfDir).explain("formatted")
    for (i <- 1 to reps) {
      // drop plan-cache + tracked persists between reps (memory: Spark's
      // CacheManager matches a REBUILT identical plan, so rep2+ would
      // silently reuse rep1's materializations and report hot numbers)
      spark.catalog.clearCache()
      graft.Caches.release(spark)
      val t0 = System.nanoTime()
      val n = gq.run(spark, sfDir).count()
      println(f"[explain] rep$i rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
