package graft.streaming

import graft.{Caches, TestSpark}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Everything a streaming run writes lives under its own scratch root,
  * deleted on release even when the run fails. */
class StreamScratchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("a replay whose operator throws mid-stream leaves no scratch behind after release") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch: Set[String] =
      tmp.list().filter(n => n.startsWith("temporary-") || n.startsWith("graft_")).toSet
    val before = scratch
    val boom = udf((ts: java.sql.Timestamp) => {
      if (ts != null) sys.error("operator failed mid-stream")
      ts
    })
    val failing = StreamQueries.StreamQuery(
      op = _.withColumn("ts", boom(col("ts"))), out = Seq(col("ts")), order = Seq("ts"))
    val e = intercept[Exception](StreamQueries.run(spark, sf, failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("operator failed mid-stream"))), e)
    Caches.release(spark)
    val leaked = scratch -- before
    assert(leaked.isEmpty, s"the failed replay left scratch behind: $leaked")
  }
}
