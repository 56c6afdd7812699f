package graft.streaming

import java.util.concurrent.Executors

import graft.{Caches, Registry, TestSpark}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration.DurationInt
import scala.concurrent.{Await, ExecutionContext, Future}

/** Concurrency contract for the streaming state-width knob (round 7,
  * VERDICT item 6): the round-5 `withStatePartitions` temporarily MUTATED
  * the shared session's shuffle-partition conf and leaned on a documented
  * single-threaded harness contract; the round-7 `stateSession` gives
  * every bounded run a PRIVATE `newSession()` instead. These tests drive
  * the structural claim: two streaming queries running CONCURRENTLY —
  * including with DIFFERENT state widths — are both correct, neither
  * observes the other's setting, and the shared session's conf never
  * moves.
  */
class StreamConcurrencySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val Key = "spark.sql.shuffle.partitions"

  // GQ.apply: each run's scratch root is deleted once the rows are read
  private def rows(name: String): Vector[Vector[Any]] =
    Registry.byName(name)(spark, sf)(_.collect().map(_.toSeq.toVector).toVector)

  test("two declared streaming queries run concurrently: both correct, shared conf untouched") {
    val prev = spark.conf.get(Key)
    val pool = Executors.newFixedThreadPool(2)
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      val f1 = Future(rows("q_stream_tumbling"))(ec)
      val f2 = Future(rows("q_stream_dedup"))(ec)
      val c1 = Await.result(f1, 5.minutes)
      val c2 = Await.result(f2, 5.minutes)
      assert(spark.conf.get(Key) === prev,
        "a concurrent streaming run mutated the SHARED session's conf")
      // the concurrent results must equal the sequential truths exactly
      assert(c1 === rows("q_stream_tumbling"),
        "q_stream_tumbling diverged when run concurrently")
      assert(c2 === rows("q_stream_dedup"),
        "q_stream_dedup diverged when run concurrently")
    } finally pool.shutdown()
  }

  test("two concurrent streams with DIFFERENT state widths: each keeps its own, stores sized accordingly") {
    val prev = spark.conf.get(Key)
    // the declared tumbling query over the harness's replay source, on two
    // private sessions of widths 3/7
    def runTumbling(n: Int, name: String): (Int, Long) = {
      val ss = StreamQueries.stateSession(spark, n)
      val ev = StreamQueries.replay(spark, ss, sf)
      val q = EventStreams.tumbling(ev, every = "1 hour", watermark = "10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val stateParts = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numShufflePartitions.toInt))
        .max
      (stateParts, ss.table(name).count())
    }
    val pool = Executors.newFixedThreadPool(2)
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      val fa = Future(runTumbling(3, "graft_conc_a"))(ec)
      val fb = Future(runTumbling(7, "graft_conc_b"))(ec)
      val (aParts, aRows) = Await.result(fa, 5.minutes)
      val (bParts, bRows) = Await.result(fb, 5.minutes)
      assert(aParts === 3 && bParts === 7,
        s"state stores must be sized per private session, got $aParts / $bParts")
      assert(aRows === bRows && aRows > 0,
        "both widths must produce the identical complete answer")
      assert(spark.conf.get(Key) === prev,
        "a private-session stream mutated the shared conf")
    } finally {
      pool.shutdown()
      Caches.release(spark) // the replay sources' scratch roots
    }
  }

  test("a stream session carries its parent's engine confs, whatever they are") {
    val parent = spark.newSession()
    val changed = Seq(
      "spark.sql.session.timeZone" -> "America/Los_Angeles",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false")
    changed.foreach { case (k, v) => parent.conf.set(k, v) }
    val ss = StreamQueries.stateSession(parent, 3)
    for ((k, v) <- changed) assert(ss.conf.get(k) === v, k)
  }
}
