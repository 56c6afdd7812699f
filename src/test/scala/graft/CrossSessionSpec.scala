package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native expressions are plan data, not session state: a plan built on
  * one session while another is active resolves and runs, and two
  * sessions building the same queries from two threads get the results a
  * single session gets. Covers h60 directly plus declared queries over
  * kgrams (`q_text_ngram_topk`), kgrams + h60 (`q_dedup_minhash`), the
  * IVF cell assignment (`q_sim_ann_ivf`) and the PQ encode/ADC plan
  * (`q_sim_ann_pq`).
  */
class CrossSessionSpec extends AnyFunSuite {
  private val active = TestSpark.spark
  private val dir = MiniData.dir
  private val queries =
    Seq("q_text_ngram_topk", "q_dedup_minhash", "q_sim_ann_ivf", "q_sim_ann_pq")

  private def h60Of(s: SparkSession): Seq[Long] =
    s.range(0, 1000)
      .select(XHash.h60(concat(lit("mix:"), col("id").cast("string"))))
      .collect().map(_.getLong(0)).toSeq

  private def rowsOf(s: SparkSession, name: String): Seq[Row] =
    Registry.byName(name)(s, dir)(_.collect().toSeq)

  test("plans built on a session other than the active one resolve and match") {
    SparkSession.setActiveSession(active)
    val other = active.newSession()
    val legacy = active.range(0, 1000)
      .select(XHash.h60Legacy(concat(lit("mix:"), col("id").cast("string"))))
      .collect().map(_.getLong(0)).toSeq
    assert(h60Of(other) === legacy)
    assert(h60Of(active) === legacy)
    for (q <- queries) {
      val rows = rowsOf(other, q)
      assert(rows.nonEmpty, q)
      assert(rows === rowsOf(active, q), q)
    }
    assert(SparkSession.getActiveSession.contains(active))
  }

  test("two sessions building the same queries on two threads match one session") {
    SparkSession.setActiveSession(active)
    val single = queries.map(rowsOf(active, _))
    val sessions = Seq(active.newSession(), active.newSession())
    val pool = Executors.newFixedThreadPool(sessions.size)
    try {
      val runs = sessions.map { s =>
        pool.submit(new Callable[Seq[Seq[Row]]] {
          def call(): Seq[Seq[Row]] = queries.map(rowsOf(s, _))
        })
      }
      for (r <- runs) assert(r.get(10, TimeUnit.MINUTES) === single)
    } finally pool.shutdownNow()
  }
}
