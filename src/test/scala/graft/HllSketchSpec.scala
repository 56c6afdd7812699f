package graft

import graft.functions.hll
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The from-scratch HLL: accuracy within theory bounds, exact determinism
  * under repartitioning, and small-cardinality exactness via the
  * linear-counting correction.
  */
class HllSketchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def estimate(values: Seq[Long], parts: Int): Long =
    values.toDF("v").repartition(parts)
      .agg(hll.distinct(col("v")).as("e")).as[Long].collect().head

  test("small cardinalities are near-exact (linear-counting range)") {
    // tiny n: no register collisions for these fixed inputs -> exact
    for (n <- Seq(1, 10)) {
      assert(estimate((1L to n.toLong) ++ (1L to n.toLong), 3) === n.toLong)
    }
    // n=100: linear counting is an estimator (corrects expected register
    // collisions), so allow its few-percent variance
    val e100 = estimate((1L to 100L) ++ (1L to 100L), 3)
    assert(math.abs(e100 - 100L) <= 5, s"estimate $e100 for 100")
  }

  test("estimate within 5 sigma at 100k distinct (sigma ~ 2.3% at p=11)") {
    val n = 100000L
    val e = estimate(1L to n, 8)
    assert(math.abs(e - n).toDouble / n < 0.115, s"estimate $e for $n")
  }

  test("bit-identical across partitionings and duplicate mixes") {
    val vs = (1L to 5000L) ++ (1L to 2500L) ++ Seq.fill(1000)(42L)
    val r = estimate(vs, 1)
    assert(estimate(vs, 7) === r)
    assert(estimate(scala.util.Random.shuffle(vs.toList), 13) === r)
  }

  test("null inputs are ignored") {
    val e = Seq[java.lang.Long](1L, 2L, null, 2L, null).toDF("v")
      .agg(hll.distinct(col("v")).as("e")).as[Long].collect().head
    assert(e === 2L)
  }

  test("all-null group emits estimate 0 and matches the oracle scaffold") {
    // round-4 ADVICE: the oracle's group scaffold now derives from the
    // UNFILTERED source, so a group whose values are all NULL appears with
    // the all-zero-register linear-counting estimate. Values pinned here
    // were replayed in DuckDB 1.0 against HllSketch.oracleSql on the same
    // frame: (a → 96, b → 0, c → 1).
    val rows = (
      (1L to 100L).map(v => ("a", java.lang.Long.valueOf(v))) ++
        Seq.fill(5)(("b", null.asInstanceOf[java.lang.Long])) ++
        (("c", java.lang.Long.valueOf(42L)) +:
          Seq.fill(2)(("c", null.asInstanceOf[java.lang.Long]))))
      .toDF("g", "v")
      .groupBy(col("g")).agg(hll.distinct(col("v")).as("e"))
      .orderBy(col("g")).as[(String, Long)].collect()
    assert(rows === Array(("a", 96L), ("b", 0L), ("c", 1L)))
  }
}
