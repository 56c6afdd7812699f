package graft

import graft.functions.cms
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count–Min sketch laws: over-estimation only (the no-false-negative
  * property q_heavy_hitters' exactness rests on), partitioning-independent
  * merge, and end-to-end agreement of sketch-accelerated heavy hitters with
  * the brute-force groupBy.
  */
class CmsSketchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val words: Seq[String] =
    Seq.fill(500)("hot") ++ Seq.fill(120)("warm") ++
      (1 to 400).map(i => s"cold$i")

  private def sketchOf(parts: Int): Array[Byte] = {
    words.toDF("w").repartition(parts)
      .agg(cms.sketch(col("w"))).head.getAs[Array[Byte]](0)
  }

  test("estimates never under-count; exact on this cardinality") {
    val sk = sketchOf(4)
    val est = words.distinct.map(w =>
      w -> spark.range(1).select(
        cms.estimate(lit(sk), lit(w))).head.getLong(0)).toMap
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((w, t) <- truth) assert(est(w) >= t, s"under-estimate for $w")
    // 402 distinct keys over 4x8192 buckets: collisions are improbable
    assert(est("hot") === 500L)
    assert(est("warm") === 120L)
  }

  test("sketch is bit-identical under any partitioning (merge determinism)") {
    assert(sketchOf(1).toSeq === sketchOf(7).toSeq)
  }

  test("sketch-accelerated heavy hitters equal the brute-force groupBy") {
    val sk = sketchOf(4)
    val threshold = words.size / 100 // 10 occurrences
    val df = words.toDF("w")
    val cands = df.distinct()
      .filter(cms.estimate(lit(sk), col("w")) >= threshold)
    val viaSketch = df.join(broadcast(cands), Seq("w"), "leftsemi")
      .groupBy("w").agg(count(lit(1)).as("c")).filter(col("c") >= threshold)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val brute = df.groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") >= threshold)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaSketch === brute)
    assert(viaSketch === Set(("hot", 500L), ("warm", 120L)))
  }
}
