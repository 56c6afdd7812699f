package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN internals: scan-side assignment plan shape (the round-2 rewrite must
  * not reintroduce a pre-aggregation exchange) and the Lloyd refinement's
  * cell-balance + determinism contract. Balance is asserted on the real
  * sf0.001 table (read-only, seed-pinned by the driver) because MiniData's
  * six vectors can't express a 16-cell histogram.
  */
class AnnSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def cellSizes(cents: Seq[(Int, Array[Float])]): Seq[Long] = {
    val e = Tables.t(spark, sf, "embeddings")
    Ann.assignTo(spark, e, cents)
      .groupBy("cid").count().collect().map(_.getLong(1)).toSeq.sorted
  }

  private def seeds: Seq[(Int, Array[Float])] =
    Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") < Ann.NumCentroids)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  /** Exhaustive cosine top-3 per query — the eval ground truth shared by
    * the IVF and LSH recall tests. */
  private def bruteTop3: Set[(Long, Long)] = {
    import org.apache.spark.sql.Row
    val e = Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.vec.cosine(col("qe"), col("ne")).as("cos"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map { case Row(q: Long, n: Long) => (q, n) }.toSet
  }

  test("scan-side assignment: no Exchange in the assignment subplan") {
    val e = Tables.t(spark, sf, "embeddings")
    val plan = Ann.assignTo(spark, e, seeds)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must be a pure projection:\n$plan")
  }

  test("one Lloyd iteration fills all cells and improves balance vs first-16 seeds") {
    def stddev(x: Seq[Long]): Double = {
      val m = x.sum.toDouble / x.size
      math.sqrt(x.map(v => (v - m) * (v - m)).sum / x.size)
    }
    val s0 = cellSizes(seeds)
    val s1 = cellSizes(Ann.kmeansCentroids(spark, sf))
    assert(s1.size === Ann.NumCentroids, "no cell may end up empty")
    assert(s1.min > 0)
    assert(stddev(s1) < stddev(s0),
      s"refined cells should be more balanced: seeds=$s0 refined=$s1")
  }

  test("IVF recall@3 vs brute force is measured and above the floor") {
    // The eval every ANN index owes its users: compare q_sim_ann_ivf's top-3
    // per query against exhaustive cosine top-3. Deterministic on the pinned
    // sf0.001 data. Round 2's nprobe=1 measured 0.73 here; the round-3
    // multi-cell probe (NumProbe cells per query) must clear 0.9 — the
    // standard "usable index" bar — while still scanning only
    // NumProbe/NumCentroids of the corpus per query.
    import org.apache.spark.sql.Row
    val ivf = Registry.byName("q_sim_ann_ivf").run(spark, sf).collect()
      .map { case Row(q: Long, n: Long, _, _) => (q, n) }.toSet
    val brute = bruteTop3
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@3 on sf0.001: $recall%.2f (${ivf.intersect(brute).size}/${brute.size})")
    assert(recall >= 0.9,
      f"nprobe=${Ann.NumProbe} IVF must reach recall@3 >= 0.9, got $recall%.2f")
  }

  test("LSH multi-probe: full top-3 for every query, recall measured") {
    // review r3: the round-2 coarse-prefix join was the non-empty floor;
    // after the Hamming multi-probe replaced it, the contract must be
    // MEASURED, not assumed — every query still fills its top-3 (probed
    // buckets are never collectively empty on the pinned data), and the
    // recall against brute force is recorded for round-over-round tracking.
    import org.apache.spark.sql.Row
    val lsh = Registry.byName("q_sim_ann_lsh").run(spark, sf).collect()
    assert(lsh.length === 3 * 5, "every query must fill its top-3")
    val got = lsh.map { case Row(q: Long, n: Long, _, _) => (q, n) }.toSet
    val brute = bruteTop3
    val recall = got.intersect(brute).size.toDouble / brute.size
    info(f"LSH recall@3 on sf0.001: $recall%.2f")
    assert(recall > 0.0, "multi-probe found none of the true neighbors")
  }

  test("PQ recall@3 vs brute-force L2 clears the servable-index bar") {
    // PQ approximates EUCLIDEAN distance (ADC sums subspace d²), so its
    // ground truth is the exhaustive L2 top-3 — not the cosine truth the
    // IVF/LSH evals use. Uniform random 64-dim data is PQ's worst case
    // (no manifold structure): ADC alone measured recall@3 = 0.40 with
    // the Lloyd-trained (M=16, Ks=64) geometry. Round 7 adds the standard
    // refinement (VERDICT item 2) — ADC keeps the top-RescoreR candidates,
    // whose full vectors are re-ranked by the exact quantized L2 — so the
    // served top-3 must now clear the 0.9 "usable index" bar the IVF eval
    // uses (chance level: 3 draws of 499 ≈ 0.006).
    import org.apache.spark.sql.Row
    val e = Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val brute = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("aggregate(zip_with(qe, ne, (x, y) -> CAST((x - y) * (x - y) AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (a, v) -> a + v)").as("d2"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("neighbor_id"))))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map { case Row(q: Long, n: Long) => (q, n) }.toSet
    val pq = Registry.byName("q_sim_ann_pq").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    info(f"PQ recall@3 on sf0.001 (ADC top-30 + exact rescore, vs brute L2): $recall%.2f")
    assert(recall >= 0.9,
      f"rescored PQ must reach recall@3 >= 0.9, got $recall%.2f")
  }

  test("quantizerFor picks flat at driver SFs; forced two-level trains the IMI shape") {
    // the size switch is the oracle-stability contract (round 7, VERDICT
    // item 1): k = 16 at every driver SF, far below FlatMaxCells, so every
    // oracle replays the flat path byte-identically
    assert(Ann.quantizerFor(spark, sf).isInstanceOf[Ann.FlatQuantizer])
    val qz = Ann.quantizerFor(spark, sf, flatMax = 1)
    assert(qz.isInstanceOf[Ann.TwoLevelQuantizer], "flatMax=1 must force IMI")
    val imi = qz.asInstanceOf[Ann.TwoLevelQuantizer]
    // k = 16 -> kTop = 4 top cells, subK = 4 sub-centroids each
    assert(imi.top.size === 4 && imi.subK === 4 && imi.numCells === 16)
    assert(imi.sub.size === 16 && imi.sub.forall(_.size === Ann.Dim))
  }

  test("two-level assign/probe laws: total, in-range, probe(1) == assign, distinct probes") {
    val e = Tables.t(spark, sf, "embeddings")
    val n = e.count()
    val imi = Ann.quantizerFor(spark, sf, flatMax = 1)
    val asg = imi.assign(spark, e).collect()
    assert(asg.length.toLong === n, "assignment must be total — one row per vector")
    assert(asg.forall { r =>
      val cid = r.getLong(2); cid >= 0 && cid < imi.numCells
    })
    val p1 = imi.probe(spark, e, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(asg.forall(r => p1(r.getLong(0)) === r.getLong(2)),
      "probe(1) must return exactly the assigned cell")
    val p4 = imi.probe(spark, e.filter(col("vec_id") < 5), 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSeq)
    assert(p4.values.forall(cids => cids.size === 4 && cids.distinct.size === 4),
      "probe(4) must emit 4 distinct cells per query")
  }

  test("two-level assignment agrees with a flat scan over the same leaves (approximation quality)") {
    // the IMI approximation probe: restrict the flat scan to the IMI's OWN
    // leaf codebook — disagreement can then only come from the true best
    // leaf hiding under a non-probed top cell, which TopProbe exists to
    // bound. Measured agreement is logged for round-over-round tracking.
    val e = Tables.t(spark, sf, "embeddings")
    val imi = Ann.quantizerFor(spark, sf, flatMax = 1)
      .asInstanceOf[Ann.TwoLevelQuantizer]
    val leafCents = imi.sub.zipWithIndex.map { case (v, i) => (i, v.toArray) }
    val flatLeaf = Ann.assignTo(spark, e, leafCents).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val twoLevel = imi.assign(spark, e).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val agree = twoLevel.count { case (v, c) => flatLeaf(v) == c }
    val rate = agree.toDouble / twoLevel.size
    info(f"IMI-vs-flat leaf agreement on sf0.001 (kTop=4, TopProbe=${Ann.TopProbe}): $rate%.3f")
    assert(rate >= 0.8, f"two-level assignment strayed too far from flat: $rate%.3f")
  }

  test("product quantizer: tier switch, assign/probe laws, plan shape, determinism") {
    // round 8 (VERDICT item 1): the third quantizer tier — past HierMaxCells
    // the product decomposition takes over; forced here via hierMax = 1
    val e = Tables.t(spark, sf, "embeddings")
    val n = e.count()
    assert(Ann.quantizerFor(spark, sf).isInstanceOf[Ann.FlatQuantizer])
    val qz = Ann.quantizerFor(spark, sf, flatMax = 1, hierMax = 1)
    assert(qz.isInstanceOf[Ann.ProductQuantizer], "hierMax=1 must force product")
    val p = qz.asInstanceOf[Ann.ProductQuantizer]
    // k = 16 -> kA = kB = 4 half-space codebooks over 32 dims each
    assert(p.a.size === 4 && p.b.size === 4 && p.numCells === 16)
    assert(p.a.forall(_.size === Ann.Dim / 2) && p.b.forall(_.size === Ann.Dim / 2))
    // assignment total, in-range, pure projection through the native expr
    val asg = p.assign(spark, e)
    val rows = asg.collect()
    assert(rows.length.toLong === n)
    assert(rows.forall { r => val c = r.getLong(2); c >= 0 && c < 16 })
    val plan = asg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"product assignment must be a pure projection:\n$plan")
    assert(plan.contains("product_cells"),
      s"assignment must run through the native product expression:\n$plan")
    // probe(nprobe) emits the FULL pSide² frontier (round 9 — nprobe is a
    // lower bound; pSide = probeSide(4) = 3 ⇒ 9 distinct cells per query)
    val p4 = p.probe(spark, e.filter(col("vec_id") < 5), 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSeq)
    assert(p4.values.forall(cids => cids.size === 9 && cids.distinct.size === 9))
    val q2 = Ann.quantizerFor(spark, sf, flatMax = 1, hierMax = 1)
      .asInstanceOf[Ann.ProductQuantizer]
    assert(p.a === q2.a && p.b === q2.b)
  }

  test("product-IMI serving recall@3 vs brute cosine clears the servable-index bar") {
    // recall probe for the q_sim_ann_pimi serving shape. Round 9 (VERDICT
    // item 1): the probe consumes the FULL pSide² = 9-cell multi-sequence
    // frontier (the bounded shortlist; the exact cosine top-k is the
    // rescore) — the r8 4-cell prefix served 0.80, and tools/PimiProbe
    // measured the loss as frontier WIDTH, not ranking geometry (cosine
    // re-ranking of the prefix stayed 0.80; full-grid cosine ranking was
    // WORSE at 0.73). Floor restored to the ≥0.9 bar every other ANN
    // serving path holds (IVF 0.93, PQ 1.00).
    import org.apache.spark.sql.Row
    val pimi = Registry.byName("q_sim_ann_pimi").run(spark, sf).collect()
      .map { case Row(q: Long, n: Long, _, _) => (q, n) }.toSet
    val brute = bruteTop3
    val recall = pimi.intersect(brute).size.toDouble / brute.size
    info(f"product-IMI recall@3 on sf0.001 (4x4 grid, 9-cell frontier): $recall%.2f")
    assert(recall >= 0.9,
      f"product-IMI serving recall below the 0.9 bar: $recall%.2f")
  }

  test("two-level training is bit-identical across recomputation") {
    val a = Ann.quantizerFor(spark, sf, flatMax = 1).asInstanceOf[Ann.TwoLevelQuantizer]
    val b = Ann.quantizerFor(spark, sf, flatMax = 1).asInstanceOf[Ann.TwoLevelQuantizer]
    assert(a.top === b.top && a.sub === b.sub && a.subK === b.subK)
  }

  test("two-level assignment plan: one two_level_cells projection, no Exchange") {
    val e = Tables.t(spark, sf, "embeddings")
    val imi = Ann.quantizerFor(spark, sf, flatMax = 1)
    val plan = imi.assign(spark, e).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"two-level assignment must be a pure projection:\n$plan")
    assert(plan.contains("two_level_cells"),
      s"assignment must run through the native IMI expression:\n$plan")
  }

  test("refined centroids are bit-identical across recomputation") {
    val a = Ann.kmeansCentroids(spark, sf)
    val b = Ann.kmeansCentroids(spark, sf)
    assert(a.map(_._1) === b.map(_._1))
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.sameElements(y) })
  }

  test("R8: roundz normalizes -0.0 to +0.0 and is exact elsewhere") {
    // the round-3 failure mode: ROUND of a tiny negative cosine emitted
    // -0.0 in DuckDB and +0.0 in Spark — bitwise different under the
    // harness hash. roundz must kill the sign bit without moving any
    // other value.
    import org.apache.spark.sql.Row
    val rows = spark.range(1).select(
      graft.functions.vec.roundz(lit(-1e-9), 3).as("z"),
      graft.functions.vec.roundz(lit(-0.0), 3).as("nz"),
      graft.functions.vec.roundz(lit(-0.4567), 3).as("neg"),
      graft.functions.vec.roundz(lit(0.9995), 3).as("pos")).head()
    val Row(z: Double, nz: Double, neg: Double, pos: Double) = rows
    assert(java.lang.Double.doubleToRawLongBits(z) === 0L, "-1e-9 must round to +0.0")
    assert(java.lang.Double.doubleToRawLongBits(nz) === 0L, "-0.0 must normalize to +0.0")
    assert(neg === -0.457 && pos === 1.0)
  }
}
