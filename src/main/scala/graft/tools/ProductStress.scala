package graft.tools

import graft.functions.{vec, ProductCells, TwoLevelCells}
import org.apache.spark.sql.NativeColumn
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Round-8 STATE-bound probe for the product-decomposition IMI quantizer
  * (VERDICT item 1 done-criterion): trained-model state must scale
  * O(√k·dim) where the hierarchical two-level model is O(k·dim), with
  * per-row assignment cost staying O(√k) for both.
  *
  * Method: at each k, build the hierarchical geometry (kTop = ⌈√k⌉ top
  * cells × subK sub-centroids — model = (kTop + kTop·subK)·dim doubles)
  * and the product geometry (kA = kB = ⌈√k⌉ half-space codebooks — model
  * = (kA + kB)·(dim/2) doubles) over synthetic splitmix matrices, report
  * the EXACT model sizes (the arrays the driver materializes and
  * broadcasts — measured, not derived), and time one assignment pass over
  * a fixed-size synthetic corpus through each expression. Expectations:
  * hierarchical state grows ∝ k (×4 per 4× k), product state ∝ √k (×2
  * per 4× k); per-row time O(√k) for both (the product path does half
  * the dots per scanned row, so it should also be modestly faster).
  *
  * A final probe runs the REAL training path (`Ann.trainProduct`) at
  * k = 4096 on a driver-SF corpus and reports the trained model size +
  * a full assignment, exercising seed selection, the per-half Lloyd and
  * the DIV/MOD cell decomposition end-to-end at a k no driver oracle
  * reaches.
  *
  * Run: `sbt "runMain graft.tools.ProductStress [nRows] [k1,k2,...] [sfDir]"`
  * (defaults: 262144 rows; k = 4096,16384,65536; /root/testdata/sf0.01).
  */
object ProductStress {
  private val Dim = 64

  private def matrix(rows: Int, cols: Int, seed: Long): Vector[Vector[Float]] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x; z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L; z ^= z >>> 27; z
    }
    Vector.fill(rows)(Vector.fill(cols)(
      (math.floorMod(next(), 2000001L) - 1000000L).toFloat / 1000000.0f))
  }

  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 256L * 1024
    val ks = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
             else Seq(4096, 16384, 65536)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = Stress2.session()

    val emb = transform(sequence(lit(1), lit(Dim)),
      i => ((pmod(xxhash64(col("id") * lit(Dim) + i.cast("long")), lit(2000001L))
        - lit(1000000L)).cast("double") / lit(1000000.0)).cast("float"))
    def corpus = spark.range(0L, nRows, 1L, 32)
      .select(col("id"), emb.as("embedding"))

    def timeIt(f: => Unit): Double = {
      f // warm: JIT + codegen cache
      val t0 = System.nanoTime(); f
      val t1 = System.nanoTime(); f
      math.min(t1 - t0, System.nanoTime() - t1) / 1e9
    }

    for (k <- ks) {
      val kSide = math.ceil(math.sqrt(k.toDouble)).toInt
      // hierarchical geometry: kTop tops + kTop*subK leaves, full-dim rows
      val top = matrix(kSide, Dim, 0x0a11ce01L * k)
      val sub = matrix(kSide * kSide, Dim, 0x0a11ce02L * k)
      // product geometry: two half-space codebooks spanning the same grid
      val aCb = matrix(kSide, Dim / 2, 0x0a11ce03L * k)
      val bCb = matrix(kSide, Dim / 2, 0x0a11ce04L * k)
      val hierDoubles = (top.size + sub.size).toLong * Dim
      val prodDoubles = (aCb.size + bCb.size).toLong * (Dim / 2)

      val hierFactory = TwoLevelCells.broadcastOf(
        spark, top, sub, kSide, 3, 1, 1e12)
      val prodFactory = ProductCells.broadcastOf(spark, aCb, bCb, 1, 1, 1e12)

      def run(factory: Expression => Expression): Unit = {
        val cells = NativeColumn(factory(NativeColumn.expression(col("embedding"))))
        corpus
          .select(element_at(cells, 1).as("cid"))
          .agg(sum(col("cid"))).collect()
        ()
      }
      val hierSec = timeIt(run(hierFactory))
      val prodSec = timeIt(run(prodFactory))
      println(f"""{"probe":"product_state","k":${kSide * kSide},""" +
        f""""kSide":$kSide,"rows":$nRows,""" +
        f""""hier_state_mb":${hierDoubles * 8 / 1048576.0}%.2f,""" +
        f""""prod_state_mb":${prodDoubles * 8 / 1048576.0}%.3f,""" +
        f""""state_ratio":${hierDoubles.toDouble / prodDoubles}%.1f,""" +
        f""""hier_sec":$hierSec%.3f,"prod_sec":$prodSec%.3f}""")
    }

    // real training-path probe at the first k: trainProduct end-to-end on
    // a driver-SF corpus (seeds clamp to the corpus if smaller)
    val kReal = ks.head
    val t0 = System.nanoTime()
    val qz = graft.operators.Ann.trainProduct(spark, sfDir, kReal)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val asgRows = qz.assign(spark, graft.Tables.t(spark, sfDir, "embeddings"))
      .groupBy(col("cid")).count().count()
    val realDoubles =
      qz.a.map(_.size).sum.toLong + qz.b.map(_.size).sum.toLong
    println(f"""{"probe":"product_train","k":$kReal,"sf":"$sfDir",""" +
      f""""model_doubles":$realDoubles,"train_sec":$trainSec%.2f,""" +
      f""""nonempty_cells":$asgRows}""")

    // SERVING-RECALL probe at k ≥ 4096 (round 9, VERDICT item 1
    // done-criterion) — at the REAL CellTarget geometry: a synthetic
    // 512k-vector corpus gives k = N/125 = 4096 (~125 vectors/cell),
    // the regime the product rung actually owns, not the degenerate
    // k > N overload the driver SFs would produce. Both the product and
    // the hierarchical two-level quantizer are trained on the same
    // corpus and measured at the same probed-cell widths, so the number
    // that matters — does the O(√k·dim)-state rung pay a RECALL price
    // over the O(k·dim) rung it replaces? — is read off directly.
    // Uniform splitmix vectors are the no-manifold worst case for any
    // coarse quantizer (the PQ recall-sweep caveat), so these are floor
    // figures, honest to track round-over-round.
    val recallDir = "/tmp/graft_pstress_corpus"
    val recallN = 512L * 1024
    val marker = new java.io.File(s"$recallDir/_done")
    if (!marker.exists()) {
      spark.range(0L, recallN, 1L, 32)
        .select(col("id").as("vec_id"), emb.as("embedding"))
        .write.mode("overwrite").parquet(s"$recallDir/embeddings.parquet")
      marker.createNewFile()
    }
    val eDf = graft.Tables.t(spark, recallDir, "embeddings")
    val kRecall = (recallN / 125L).toInt // = 4096
    val nQ = 5; val topK = 3
    val qs = eDf.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def topkOf(cand: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      // exact quantized-cosine top-k per query over a candidate relation
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cq").desc, col("neighbor_id"))
      cand.filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          floor(vec.cosine(col("qe"), col("ne")) * lit(1e12))
            .cast("bigint").as("cq"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
        .select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    }
    val brute = topkOf(qs.crossJoin(
      eDf.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))))
    def recallOf(
        name: String,
        qzAny: graft.operators.Ann.CoarseQuantizer,
        trainSec: Double): Unit = {
      val asg = qzAny.assign(spark, eDf)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
          col("cid"))
        .persist()
      asg.count()
      for (np <- Seq(4, 16, 32, 64)) {
        val probe = qzAny.probe(spark, eDf.filter(col("vec_id") < nQ), np)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("cid"))
        val served = topkOf(probe.join(asg, "cid"))
        val hits = brute.map { case (q, n) =>
          n.count(served.getOrElse(q, Set.empty)) }.sum
        val cellsProbed = probe.select(col("query_id"), col("cid"))
          .count() / nQ.toDouble
        println(f"""{"probe":"serving_recall","quantizer":"$name",""" +
          f""""k":$kRecall,"rows":$recallN,"nprobe":$np,""" +
          f""""cells_probed":$cellsProbed%.1f,"train_sec":$trainSec%.2f,""" +
          f""""recall_at3":${hits.toDouble / (nQ * topK)}%.2f}""")
      }
      asg.unpersist()
    }
    val tp0 = System.nanoTime()
    val qzProd = graft.operators.Ann.trainProduct(spark, recallDir, kRecall)
    recallOf("product", qzProd, (System.nanoTime() - tp0) / 1e9)
    val th0 = System.nanoTime()
    val qzHier = graft.operators.Ann.trainTwoLevel(spark, recallDir, kRecall)
    recallOf("two_level", qzHier, (System.nanoTime() - th0) / 1e9)
    spark.stop()
  }
}
