package graft.tools

import graft.functions.{TopCells, TwoLevelCells}
import org.apache.spark.sql.NativeColumn
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Round-7 assignment-cost probe for the two-level IMI coarse quantizer
  * (VERDICT item 1 done-criterion): per-row assignment cost must scale
  * O(√k) where the flat scan is O(k).
  *
  * Method: a FIXED-size synthetic corpus (so wall-clock ∝ per-row cost)
  * of deterministic pseudo-random 64-dim float vectors, assigned once
  * through the flat [[TopCells]] scan over k centroids and once through
  * [[TwoLevelCells]] (kTop = ⌈√k⌉ top cells × subK sub-centroids,
  * TopProbe = 3 — the production expression with the production knob).
  * Codebooks are synthetic splitmix matrices: training is measured
  * elsewhere (it is two bounded Lloyd passes, linear in N); this probe
  * isolates the per-row argmax the verdict graded weak. Expectations at
  * dim-dot granularity per row: flat = k, imi = kTop + TopProbe·subK ≈
  * 4√k — so quadrupling k should roughly quadruple flat time but only
  * double imi time, and the flat/imi ratio should roughly double per 4×.
  *
  * Run: `sbt "runMain graft.tools.ImiStress [nRows] [k1,k2,...]"`
  * (defaults: 262144 rows; k = 256,1024,4096).
  */
object ImiStress {
  private val Dim = 64
  private val TopProbe = 3

  /** Deterministic splitmix float matrix in [-1, 1], distinct per seed. */
  private def matrix(rows: Int, seed: Long): Vector[Vector[Float]] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x; z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L; z ^= z >>> 27; z
    }
    Vector.fill(rows)(Vector.fill(Dim)(
      (math.floorMod(next(), 2000001L) - 1000000L).toFloat / 1000000.0f))
  }

  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 256L * 1024
    val ks = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
             else Seq(256, 1024, 4096)
    val spark = Stress2.session()

    // deterministic synthetic corpus: 64 xxhash64-derived floats per row;
    // generation cost is identical across both timed paths
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
      val kTop = math.ceil(math.sqrt(k.toDouble)).toInt
      val subK = math.ceil(k.toDouble / kTop).toInt
      val flatCents = matrix(k, 0x5eed0001L * k)
      val top = matrix(kTop, 0x5eed0002L * k)
      val sub = matrix(kTop * subK, 0x5eed0003L * k)

      val flatFactory = TopCells.broadcastOf(spark, flatCents, 1, 1e12)
      val imiFactory = TwoLevelCells.broadcastOf(
        spark, top, sub, subK, TopProbe, 1, 1e12)

      def run(factory: Expression => Expression): Unit = {
        val cells = NativeColumn(factory(NativeColumn.expression(col("embedding"))))
        corpus
          .select(element_at(cells, 1).as("cid"))
          .agg(sum(col("cid"))).collect()
        ()
      }
      val flatSec = timeIt(run(flatFactory))
      val imiSec = timeIt(run(imiFactory))
      println(f"""{"probe":"imi_assign","k":$k,"kTop":$kTop,"subK":$subK,""" +
        f""""rows":$nRows,"flat_sec":$flatSec%.3f,"imi_sec":$imiSec%.3f,""" +
        f""""speedup":${flatSec / imiSec}%.2f}""")
    }
    spark.stop()
  }
}
