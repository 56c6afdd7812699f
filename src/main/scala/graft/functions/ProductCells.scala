package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** PRODUCT-decomposition IMI coarse-quantizer assignment (round 8, VERDICT
  * item 1 — the rung past [[TwoLevelCells]]): per row, the ids of the
  * `topN` best leaf cells of a kA×kB PRODUCT grid, where cell (a, b) has
  * global id `a·kB + b`, half A of the vector is scored against a
  * kA-entry codebook over dims [0, dimA), half B against a kB-entry
  * codebook over dims [dimA, dim), and a cell's score is the EXACT
  * integer sum of the two quantized half-space squared-L2 distances.
  *
  * WHY (the round-7 verdict's one remaining 100 TB residual): the
  * hierarchical two-level quantizer fixed per-row COMPUTE (O(k) → O(√k))
  * but its trained model — the k·dim sub-centroid matrix — still grows
  * LINEARLY with the corpus (k = N/125): ~250 GB of driver/broadcast
  * state at 10⁹ leaves, dead on any driver. This is Babenko & Lempitsky's
  * original inverted multi-index (CVPR'12): two INDEPENDENT codebooks
  * over the two vector halves span kA·kB leaves with only
  * (kA+kB)·(dim/2) ≈ √k·dim codebook entries — O(√k·dim) TOTAL state for
  * the same leaf count, ~16 MB where the hierarchical model is ~250 GB —
  * at the cost of axis-decomposed cell geometry (cells are products of
  * half-space regions, so the distance metric must decompose over the
  * halves: squared L2 does exactly — d²(x, cell) = d²(x_A, c_a) +
  * d²(x_B, c_b) — where cosine does not, hence this expression scores
  * L2, not cosine).
  *
  * SELECTION CONTRACT: both half rankings order (quantized d² ASC, id
  * ASC); the leaf candidates are the full product of the `pSide` best
  * a-cells × `pSide` best b-cells, ranked (qd²a + qd²b ASC, cid ASC) —
  * an exact long add of two floor-quantized halves, so ranking never
  * rides on FP merge order. With pSide = 1 and topN = 1 the output is
  * the EXACT argmin cell of the whole kA·kB grid (the product structure
  * makes the two independent argmins globally optimal — no probing
  * approximation at all); for topN > 1 the bounded pSide×pSide frontier
  * is the standard multi-sequence approximation (exact whenever
  * pSide ≥ topN per side). Quantized d² accumulates (x_i − c_i)²
  * left-to-right in element order over float→double widenings (exact),
  * `floor(d²·quantScale)` to a long BEFORE any comparison — the
  * [[PqEncode]] contract per half. Both eval paths call the one kernel,
  * [[ProductCells.compute]].
  *
  * PROBING WIDTH (rounds 9 and 11): serving probes consume the full
  * pSide² frontier, and callers pass pSide = topN = frontier size. By
  * multi-sequence exactness the t-th best grid cell has per-side rank
  * ≤ t, so the frontier is then the EXACT top-topN of the whole grid by
  * summed half-distance. Axis-decomposed cells carry less locality than
  * flat or hierarchical ones, so width matters: at the 4×4 oracle
  * geometry a 4-cell prefix served recall@3 = 0.80, re-ranking it by
  * centroid cosine did not move it, and the full 9-cell frontier served
  * 1.00 (BASELINE.md). The product merge runs w² insertion-sort inserts
  * per row for per-side pools of w — O(nprobe³) at w = topN = nprobe.
  * That is fine for the per-query probe rows this serves (assignment
  * passes w = topN = 1); a whole-corpus scan at large nprobe should
  * switch to the multi-sequence heap walk (O(topN·log w) per row) first.
  * The consumer's exact quantized-cosine top-k over the frontier's cells
  * is the rescore stage (the PQ r7 pattern).
  *
  * HOW THE MATRICES TRAVEL: the [[TwoLevelCells]] contract — two
  * broadcast handles (a: kA·dimA doubles, b: kB·dimB doubles), O(1) plan
  * size, fetched once per executor JVM, dereferenced once per operator
  * instance into mutable state. Build via [[ProductCells.broadcastPair]]
  * once per quantizer instance and reuse across assign/probe plans.
  *
  * Mismatched input length yields NULL; `topN` beyond pSide² yields the
  * full ranking of the probed frontier.
  */
case class ProductCells(
    child: Expression,
    a: Broadcast[Array[Double]],
    b: Broadcast[Array[Double]],
    kA: Int,
    kB: Int,
    dim: Int,
    pSide: Int,
    topN: Int,
    quantScale: Double)
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val aFlat: Array[Double] = a.value
  @transient private lazy val bFlat: Array[Double] = b.value

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "product_cells"

  override def nullSafeEval(av: Any): Any =
    ProductCells.compute(av.asInstanceOf[ArrayData], aFlat, bFlat, kA, kB, dim, pSide,
      topN, quantScale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val am = TopCells.broadcastState(ctx, a, "double[]", "pimiA")
    val bm = TopCells.broadcastState(ctx, b, "double[]", "pimiB")
    nullSafeCodeGen(ctx, ev, av =>
      s"""${ev.value} = graft.functions.ProductCells.compute(
         |  $av, $am, $bm, $kA, $kB, $dim, $pSide, $topN, ${quantScale}D);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ProductCells =
    copy(child = newChild)
}

object ProductCells {

  /** The per-row kernel both eval paths call: the `topN` best cells of the
    * pSide × pSide product frontier, or null when `x` is not `dim` long.
    * The row is widened to doubles once, before the codeword loops. */
  def compute(x: ArrayData, am: Array[Double], bm: Array[Double], kA: Int, kB: Int,
      dim: Int, pSide: Int, topN: Int, quantScale: Double): ArrayData = {
    if (x.numElements() != dim) return null
    val xd = new Array[Double](dim)
    var i = 0
    while (i < dim) { xd(i) = x.getFloat(i).toDouble; i += 1 }
    val dimA = dim / 2
    val dimB = dim - dimA
    val pA = math.min(pSide, kA)
    val pB = math.min(pSide, kB)
    val n = math.min(topN, pA * pB)
    val aQ = new Array[Long](pA)
    val aC = new Array[Int](pA)
    java.util.Arrays.fill(aQ, Long.MaxValue)
    java.util.Arrays.fill(aC, Int.MaxValue)
    var ai = 0
    while (ai < kA) {
      insert(aQ, aC, pA, PqEncode.d2q(xd, 0, dimA, am, ai * dimA, quantScale), ai)
      ai += 1
    }
    val bQ = new Array[Long](pB)
    val bC = new Array[Int](pB)
    java.util.Arrays.fill(bQ, Long.MaxValue)
    java.util.Arrays.fill(bC, Int.MaxValue)
    var bi = 0
    while (bi < kB) {
      insert(bQ, bC, pB, PqEncode.d2q(xd, dimA, dimB, bm, bi * dimB, quantScale), bi)
      bi += 1
    }
    val bestQ = new Array[Long](n)
    val bestC = new Array[Int](n)
    java.util.Arrays.fill(bestQ, Long.MaxValue)
    java.util.Arrays.fill(bestC, Int.MaxValue)
    i = 0
    while (i < pA) {
      var j = 0
      while (j < pB) {
        insert(bestQ, bestC, n, aQ(i) + bQ(j), aC(i) * kB + bC(j))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(bestC)
  }

  /** (q ASC, id ASC) insertion into parallel best arrays of length `len`. */
  private def insert(bq: Array[Long], bc: Array[Int], len: Int, q: Long, id: Int): Unit = {
    var at = len
    while (at > 0 && (q < bq(at - 1) || (q == bq(at - 1) && id < bc(at - 1)))) at -= 1
    if (at < len) {
      var s = len - 1
      while (s > at) { bq(s) = bq(s - 1); bc(s) = bc(s - 1); s -= 1 }
      bq(at) = q; bc(at) = id
    }
  }

  /** Broadcast both half-space codebooks ONCE and return the handles —
    * a quantizer instance calls this once and reuses the pair across
    * every assign/probe plan it builds (the [[TwoLevelCells.broadcastPair]]
    * contract). `a` rows span dims [0, dim/2), `b` rows span the rest. */
  def broadcastPair(
      spark: SparkSession,
      a: Vector[Vector[Float]],
      b: Vector[Vector[Float]]): (Broadcast[Array[Double]], Broadcast[Array[Double]]) = {
    require(a.nonEmpty && b.nonEmpty, "empty half-space codebook")
    require(a.forall(_.size == a.head.size), "a-codebook width mismatch")
    require(b.forall(_.size == b.head.size), "b-codebook width mismatch")
    (spark.sparkContext.broadcast(a.flatten.map(_.toDouble).toArray),
      spark.sparkContext.broadcast(b.flatten.map(_.toDouble).toArray))
  }

  /** One-shot convenience (stress/spec harnesses): broadcast + factory. */
  def broadcastOf(
      spark: SparkSession,
      a: Vector[Vector[Float]],
      b: Vector[Vector[Float]],
      pSide: Int,
      topN: Int,
      quantScale: Double): Expression => ProductCells = {
    val (aBc, bBc) = broadcastPair(spark, a, b)
    val dim = a.head.size + b.head.size
    require(a.head.size == dim / 2,
      s"a-codebook must span dim/2 = ${dim / 2} dims, got ${a.head.size}")
    child =>
      ProductCells(child, aBc, bBc, a.size, b.size, dim, pSide, topN,
        quantScale)
  }
}
