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
  * [[PqEncode]] contract per half. Interpreted and generated paths run
  * the identical op sequence.
  *
  * PROBING WIDTH (round 9, VERDICT item 1; round 11, item 4): serving
  * probes consume a full pSide²-cell frontier, not a truncated prefix —
  * axis-decomposed cells carry less locality per cell than flat/
  * hierarchical cells (a cell is a PRODUCT of half-space regions, so two
  * vectors can share it while disagreeing badly on either half), which is
  * the textbook IMI trade (Babenko & Lempitsky buy it back by probing
  * many more, much smaller cells). Measured at the 4×4 oracle geometry:
  * a 4-cell prefix served recall@3 = 0.80 — and RE-RANKING the prefix by
  * exact centroid cosine did not move it (0.80; full-grid cosine ranking
  * measured WORSE, 0.73; BASELINE.md "Retired instruments") — while the
  * full 9-cell frontier serves 1.00: the loss was frontier WIDTH, not
  * ranking geometry. Round 11 widened the per-side CANDIDATE POOL to topN
  * (callers pass pSide = topN = frontier size): by multi-sequence
  * exactness the t-th best grid cell has per-side rank ≤ t, so the
  * emitted frontier is the EXACT top-topN of the whole grid by summed
  * half-distance — the round-9 3-per-side pool made a cell ranked 4th on
  * one axis unreachable, the 0.80 recall@3 plateau recorded at the
  * 512k/k=4096 geometry (BASELINE.md round 11). Distance work per row is
  * unchanged (all kA + kB half-distances were computed regardless), but
  * the MERGE loop is not (round-11 ADVICE): with per-side pools of w
  * candidates the product merge runs w² iterations, each an O(topN)
  * insertion-sort insert — at w = topN = nprobe that is O(nprobe³) per
  * row (~4096 inserts into 64-wide arrays at nprobe = 64). Fine for the
  * QUERY-side row counts this expression serves (probes are per-query,
  * not per-corpus; assignment passes w = topN = 1); a whole-corpus scan
  * at large nprobe should replace the brute product merge with the
  * standard multi-sequence heap traversal (Babenko & Lempitsky's
  * frontier walk — O(topN·log w) per row) before widening further.
  * The consumer still joins pSide² cells.
  * The frontier is the bounded shortlist; the consumer's exact
  * quantized-cosine top-k over its members is the rescore stage (the PQ
  * r7 pattern).
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

  private val dimA = dim / 2
  private val dimB = dim - dimA
  private val pA = math.min(pSide, kA)
  private val pB = math.min(pSide, kB)
  private val n = math.min(topN, pA * pB)

  @transient private lazy val aFlat: Array[Double] = a.value
  @transient private lazy val bFlat: Array[Double] = b.value

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "product_cells"

  override def nullSafeEval(av: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    if (x.numElements() != dim) return null
    // quantized squared L2 of the half starting at `off` (length `len`)
    // against row `rid` of matrix `m` — the PqEncode accumulation contract
    def d2q(m: Array[Double], rid: Int, off: Int, len: Int): Long = {
      var acc = 0.0
      var j = 0
      while (j < len) {
        val d = x.getFloat(off + j).toDouble - m(rid * len + j)
        acc += d * d
        j += 1
      }
      math.floor(acc * quantScale).toLong
    }
    // (q ASC, id ASC) insertion into parallel best arrays
    def insert(bq: Array[Long], bc: Array[Int], len: Int, q: Long, id: Int): Unit = {
      var at = len
      while (at > 0 && (q < bq(at - 1) || (q == bq(at - 1) && id < bc(at - 1)))) at -= 1
      if (at < len) {
        var s = len - 1
        while (s > at) { bq(s) = bq(s - 1); bc(s) = bc(s - 1); s -= 1 }
        bq(at) = q; bc(at) = id
      }
    }
    val aQ = Array.fill(pA)(Long.MaxValue)
    val aC = Array.fill(pA)(Int.MaxValue)
    var ai = 0
    while (ai < kA) { insert(aQ, aC, pA, d2q(aFlat, ai, 0, dimA), ai); ai += 1 }
    val bQ = Array.fill(pB)(Long.MaxValue)
    val bC = Array.fill(pB)(Int.MaxValue)
    var bi = 0
    while (bi < kB) { insert(bQ, bC, pB, d2q(bFlat, bi, dimA, dimB), bi); bi += 1 }
    val bestQ = Array.fill(n)(Long.MaxValue)
    val bestC = Array.fill(n)(Int.MaxValue)
    var i = 0
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = "org.apache.spark.broadcast.Broadcast"
    val aRef = ctx.addReferenceObj("pimiABc", a, bcCls)
    val bRef = ctx.addReferenceObj("pimiBBc", b, bcCls)
    val am = ctx.addMutableState("double[]", "pimiA",
      v => s"$v = (double[]) (($bcCls) $aRef).value();")
    val bm = ctx.addMutableState("double[]", "pimiB",
      v => s"$v = (double[]) (($bcCls) $bRef).value();")
    nullSafeCodeGen(ctx, ev, av => {
      val aQ = ctx.freshName("aQ"); val aC = ctx.freshName("aC")
      val bQ = ctx.freshName("bQ"); val bC = ctx.freshName("bC")
      val bestQ = ctx.freshName("bestQ"); val bestC = ctx.freshName("bestC")
      val r = ctx.freshName("r")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val acc = ctx.freshName("acc"); val df = ctx.freshName("df")
      val q = ctx.freshName("q")
      // every derived name gets its OWN freshName (round 9, ADVICE): a
      // string-suffixed freshName result (q+"2") matches freshName's
      // prefix_id format and can collide with another expression's
      // identifier in the same CodegenContext — uncompilable generated
      // code, silent interpreter fallback.
      val q2 = ctx.freshName("qtwo")
      val qs = ctx.freshName("qsum"); val qc = ctx.freshName("qcid")
      val at = ctx.freshName("at"); val sh = ctx.freshName("sh")
      // one quantized-half-d² body, emitted per matrix: same op sequence
      // as the interpreted d2q. NOTE: generated lines must never START
      // with '|' (the outer stripMargin would eat it as a margin marker).
      def d2qInto(m: String, rid: String, off: Int, len: Int, out: String): String =
        s"""double $acc = 0.0;
           |for (int $j = 0; $j < $len; $j++) {
           |  final double $df = ((double) $av.getFloat($off + $j)) - $m[$rid * $len + $j];
           |  $acc += $df * $df;
           |}
           |final long $out = (long) java.lang.Math.floor($acc * ${quantScale}D);
           |""".stripMargin
      def insertInto(bq: String, bc: String, len: Int, qv: String, cv: String): String =
        s"""int $at = $len;
           |while ($at > 0 && ($qv < $bq[$at - 1] ||
           |    ($qv == $bq[$at - 1] && $cv < $bc[$at - 1]))) $at--;
           |if ($at < $len) {
           |  for (int $sh = $len - 1; $sh > $at; $sh--) {
           |    $bq[$sh] = $bq[$sh - 1]; $bc[$sh] = $bc[$sh - 1];
           |  }
           |  $bq[$at] = $qv; $bc[$at] = $cv;
           |}
           |""".stripMargin
      s"""
         |if ($av.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  final long[] $aQ = new long[$pA]; final int[] $aC = new int[$pA];
         |  java.util.Arrays.fill($aQ, Long.MAX_VALUE);
         |  java.util.Arrays.fill($aC, Integer.MAX_VALUE);
         |  for (int $r = 0; $r < $kA; $r++) {
         |    ${d2qInto(am, r, 0, dimA, q)}
         |    ${insertInto(aQ, aC, pA, q, r)}
         |  }
         |  final long[] $bQ = new long[$pB]; final int[] $bC = new int[$pB];
         |  java.util.Arrays.fill($bQ, Long.MAX_VALUE);
         |  java.util.Arrays.fill($bC, Integer.MAX_VALUE);
         |  for (int $r = 0; $r < $kB; $r++) {
         |    ${d2qInto(bm, r, dimA, dimB, q2)}
         |    ${insertInto(bQ, bC, pB, q2, r)}
         |  }
         |  final long[] $bestQ = new long[$n]; final int[] $bestC = new int[$n];
         |  java.util.Arrays.fill($bestQ, Long.MAX_VALUE);
         |  java.util.Arrays.fill($bestC, Integer.MAX_VALUE);
         |  for (int $i = 0; $i < $pA; $i++) {
         |    for (int $j = 0; $j < $pB; $j++) {
         |      final long $qs = $aQ[$i] + $bQ[$j];
         |      final int $qc = $aC[$i] * $kB + $bC[$j];
         |      ${insertInto(bestQ, bestC, n, qs, qc)}
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($bestC);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ProductCells =
    copy(child = newChild)
}

object ProductCells {
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
