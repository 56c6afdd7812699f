package graft.functions

import org.apache.spark.sql.{Column, NativeColumn}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{lit, round}
import org.apache.spark.sql.types._

/** Native Catalyst cosine-similarity over two `ArrayType(FloatType)` columns.
  *
  * A codegen'd expression instead of a Scala UDF (SURVEY.md §7.3): no
  * Row↔Scala boxing, no Seq[Float] materialization per row, stays inside
  * whole-stage codegen. Math is done in double with strict left-to-right
  * accumulation in element order, so the result is deterministic and
  * identical between the interpreted and generated paths.
  *
  * Returns 0.0 when either vector has zero norm; null on null input.
  *
  * LENGTH SEMANTICS (round-3 ADVICE fix): vectors of DIFFERENT lengths
  * yield NULL. The round-2 behavior scored mismatched vectors over their
  * common prefix — plausible-looking numbers with no signal — which became
  * a silent-wrong-result footgun once GraftExtensions exposed `cosine_sim`
  * to arbitrary SQL (a 64-dim query against 128-dim data "worked"). NULL
  * propagates loudly through filters/top-k, matches the null-in contract,
  * and costs one branch. Every internal caller uses equal-length vectors
  * (the driver tables are uniformly 64-dim; multimodal features are fixed
  * 8-lane), and the DuckDB oracle's `list_cosine_similarity` errors on
  * mismatch, so no oracle-checked query can rely on mixed lengths.
  * Behavior is pinned by a spec.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  // nullable even for non-null inputs: length mismatch yields null
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    val den = math.sqrt(nx) * math.sqrt(ny)
    if (den == 0.0) 0.0 else dot / den
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val den = ctx.freshName("den")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xv = (double) $a.getFloat($i);
         |    final double $yv = (double) $b.getFloat($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  final double $den = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  ${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object vec {
  /** `cosine_sim(a, b)` as a Column. */
  def cosine(a: Column, b: Column): Column =
    NativeColumn(CosineSimilarity(NativeColumn.expression(a), NativeColumn.expression(b)))

  /** Round to `n` dp and normalize the IEEE signed zero (SURVEY §2.5 R8):
    * DuckDB's `ROUND` of a tiny negative value emits -0.0 where Spark's
    * emits +0.0 — bitwise different, so the harness hash diverges on an
    * otherwise identical row (round-3 verdict, seen once at sf0.01 in
    * q_sim_ann_lsh). `+ 0.0` maps -0.0 → +0.0 and is exact for every other
    * double, so applying it on BOTH engines (`(ROUND(x, n) + 0.0)` on the
    * oracle side) closes the hazard structurally for any output whose value
    * can reach zero from below. */
  def roundz(c: Column, n: Int): Column = round(c, n) + lit(0.0)
}
