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
  * accumulation in element order, so the result is deterministic. Both
  * eval paths call the one kernel, [[CosineSimilarity.compute]].
  *
  * Returns 0.0 when either vector has zero norm; null on null input.
  *
  * LENGTH SEMANTICS (round 3): vectors of DIFFERENT lengths yield NULL,
  * not a score over their common prefix — a 64-dim query against 128-dim
  * data through the SQL `cosine_sim` would otherwise "work" with no
  * signal. NULL propagates loudly through filters and top-k; every
  * internal caller uses equal-length vectors, and the DuckDB oracle's
  * `list_cosine_similarity` errors on mismatch. Pinned by OperatorSpec and
  * PropertySpec.
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
    if (x.numElements() != y.numElements()) null else CosineSimilarity.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the length guard sets NULL here, so the kernel returns an unboxed double
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = $a.numElements() != $b.numElements();
         |if (!${ev.isNull}) ${ev.value} = graft.functions.CosineSimilarity.compute($a, $b);
         |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Cosine of two equal-length vectors, the one kernel both eval paths
    * call (the caller checks the lengths). */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
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
