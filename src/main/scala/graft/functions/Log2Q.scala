package graft.functions

import org.apache.spark.sql.{Column, NativeColumn}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.types._

/** Native exact dyadic log2: `log2(n/d)` in units of 2^-10 bits, as a
  * BIGINT `e*1024 + f` that Spark and the DuckDB oracle compute
  * bit-identically, with no transcendental (ln/log2/pow are last-ulp
  * engine-specific).
  *
  * The characteristic `e = bitlen(n div d) - 1` is floor(log2(n/d))
  * (2^e ≤ n div d ≤ n/d < 2^(e+1)). The mantissa seed is the rational
  * floor `m = (n·2^30) div (d·2^e)` in [2^30, 2^31), and each of the 10
  * fractional bits comes from the squaring recurrence `m2 = m² div 2^30`:
  * the bit is 1 and `m = m2 div 2` when `m2 ≥ 2^31`, else the bit is 0 and
  * `m = m2`. Every step is exact integer math (m² < 2^62).
  *
  * Input range: 1 ≤ d ≤ n < 2^63 and d ≤ 2^32. The seed is computed as
  * `n div (d·2^(e-30))` for e ≥ 30 and `(n·2^(30-e)) div d` below, the same
  * rational, so no intermediate exceeds n or d·2^31 (n = 2^60 with d = 1
  * is in range). Outside the range the result is unspecified; a NULL input
  * gives NULL.
  *
  * Both eval paths call the one kernel, [[Log2Q.compute]]; [[Log2Q.sql]] is
  * the oracle's form of the same recurrence, so the two drift together or
  * not at all. As one expression the recurrence is one plan node: written
  * as a Column tree it would double per step (m is read twice per step).
  */
case class Log2Q(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "log2q"

  override def nullSafeEval(n: Any, d: Any): Any =
    Log2Q.compute(n.asInstanceOf[Long], d.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call per row: the row stays inside whole-stage codegen
    defineCodeGen(ctx, ev, (n, d) => s"graft.functions.Log2Q.compute($n, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Log2Q =
    copy(left = newLeft, right = newRight)
}

object Log2Q {

  /** Fractional bits: resolution 2^-10 ≈ 0.001 bits. */
  private val FracBits = 10

  /** `e*1024 + f` for n/d (see the class doc for the range). */
  def compute(n: Long, d: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n / d)
    var m = if (e >= 30) n / (d << (e - 30)) else (n << (30 - e)) / d
    var f = 0L
    var i = 0
    while (i < FracBits) {
      val m2 = (m * m) >>> 30
      if (m2 >= (1L << 31)) { f = f * 2 + 1; m = m2 >>> 1 }
      else { f = f * 2; m = m2 }
      i += 1
    }
    e * 1024L + f
  }

  /** `log2q(n, d)` as a Column. */
  def col(n: Column, d: Column): Column =
    NativeColumn(Log2Q(NativeColumn.expression(n), NativeColumn.expression(d)))

  /** DuckDB side: the same value for BIGINT-valued SQL expressions `n` and
    * `d`, as one expression. `list_reduce` runs the recurrence over
    * `[m0*1024, 1..10]`, carrying `(m, f)` packed as `m*1024 + f` (f stays
    * below 2^10). The seed shifts by `greatest(…, 0)` on both sides, so
    * only one of them moves and neither overflows. */
  def sql(n: String, d: String): String = {
    val (nb, db) = (s"CAST($n AS BIGINT)", s"CAST($d AS BIGINT)")
    val e = s"CAST(length(bin($nb // $db)) - 1 AS BIGINT)"
    val m0 = s"($nb << greatest(30 - $e, 0)) // ($db << greatest($e - 30, 0))"
    val m2 = s"((a // 1024) * (a // 1024) // ${1L << 30})"
    s"""($e * 1024 + list_reduce([($m0) * 1024, ${(1 to FracBits).mkString(", ")}],
       |  (a, x) -> CASE WHEN $m2 >= ${1L << 31}
       |    THEN ($m2 // 2) * 1024 + (a % 1024) * 2 + 1
       |    ELSE $m2 * 1024 + (a % 1024) * 2 END) % 1024)""".stripMargin
  }
}
