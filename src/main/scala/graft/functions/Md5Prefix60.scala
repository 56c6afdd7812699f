package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Native h60 kernel (round 13): the top 60 bits of `md5(bytes)` as a
  * non-negative BIGINT — bit-identical to the round-1..12 column formula
  * `conv(substring(md5(c), 1, 15), 16, 10)` (15 hex digits = the digest's
  * first 60 bits) and to the oracle's
  * `CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)`.
  *
  * The h60 VALUE is pinned by the DuckDB oracle (fingerprints, MinHash
  * bases, band keys, mix/split gates all replay it in SQL), so the hash
  * itself cannot change — but the old column chain materialized a 32-char
  * hex STRING per row, substring'd it, and re-parsed 15 hex chars through
  * `conv`'s base-conversion loop, on the hottest per-shingle path in the
  * engine (MinHash signatures run it per exploded shingle row, per lineage
  * replay). This expression computes the same MD5 digest and reads the
  * first 60 bits straight out of the digest bytes: no hex encode, no
  * substring, no string-to-number parse (guide §1.2 step 2). The digest
  * instance is reused per thread. XHashSpec pins new ≡ old on
  * edge-case and fixture strings.
  */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override def nullSafeEval(input: Any): Any =
    Md5Prefix60.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call per row: the row stays inside whole-stage codegen
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object Md5Prefix60 {

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(bytes), big-endian — the integer value of the
    * digest's first 15 hex digits. Always non-negative (fits 60 bits). */
  def compute(bytes: Array[Byte]): Long = {
    val m = md.get()
    m.reset()
    val d = m.digest(bytes)
    val top64 =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top64 >>> 4
  }
}
