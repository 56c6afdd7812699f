package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, NativeColumn}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** From-scratch Count–Min sketch (Cormode/Muthukrishnan '05) as a
  * `TypedImperativeAggregate`: D×W long counters; a string increments one
  * counter per row (xxhash64 with per-row seeds); point estimate =
  * min over rows — an OVERESTIMATE, never an under-estimate, which is the
  * property `q_heavy_hitters` exploits: CMS candidates have no false
  * negatives, so exact re-counting the candidates yields exactly the true
  * heavy hitters while the first pass stays a constant-size
  * mergeable aggregate instead of a corpus-wide groupBy. (4x8192 long counters = 256 KB serialized.)
  *
  * Determinism: counter updates are integer additions and merge is
  * element-wise addition — associative and commutative, so the sketch is
  * bit-identical under any partitioning/merge order (same argument as
  * [[HllSketch]]'s byte-max registers, SURVEY.md R3).
  */
case class CmsSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with ExpectsInputTypes with UnaryLike[Expression] {

  import CmsSketch._

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](D * W)

  override def update(buf: Array[Long], row: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      var i = 0
      while (i < D) {
        buf(i * W + bucket(s, i)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(D * W)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(n: Int): CmsSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CmsSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch =
    copy(child = newChild)
}

object CmsSketch {
  /** 4 hash rows × 8192 buckets: ε ≈ e/W ≈ 3.3e-4 of the stream per
    * estimate at δ ≈ e^-4 — far tighter than the 1% heavy-hitter threshold,
    * so candidate counts stay near-exact and the candidate set small. */
  val D = 4
  val W = 8192

  private[functions] def bucket(s: UTF8String, row: Int): Int = {
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0x9e37 + row)
    java.lang.Math.floorMod(h, W.toLong).toInt
  }
}

/** Point lookup into a serialized [[CmsSketch]]: `cms_estimate(sketch, s)` =
  * min over the D counters — ≥ the true count of `s`. The sketch side is a
  * 256 KB binary literal (materialized like [[graft.operators.BloomPrune]]'s
  * filter); reads go straight against the byte array, no deserialization.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  import CmsSketch._

  override def inputTypes = Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override def nullSafeEval(sk: Any, v: Any): Any =
    CmsEstimate.estimate(sk.asInstanceOf[Array[Byte]], v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sk, v) => {
      val cls = CmsEstimate.getClass.getName.stripSuffix("$") + "$"
      s"""${ev.value} = ($cls.MODULE$$).estimate($sk, $v);"""
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {
  /** Shared by interpreted + generated paths. */
  def estimate(bytes: Array[Byte], s: UTF8String): Long = {
    import CmsSketch._
    val bb = ByteBuffer.wrap(bytes)
    var est = Long.MaxValue
    var i = 0
    while (i < D) {
      val c = bb.getLong((i * W + bucket(s, i)) * 8)
      if (c < est) est = c
      i += 1
    }
    est
  }
}

object cms {
  /** `cms_sketch(c)` as an aggregate Column. */
  def sketch(c: Column): Column =
    NativeColumn(CmsSketch(NativeColumn.expression(c)).toAggregateExpression())

  /** `cms_estimate(sketch, c)` as a Column. */
  def estimate(sketch: Column, c: Column): Column =
    NativeColumn(CmsEstimate(NativeColumn.expression(sketch), NativeColumn.expression(c)))
}
