package graft.functions

import org.apache.spark.sql.{Column, NativeColumn}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst consecutive-k-gram pair builder (round 13): all
  * `(g1, g2)` pairs of OVERLAPPING word k-grams of `text` as one
  * `ARRAY<STRUCT<g1: STRING, g2: STRING>>`. For k=2 and "a b c d" the
  * pairs are `[("a b","b c"), ("b c","c d")]` — the two overlapping
  * bigrams inside each trigram, the graph family's edge generator
  * (community, pagerank, linkpred, kcore, assortativity). For k=1 the
  * pairs are adjacent words — the bigram collocation stream of
  * q_text_pmi / q_text_llr / q_text_textrank / q_graph_triangles. Docs
  * with fewer than k+1 words yield an empty array.
  *
  * The round-4..12 shape computed these as `kgrams(text, k+1)` →
  * `split(item, ' ')` → `concat_ws`/element picks — materializing every
  * (k+1)-gram string only to re-split it and re-join its halves, i.e.
  * each corpus token was copied into ~(k+1) gram strings, ~2(k+1)
  * split-out word strings, and ~2k pair-half strings per consumer replay.
  * Here the split happens ONCE per doc and each k-gram string is built
  * ONCE and shared by the two pairs referencing it (guide §1.2 step 2:
  * per-task work). Emitted pairs are byte-identical to the old
  * construction: gram i = words[i..i+k-1] joined by " " under the same
  * `split(text, ' ')` convention (empties kept) as [[KGrams]], which is
  * also the oracle SQL's `string_split` convention, and sub-(k+1)-word
  * docs contribute nothing (the old pipeline filtered their whole-text
  * item out with `size(split(item)) === k+1`).
  */
case class KGramPairs(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1, s"k must be >= 1, got $k")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("g1", StringType, nullable = false),
      StructField("g2", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "gram_pairs"

  override def nullSafeEval(input: Any): Any =
    KGramPairs.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call per row: the row stays inside whole-stage codegen
    defineCodeGen(ctx, ev, c => s"graft.functions.KGramPairs.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KGramPairs =
    copy(child = newChild)
}

object KGramPairs {

  private val Space = UTF8String.fromString(" ")

  /** All consecutive-k-gram pairs of `text` (split on single spaces,
    * empties kept); empty array for docs with < k+1 words. The n-k+1
    * gram strings are built once and shared by the n-k pairs. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val words = text.split(Space, -1)
    val n = words.length
    if (n < k + 1) return new GenericArrayData(Array.empty[Any])
    val g = n - k + 1
    val grams = new Array[UTF8String](g)
    var i = 0
    if (k == 1) {
      System.arraycopy(words, 0, grams, 0, g)
    } else {
      while (i < g) {
        val slice = new Array[UTF8String](k)
        System.arraycopy(words, i, slice, 0, k)
        grams(i) = UTF8String.concatWs(Space, slice: _*)
        i += 1
      }
    }
    val out = new Array[Any](g - 1)
    i = 0
    while (i < g - 1) {
      out(i) = new GenericInternalRow(Array[Any](grams(i), grams(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `gram_pairs(text, k)` as a Column. */
  def col(text: Column, k: Int): Column =
    NativeColumn(KGramPairs(NativeColumn.expression(text), k))
}
