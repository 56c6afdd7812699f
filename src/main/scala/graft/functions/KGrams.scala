package graft.functions

import org.apache.spark.sql.{Column, NativeColumn}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst k-gram shingler: all space-joined k-word grams of `text`
  * as one `ARRAY<STRING>` — `["a b c", "b c d", …]` for k=3 — with the
  * whole text as the single element when the doc has fewer than k words.
  *
  * This is the round-4 replacement for the window-based linear shingle
  * builder (`Grams.kgramRows`'s split → posexplode → `lead` assembly): the
  * per-element gram logic moves INSIDE one codegen'd scan-side expression,
  * so shingling costs zero shuffles — the old shape paid a full corpus
  * exchange + per-doc sort for the `lead` window in EVERY shingle consumer
  * (MinHash signatures, Jaccard items, winnowing, n-gram vocab), which at
  * 100 TB is a shuffle of the tokenized corpus that exists only to
  * reassemble adjacency the scan already had. The round-1 O(words²) lambda
  * trap (Catalyst re-inlining `split` per element — Dedup's PERF NOTE)
  * does not apply: splitting happens ONCE per row inside [[KGrams.compute]].
  *
  * Tokenization matches `split(text, ' ')` exactly (Java regex split with
  * limit -1: consecutive spaces yield empty tokens, trailing empties kept)
  * so the emitted grams are byte-identical to the window builder's and to
  * the DuckDB oracles' `string_split(text, ' ')` CTEs.
  */
case class KGrams(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1, s"k must be >= 1, got $k")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "kgrams"

  override def nullSafeEval(input: Any): Any =
    KGrams.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call per row: the row stays inside whole-stage codegen
    // (no boxing, no lambda dispatch); the gram loop runs in compute()
    defineCodeGen(ctx, ev, c => s"graft.functions.KGrams.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KGrams =
    copy(child = newChild)
}

object KGrams {

  private val Space = UTF8String.fromString(" ")

  /** All k-grams of `text` (split on single spaces, empties kept), or the
    * whole text as a 1-element array for sub-k-word docs. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val words = text.split(Space, -1)
    if (words.length < k) return new GenericArrayData(Array[Any](text))
    val n = words.length - k + 1
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val slice = new Array[UTF8String](k)
      System.arraycopy(words, i, slice, 0, k)
      out(i) = UTF8String.concatWs(Space, slice: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `kgrams(text, k)` as a Column. */
  def col(text: Column, k: Int): Column =
    NativeColumn(KGrams(NativeColumn.expression(text), k))
}
