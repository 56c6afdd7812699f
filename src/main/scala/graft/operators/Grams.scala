package graft.operators

import graft.functions.{KGramPairs, KGrams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one k-gram builder, shared by Dedup shingles, TextOps bigrams,
  * Curation vocab/repetition/contamination grams, and Fingerprint gram
  * hashes.
  *
  * Round 4: gram assembly is the native codegen'd [[graft.functions.KGrams]]
  * expression — one scan-side projection, ZERO shuffles. The previous shape
  * (split → posexplode → window `lead` reassembly) existed to dodge the
  * round-1 O(words²) lambda-inlining trap (Dedup's PERF NOTE), but paid a
  * full corpus exchange + per-doc sort for the window in every consumer;
  * the native expression splits once per row inside `compute`, so neither
  * the quadratic trap nor the shuffle exists. Emitted rows are identical:
  * (doc_id, carry..., pos, item) with pos the gram's starting word index,
  * and sub-k-word docs contributing their whole text as the single item at
  * pos 0.
  */
object Grams {

  def kgramRows(docsWithText: DataFrame, k: Int, carry: Seq[String]): DataFrame = {
    docsWithText.select(
      col("doc_id") +: carry.map(col) :+
        posexplode(KGrams.col(col("text"), k)).as(Seq("pos", "item")): _*)
  }

  /** Adjacent word pairs `(w1, w2)` — the bigram collocation stream of
    * q_text_pmi / q_text_llr / q_text_textrank / q_graph_triangles
    * (round 13): one codegen'd [[graft.functions.KGramPairs]] projection
    * replaces the `kgrams(text, 2)` → `split(item, ' ')` → element-pick
    * chain, which built every bigram string only to re-split it. Emitted
    * pairs are byte-identical (docs with < 2 words contribute nothing,
    * exactly as the old `size(split(item)) === 2` filter arranged). */
  def wordPairRows(docsWithText: DataFrame): DataFrame = {
    docsWithText.select(explode(KGramPairs.col(col("text"), 1)).as("z"))
      .select(col("z.g1").as("w1"), col("z.g2").as("w2"))
  }
}
