package graft

import graft.functions.CdcChunks
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native CDC chunker to the semantics the DuckDB oracle replays:
  * the JVM h60 must be bit-identical to the engine-wide column h60
  * (md5-prefix digest), and the chunking must equal the round-4 window
  * formulation (boundary AFTER every word with h60 % 8 == 0, boundary word
  * inside its chunk, tail chunk kept, empty tokens preserved). */
class CdcChunksSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def jvmH60(s: String): Long =
    CdcChunks.h60(UTF8String.fromString(s))

  test("JVM h60 is bit-identical to the column h60 (md5-prefix digest)") {
    val samples = Seq("", " ", "a", "hello world", "naïve café — ünïcode",
      "日本語テキスト", "x" * 500, "tab\tand\nnewline")
    val viaColumn = TestSpark.generated(samples.toDF("s"), XHash.h60(col("s")))
      .map(_.getLong(0))
    samples.zip(viaColumn).foreach { case (s, expected) =>
      assert(jvmH60(s) == expected, s"h60 mismatch for '$s'")
    }
  }

  /** Reference chunker: the window formulation, restated sequentially. */
  private def naiveChunks(text: String, mod: Int): Seq[Long] = {
    val words = text.split(" ", -1)
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var cur = scala.collection.mutable.ArrayBuffer[String]()
    for (w <- words) {
      cur += w
      if (jvmH60(w) % mod == 0) { out += jvmH60(cur.mkString(" ")); cur.clear() }
    }
    if (cur.nonEmpty) out += jvmH60(cur.mkString(" "))
    out.toSeq
  }

  private def exprChunks(text: String): Seq[Long] = {
    CdcChunks.compute(UTF8String.fromString(text), 7)
      .toLongArray().toSeq
  }

  test("chunking equals the window formulation on generated texts") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "", "x")
    for (_ <- 1 to 200) {
      val n = 1 + rnd.nextInt(60)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      assert(exprChunks(text) == naiveChunks(text, 8), s"text='$text'")
    }
  }

  test("edge cases: empty text, single word, boundary at last word, double spaces") {
    // empty text = one empty word = one chunk either way
    assert(exprChunks("") == naiveChunks("", 8))
    assert(exprChunks("solo") == naiveChunks("solo", 8))
    assert(exprChunks("a  b") == naiveChunks("a  b", 8)) // empty middle token
    // find a word that IS a boundary (h60 % 8 == 0) and end the text on it:
    // the chunk closes at the boundary and no empty tail chunk is emitted
    val bw = Iterator.from(0).map(i => s"w$i").find(jvmH60(_) % 8 == 0).get
    assert(exprChunks(s"pre $bw") == naiveChunks(s"pre $bw", 8))
    assert(exprChunks(bw) == naiveChunks(bw, 8))
  }

  test("the Column builder matches compute()") {
    // through generated code, so CdcChunks.doGenCode is compiled and run
    val got = TestSpark.generated(
      Seq("alpha beta gamma delta epsilon zeta eta theta").toDF("text"),
      CdcChunks.col(col("text"), 7)).head.getSeq[Long](0)
    assert(got == exprChunks("alpha beta gamma delta epsilon zeta eta theta"))
  }
}
