package graft.functions

import org.apache.spark.sql.{Column, NativeColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** From-scratch HyperLogLog as a native `TypedImperativeAggregate`
  * (SURVEY.md §7.3 option 2) — the engine-owned sketch path beside Spark's
  * built-in `approx_count_distinct`.
  *
  * Classic Flajolet–Fuss–Gandouet–Meunier HLL: 2^p byte registers; each
  * value hashes to (register ← top p bits, rank ← leading zeros of the
  * rest + 1); a register keeps its max rank; merge is byte-wise max. Since
  * max is associative and commutative the estimate is EXACTLY deterministic
  * under any partitioning or merge order — unlike a sum-of-doubles sketch.
  * Standard error ≈ 1.04/√(2^p) ≈ 2.3 % at the default p=11 (2 KiB/group).
  *
  * Partial aggregation works the usual way: executors pre-merge row groups
  * map-side, so the shuffle carries one 2 KiB buffer per (partition, group)
  * — at 100 TB the exchange volume is group-cardinality-bound, independent
  * of row count.
  *
  * Input is LongType (callers cast/hash other types first — see
  * [[hll.distinct]], SQL `hll_distinct(expr)`).
  */
case class HllSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]]
    with ExpectsInputTypes with UnaryLike[Expression] {

  private val p = HllSketch.P
  private val m = 1 << p

  // declares BIGINT input so the analyzer inserts implicit casts for
  // narrower integrals and REJECTS non-numeric args at analysis time —
  // without this, hll_distinct(string_col) would pass analysis and die
  // per-task with ClassCastException
  override def inputTypes = Seq(LongType)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_distinct"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  /** splitmix64 finalizer — full-avalanche mix of the input long. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = mix(v.asInstanceOf[Long])
      val idx = (h >>> (64 - p)).toInt
      val w = h << p
      val rank =
        if (w == 0) HllSketch.RankCap
        else java.lang.Long.numberOfLeadingZeros(w) + 1
      if (rank > buf(idx)) buf(idx) = rank.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = {
    val alpha = 0.7213 / (1.0 + 1.079 / m) // bias constant for m >= 128
    // Integer-exact register sum (round 3): Σ 2^(RankCap − rank) as a
    // BigInteger — ranks span up to 54 binary orders, so a double
    // accumulation is order-sensitive in its last ulps; one exact integer,
    // converted to double ONCE, gives every engine the same value. This is
    // what lets the DuckDB oracle replay the estimate bit-for-bit
    // (SUM(1::BIGINT << (RankCap - rank)) → exact HUGEINT → DOUBLE).
    var sScaled = java.math.BigInteger.ZERO
    var zeros = 0
    var i = 0
    while (i < m) {
      sScaled = sScaled.add(java.math.BigInteger.ONE.shiftLeft(HllSketch.RankCap - buf(i)))
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    val invSum = sScaled.doubleValue() / HllSketch.RankCapScale
    val e = alpha * m.toDouble * m.toDouble / invSum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
      else e
    math.round(corrected)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketch =
    copy(child = newChild)
}

object HllSketch {
  /** Register-index bits (2^P byte registers per group). */
  private[functions] val P = 11

  /** Max emittable rank = 64 − P + 1 (the all-zeros-suffix case). */
  private[functions] val RankCap = 64 - P + 1

  /** 2^RankCap as a double — the exact scale the integer register sum is
    * divided by in `eval` (and in the SQL twin). */
  private[functions] val RankCapScale = math.pow(2.0, RankCap)

  // splitmix64 round constants, unsigned (the Scala longs wrap identically)
  private val K1 = java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L)
  private val K2 = 0xbf58476d1ce4e5b9L
  private val K3 = 0x94d049bb133111ebL

  /** DuckDB twin of the ENTIRE sketch — splitmix64 via 32-bit limb
    * arithmetic in HUGEINT (a 64×64 product overflows even HUGEINT, so each
    * multiply splits the constant; xors/logical shifts run in UBIGINT),
    * registers via GROUP BY/MAX over a dense 2^P scaffold, and the estimate
    * from the same integer-exact register sum `eval` uses. Generated from
    * the SAME constants as the Scala, so engine and oracle drift together
    * or not at all. `groupCol`/`valueCol` name columns of `fromSql`.
    */
  def oracleSql(groupCol: String, valueCol: String, fromSql: String): String = {
    val m = 1 << P
    def limbs(k: Long): (Long, Long) = (k & 0xffffffffL, k >>> 32)
    val (k2lo, k2hi) = limbs(K2)
    val (k3lo, k3hi) = limbs(K3)
    // (a * k) mod 2^64 with `a` a HUGEINT in [0, 2^64)
    def mulmod(a: String, klo: Long, khi: Long): String =
      s"(( (($a) % 4294967296) * $klo + " +
        s"(((($a) % 4294967296) * $khi + (($a) // 4294967296) * $klo) % 4294967296)" +
        s" * 4294967296 ) % 18446744073709551616)"
    // x ^ (x >>> s), UBIGINT domain, back to HUGEINT
    def xorShift(x: String, s: Int): String =
      s"CAST(xor(CAST($x AS UBIGINT), CAST($x AS UBIGINT) >> $s) AS HUGEINT)"
    // hsrc is UNFILTERED: the group scaffold must include groups whose
    // values are all NULL (round-4 ADVICE) — they own an all-zero register
    // file and emit the linear-counting estimate 0, exactly like the Spark
    // aggregate; deriving the scaffold from the null-filtered hv dropped
    // such groups from the oracle entirely
    s"""WITH hsrc AS (SELECT $groupCol AS g, $valueCol AS v FROM $fromSql),
       |hv AS (SELECT g, v FROM hsrc WHERE v IS NOT NULL),
       |hx0 AS (SELECT g, (CAST(v AS HUGEINT) + $K1) % 18446744073709551616 AS x FROM hv),
       |hx1 AS (SELECT g, ${mulmod(xorShift("x", 30), k2lo, k2hi)} AS x FROM hx0),
       |hx2 AS (SELECT g, ${mulmod(xorShift("x", 27), k3lo, k3hi)} AS x FROM hx1),
       |hx3 AS (SELECT g, ${xorShift("x", 31)} AS h FROM hx2),
       |hb AS (SELECT g, CAST(CAST(h AS UBIGINT) >> ${64 - P} AS BIGINT) AS idx,
       |    (h * $m) % 18446744073709551616 AS w FROM hx3),
       |hrk AS (SELECT g, idx,
       |    CASE WHEN w = 0 THEN $RankCap
       |         ELSE 64 - length(ltrim(bin(CAST(w AS UBIGINT)), '0')) + 1 END AS rank
       |  FROM hb),
       |hreg AS (SELECT g, idx, MAX(rank) AS mr FROM hrk GROUP BY 1, 2),
       |hgrid AS (SELECT gs.g, r.idx
       |  FROM (SELECT DISTINCT g FROM hsrc) gs, range($m) r(idx)),
       |hfull AS (SELECT hg.g, COALESCE(hreg.mr, 0) AS r
       |  FROM hgrid hg LEFT JOIN hreg ON hreg.g = hg.g AND hreg.idx = hg.idx),
       |hagg AS (SELECT g, SUM(CAST(1 AS BIGINT) << ($RankCap - r)) AS s,
       |    COUNT(*) FILTER (WHERE r = 0) AS z FROM hfull GROUP BY 1),
       |hest AS (SELECT g,
       |    ((0.7213 / (1.0 + 1.079 / $m.0)) * $m.0) * $m.0
       |      / (CAST(s AS DOUBLE) / ${RankCapScale.toLong}.0) AS e, z FROM hagg)
       |SELECT g AS $groupCol,
       |  CAST(CASE WHEN e <= 2.5 * $m.0 AND z > 0
       |    THEN ROUND($m.0 * ln($m.0 / CAST(z AS DOUBLE)))
       |    ELSE ROUND(e) END AS BIGINT) AS approx_users
       |FROM hest""".stripMargin
  }
}

object hll {
  /** `hll_distinct(c)` as an aggregate Column (`c` castable to BIGINT). */
  def distinct(c: Column): Column =
    NativeColumn(HllSketch(NativeColumn.expression(c)).toAggregateExpression())
}
