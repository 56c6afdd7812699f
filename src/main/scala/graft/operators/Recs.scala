package graft.operators

import graft.{GQ, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Recommendation operators (round 5): collaborative filtering over the
  * order→part bipartite relation. The reference has no recommendation
  * surface; this is the classic batch output a commerce pipeline derives
  * from exactly the co-occurrence statistics q_events_assoc computes on
  * sessions — but shaped as per-item TOP-K RECOMMENDATIONS, the serving
  * artifact, not the global rule table.
  */
object Recs {

  /** q_recs_itemcf: the deduped (order, part) incidence, the co-purchase
    * pair counts, the cosine-scored symmetric relation, and the top-3
    * recommendations per item. */
  private[graft] def itemCf(s: SparkSession, d: String): DataFrame = {
    // ONE exchange serves the dedup, the self-join, and the margins:
    // hash(o) co-locates every (o, p) of an order, so dropDuplicates(o, p)
    // runs partition-local (ClusteredDistribution(o, p) is satisfied by
    // the o-partitioning) and the order-keyed self-join reuses the SAME
    // partitioning — a plain distinct() would shuffle by (o, p) and force
    // a second corpus-wide exchange for the join.
    //
    // NOT persisted (round 12, VERDICT item 1 — first stage profile):
    // li and pairs are CORPUS-DERIVED relations (the exact class the
    // repo's caching lore bans from memory at 100 TB), and both previous
    // persists were also the query's wall-clock cost — two cache-write
    // barriers serializing the DAG (full cold 4.3–4.8 s with, 2.2–2.9 s
    // without, Explain ×4 + stage profile at sf0.1). Multi-consumer reuse
    // comes from EXCHANGE REUSE instead: all three li consumers (x side,
    // y side, degree margins) and both pairs union branches share
    // canonical sub-plans, so the final adaptive plan runs ONE lineitem
    // scan + ONE repartition(o) exchange (ReusedExchange over it) and
    // ONE basket self-join + pair agg (the second union branch is a
    // ReusedExchange of the agg's shuffle) — verified in the executed
    // final plan (BASELINE.md round-12 itemcf stage profile). Shuffle
    // reuse is the honest 100 TB shape: disk-backed, no executor-memory
    // corpus cache.
    //
    // The explicit null-key filter is load-bearing for that reuse: the
    // join sides INFER isnotnull(o) and push it to their scans while the
    // margins branch (which drops o) would not — a different pushed
    // filter breaks sub-plan canonical equality and forced a second
    // corpus scan for the margins (measured in the final plan). The
    // oracle carries the identical WHERE (lockstep), and null order/part
    // keys cannot reach the output either way (every output row passes
    // through the o-equi-join and the item/rec joins).
    val li = Tables.t(s, d, "lineitem")
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(col("o"))
      .dropDuplicates("o", "p")
    val pairs = li.as("x")
      .join(li.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val deg = li.groupBy(col("p")).agg(count(lit(1)).as("n"))
    val sym = pairs.select(col("a").as("item"), col("b").as("rec"),
        col("n_ab"))
      .union(pairs.select(col("b").as("item"), col("a").as("rec"),
        col("n_ab")))
    val scored = sym
      .join(broadcast(deg.select(col("p").as("item"), col("n").as("n_i"))),
        "item")
      .join(broadcast(deg.select(col("p").as("rec"), col("n").as("n_r"))),
        "rec")
      .withColumn("cosine", col("n_ab").cast(DoubleType) /
        sqrt((col("n_i") * col("n_r")).cast(DoubleType)))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("rec"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("item"), col("rank").cast(LongType).as("rank"),
        col("rec"), col("n_ab"),
        graft.functions.vec.roundz(col("cosine"), 6).as("cosine"))
      .orderBy(col("item"), col("rank"))
  }

  val queries: Seq[GQ] = Seq(
    // Item-item collaborative filtering ("customers also bought"):
    // cosine similarity over the binary order×part incidence —
    // cos(a,b) = n_ab / √(n_a·n_b) (Sarwar et al. 2001) — and the top-3
    // most similar parts per part. Co-purchase counts come from a
    // baskets self-join keyed on the order, so pair volume is
    // Σ_orders |basket|² — ORDER-SIZE-bounded (≤ 7 items in the driver
    // data), never |parts|²; this is the same blocking argument as the
    // session-keyed q_events_assoc self-join, on the commerce relation.
    //
    // Determinism: n_ab/n_a/n_b are exact BIGINTs; the cosine is ONE
    // fixed IEEE tree (integer product → exact double < 2^53 → one
    // correctly-rounded sqrt → one division) so ranking on it is
    // bit-stable cross-engine; ties → recommended part id; roundz(6)
    // display (R7/R8); final ORDER BY the unique (part, rank) (R1).
    //
    // Plan shape (100 TB): (order, part) distinct → order-keyed
    // self-join (basket-bounded) → (a, b) hash agg; the n_a margins are
    // a |parts|-sized broadcast; the top-3 is a part-keyed window that
    // WindowGroupLimit cuts to 3 rows per part map-side. Nothing bigger
    // than the pair relation (≤ Σ|basket|²) ever shuffles.
    GQ(
      "q_recs_itemcf",
      (s, d) => itemCf(s, d),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |  FROM lineitem
             |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
             |pr AS (SELECT x.p AS a, y.p AS b, COUNT(*) AS n_ab
             |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
             |  GROUP BY 1, 2),
             |deg AS (SELECT p, COUNT(*) AS n FROM li GROUP BY p),
             |sym AS (SELECT a AS item, b AS rec, n_ab FROM pr
             |  UNION ALL SELECT b, a, n_ab FROM pr),
             |sc AS (SELECT s.item, s.rec, s.n_ab,
             |    CAST(s.n_ab AS DOUBLE) /
             |      sqrt(CAST(di.n * dr.n AS DOUBLE)) AS cosine
             |  FROM sym s JOIN deg di ON di.p = s.item
             |  JOIN deg dr ON dr.p = s.rec),
             |rk AS (SELECT item, rec, n_ab, cosine,
             |    row_number() OVER (PARTITION BY item
             |      ORDER BY cosine DESC, rec) AS rank
             |  FROM sc)
             |SELECT item, CAST(rank AS BIGINT) AS rank, rec, n_ab,
             |  (ROUND(cosine, 6) + 0.0) AS cosine
             |FROM rk WHERE rank <= 3 ORDER BY item, rank""".stripMargin)
    )
  )
}
