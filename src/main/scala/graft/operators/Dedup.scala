package graft.operators

import graft.functions.vec
import graft.{GQ, Tables, XHash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection over `documents` / `embeddings` (north star).
  *
  * Four families, each a different scale/recall trade-off:
  *  - exact:    hash groupBy on content (TextOps.q_dedup_exact / fingerprint)
  *  - MinHash:  shingle → k min-hashes → LSH band buckets → candidate pairs.
  *    The only shuffles are the explode-side partial-min aggregation and the
  *    bucket self-join on band keys — never an all-pairs product, so the plan
  *    survives 100 TB (pairs are bounded by bucket collisions).
  *  - SimHash:  sign-aggregated word hashes → one 32-bit signature per doc;
  *    near-dups differ in few bits (banding by signature prefix buckets them).
  *  - n-gram Jaccard: exact set similarity, blocked by (lang, source) so the
  *    pair space is per-block quadratic, not corpus-quadratic; at 100 TB the
  *    block key becomes an LSH bucket from the MinHash pass.
  *
  * Signature/band/bit values hash on the cross-engine md5-prefix basis
  * ([[graft.XHash]], round 2): every MinHash/SimHash query is exact integer
  * math over that basis and is fully oracle-matched against DuckDB SQL
  * generated from the SAME affine coefficients. The Jaccard and embedding
  * queries are exact math and oracle-matched as before.
  *
  * PERF NOTE (measured at sf0.1): building shingles with a per-element
  * `transform(sequence(...), i => ...element_at(split(text), i)...)` lambda
  * is O(words²) per document — Catalyst inlines `split` into the lambda (and
  * into the explode-side IsNotNull/size pushed filters), so every element
  * re-splits the whole text. Round 2's dodge was split → posexplode →
  * window `lead` (17.4s → ~3s on q_dedup_jaccard_ngram); round 4 moved the
  * whole gram loop into the native [[graft.functions.KGrams]] expression —
  * zero shuffles, splitting once per ROW inside codegen.
  */
object Dedup {

  /** Digest-clustered exact-grouping scaffold (round 6): cluster the
    * exchange on `xxhash64(text)` — an 8-byte key — then let the in-
    * partition hash aggregate on (h, text) confirm TRUE equality, never
    * trusting the digest alone. Grouping by (h, text) is grouping by text
    * (h is a function of text), so any downstream agg is bit-identical to
    * `groupBy(text)` while the exchange hashes/compares 8 bytes instead of
    * megabyte documents. The explicit repartition makes the aggregate's
    * required ClusteredDistribution(h, text) already-satisfied, so no
    * text-keyed exchange is ever planned (PlanShapeSpec pins it). */
  private[graft] def digestClustered(df: DataFrame): DataFrame =
    df.withColumn("h", xxhash64(col("text"))).repartition(col("h"))

  /** Mersenne prime 2^31-1: (a*x+b) mod P stays well inside Long even under
    * ANSI overflow checking (a,x < 2^31 so a*x < 2^62). */
  private val P = 2147483647L

  /** Signature rows per doc; `private[graft]` so the band-volume stress
    * probe measures over the same constant it exists to test. */
  private[graft] val K = 16

  /** Fixed affine coefficients for the K min-hash functions, derived from a
    * splitmix-style constant walk — deterministic across runs and JVMs. */
  private val coefs: Seq[(Long, Long)] = {
    var x = 0x9e3779b97f4a7c15L
    def next(): Long = { x += 0x9e3779b97f4a7c15L; var z = x; z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L; z ^= z >>> 27; z }
    Seq.fill(K)((1L + math.floorMod(next(), P - 1), math.floorMod(next(), P)))
  }

  /** Exploded 3-word shingles: one (doc_id, lang, source, item) row per
    * shingle via the shared scan-side builder (Grams.kgramRows — see PERF
    * NOTE above). Documents with <3 words contribute their whole text as
    * the single shingle. Zero shuffles: grams are a codegen'd projection of
    * the document scan at any scale.
    */
  private def shingleItems(s: SparkSession, d: String): DataFrame =
    shingleItemsOf(Tables.t(s, d, "documents"), Seq("lang", "source"))

  /** [[shingleItems]] over an arbitrary documents-shaped relation (round 6:
    * q_llm_pipeline runs the near-dup stage over its exact-dedup SURVIVORS,
    * not the raw table). Same scan-side KGrams projection, same <3-word
    * whole-text convention. */
  private[graft] def shingleItemsOf(
      docs: DataFrame, carry: Seq[String] = Seq()): DataFrame =
    Grams.kgramRows(docs, 3, carry).drop("pos")

  /** doc_id + K min-hash signature columns (sig0..sigK-1). One explode + one
    * grouped multi-min aggregation: the shuffle carries K longs per doc.
    * `private[graft]` so the stress probes can measure candidate volume over
    * the exact production signatures. */
  private[graft] def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(shingleItems(s, d))

  /** [[minhashSignatures]] from an already-built shingle-item relation. */
  private[graft] def signaturesOf(items: DataFrame): DataFrame = {
    val base = pmod(XHash.h60(col("item")), lit(P))
    val mins = coefs.zipWithIndex.map { case ((a, b), j) =>
      min(pmod(base * a + b, lit(P))).as(s"sig$j")
    }
    items.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** DuckDB twin of [[shingleItems]]+[[minhashSignatures]]: CTEs ending in a
    * relation `s(doc_id, sig0..sigK-1)` — generated from the same `coefs`,
    * so Spark and oracle can only drift if the shared constants do.
    * `src` is the documents-shaped source relation (round 6: the pipeline
    * oracle feeds its own survivor CTE through the same generator). */
  private[graft] def sqlSignatureCtes(src: String): String = {
    val sigs = coefs.zipWithIndex.map { case ((a, b), j) =>
      s"MIN((base * $a + $b) % $P) AS sig$j"
    }.mkString(", ")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws, text FROM $src),
       |it AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
       |  THEN list_transform(range(1, len(ws) - 1),
       |       i -> array_to_string(ws[i:i+2], ' '))
       |  ELSE [text] END) AS item FROM d),
       |h AS (SELECT doc_id, ${XHash.sqlH60("item")} % $P AS base FROM it),
       |s AS (SELECT doc_id, $sigs FROM h GROUP BY doc_id)""".stripMargin
  }

  private def sqlSignatureCte: String = "WITH " + sqlSignatureCtes("documents")

  /** One (doc_id, bpos, bkey) row per LSH band: r=4, b=4 banding over the K
    * signature rows, band key = h60 of the comma-joined band signatures
    * (cross-engine — the oracle replays the same keys). The shared candidate
    * basis for q_dedup_minhash_pairs / q_dedup_lsh_verify and the band-volume
    * stress probe. */
  private[graft] def bandRows(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map { b =>
      XHash.h60(concat_ws(",",
        (0 until 4).map(r => col(s"sig${b * 4 + r}")): _*))
    }
    sigs.select(
      col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("bpos", "bkey")))
  }

  /** Items appearing in ≥ this many docs of a block go through the bitmap
    * path below instead of the equi-join. */
  private val FreqDf = 32L

  /** Similarity floor for the Jaccard near-dup queries (round-2 contract:
    * top-20 among pairs with jaccard ≥ Tau — the zero-overlap tail is gone).
    * Measured at every SF the top-20 scores ≥ 0.93, so the emitted rows are
    * unchanged; the floor is what licenses prefix-filter candidate
    * generation. Shared verbatim with the oracle SQL. */
  private[graft] val Tau = 0.5

  /** DuckDB twin of [[verifiedPairsFrom]] filtered at [[Tau]]: CTE chain
    * `d,it,h,s,bl,cand,sets,$out` over the documents-shaped relation `src`,
    * ending in `$out(a_id, b_id)` = band candidates whose EXACT shingle
    * Jaccard ≥ Tau. Shared by the q_dedup_components oracle
    * (src=documents) and the q_llm_pipeline near-dup stage (src=its
    * exact-dedup survivor CTE) — one generator, zero drift. */
  private[graft] def sqlVerifiedEdgesCtes(src: String, out: String): String = {
    val bandCase = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"sig${b * 4 + r}")
        .mkString("concat_ws(',', ", ", ", ")")
      s"WHEN ${b} THEN ${XHash.sqlH60(cat)}"
    }.mkString(" ")
    s"""${sqlSignatureCtes(src)},
       |bl AS (SELECT doc_id, r.b AS bpos,
       |  CASE r.b $bandCase END AS bkey FROM s, range(4) r(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bl a JOIN bl b
       |  ON a.bpos = b.bpos AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
       |  THEN list_transform(range(1, len(ws) - 1),
       |       i -> array_to_string(ws[i:i+2], ' '))
       |  ELSE [text] END) AS sh FROM d),
       |$out AS (SELECT c.a_id, c.b_id FROM cand c
       |  JOIN sets x ON x.doc_id = c.a_id
       |  JOIN sets y ON y.doc_id = c.b_id
       |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= $Tau)""".stripMargin
  }

  /** The ONE BFS depth bound shared by [[bfsHops]]' Spark-side `require`
    * and the q_graph_bfs oracle's recursive-CTE walk (round-4 ADVICE): the
    * Spark side fails LOUDLY past it, while `WHERE hops < BfsMaxRounds` in
    * the generated SQL truncates silently — keeping them one literal means
    * a deep component always surfaces as the Spark-side error, never as a
    * confusing oracle value diff from a walk the SQL quietly cut short. */
  private val BfsMaxRounds = 60

  /** Blocked exact-Jaccard top-20 (pairs scoring ≥ [[Tau]]) over exploded
    * (doc_id, lang, source, item) rows. Two independent scale mechanisms:
    *
    * CANDIDATES — prefix filtering (the AllPairs/PPJoin scheme, Bayardo et
    * al. WWW'07 / Xiao et al. WWW'08; round 2 replaces the per-block
    * all-pairs enumeration the round-1 verdict flagged as the one true
    * scale-killer): items get a global per-block order (df asc, item asc —
    * rarest first); a doc with n distinct items keeps only its first
    * n − ⌈Tau·n⌉ + 1 items; THEOREM: any pair with J ≥ Tau shares a prefix
    * item, so the equi-join on prefix items (plus the PPJoin length filter
    * Tau·|A| ≤ |B| ≤ |A|/Tau) yields a candidate superset. Stopword-like
    * items sort LAST in every doc's order, so they fall out of the prefixes
    * and their Ω(df²) join blowup disappears — candidate volume is
    * Σ_prefix-item df_prefix², output-bound rather than block-quadratic.
    *
    * SCORING — a FREQUENCY-SPLIT hybrid computes |A∩B| exactly:
    *  - RARE items (df < FreqDf): sparse equi-join keyed on
    *    (lang, source, item), aggregated per pair — volume bounded by
    *    Σ_rare df², small by construction.
    *  - FREQUENT items (≤63 per block, by df rank): each gets a bit; every
    *    doc carries one 64-bit mask, and the shared-frequent count is
    *    `bit_count(maskA & maskB)` — O(1) per candidate pair. Overflow
    *    blocks (>63 frequent items) spill the excess back to the join path,
    *    so the result stays EXACT.
    *
    * |A∪B| = |A|+|B|−|A∩B|; the final ≥ Tau filter re-checks the exact
    * score, so prefix recall only needs to be a superset (which the theorem
    * guarantees). The DuckDB oracle keeps the direct quadratic formulation
    * with the same floor. At 100 TB the (lang, source) block key would come
    * from the MinHash LSH bands; the prefix/verify machinery is unchanged.
    */
  private def blockedJaccard(itemsIn: DataFrame): DataFrame = {
    val block = Seq("lang", "source")
    // 64-bit item keys (round 3): every downstream use of `item` is
    // equality-only — df counts, prefix/rare equi-joins, bit assignment —
    // so any collision-free hash serves, and no oracle ever sees the key
    // (the DuckDB twin intersects the original strings). xxhash64 longs
    // replace full shingle strings in the persist and all four downstream
    // shuffles, which carried the strings ~9× in the round-2 plan.
    // Collision odds are ~n²/2^65 over the corpus vocabulary — negligible
    // at any realistic scale, and the oracle hash-compare would catch one.
    val it = itemsIn
      .select(col("lang"), col("source"), col("doc_id"),
        xxhash64(col("item")).as("item"))
      .distinct()
    val dfs = it.groupBy(col("lang"), col("source"), col("item"))
      .agg(count(lit(1)).as("df"))
    val wBlock = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("df").desc, col("item"))
    val freq = dfs.filter(col("df") >= FreqDf)
      .withColumn("bit", row_number().over(wBlock) - 1)
      .filter(col("bit") < 63)
      .select(col("lang"), col("source"), col("item"), col("bit"))
    // `tagged` feeds five consumers (docs, rare ×2, prefix ×2). Rounds 2-3
    // persisted it: the shingle lineage then carried a corpus window
    // shuffle per consumer, and one MEMORY_AND_DISK materialization beat
    // ~15 document re-scans (ngram 4.7→2.2 s). Round 4's scan-side KGrams
    // INVERTED the trade: recompute is a cheap rescan + explode, and the
    // round-4 A/B measured the cache write+read barrier costing ~70% —
    // ngram 3.9→2.3 s, words 3.7→2.0 s warm after DROPPING the persist.
    // Same lesson as lsh_verify/minhash_pairs: persist only pays while the
    // replicated lineage holds a shuffle.
    val tagged = it.join(dfs, block :+ "item")
      .join(freq, block :+ "item", "left")
    val docs = tagged.groupBy(col("lang"), col("source"), col("doc_id"))
      .agg(
        count(lit(1)).as("n"),
        // bits are unique per (block, item) and items unique per doc ⇒ sum = OR
        sum(when(col("bit").isNotNull,
          expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L)).as("mask"))
    // prefix filter: rank each doc's items in the global (df, item) order
    // and keep the first n − ⌈Tau·n⌉ + 1 — one row_number window on doc_id
    // over rows already carrying df
    val wDocRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("item"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val prefix = tagged
      .withColumn("rnk", row_number().over(wDocRank))
      .withColumn("n", count(lit(1)).over(wDoc))
      .filter(col("rnk") <= col("n") - ceil(col("n") * Tau) + 1)
      .select(col("lang"), col("source"), col("item"),
        col("doc_id"), col("n"))
    val cands = prefix.as("x")
      .join(prefix.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
          col("x.item") === col("y.item") && col("x.doc_id") < col("y.doc_id") &&
          // PPJoin length filter: J ≥ Tau forces Tau·max(|A|,|B|) ≤ min(|A|,|B|)
          col("x.n") >= col("y.n") * Tau && col("y.n") >= col("x.n") * Tau)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // exact-verify support: rare-item pair volume is Σ_rare df² ≤
    // FreqDf · (corpus item count) — LINEAR in the corpus by construction,
    // so the verify side never needs candidate pruning to scale. (Semi-
    // joining `rare` down to candidate docs was measured slower here: it
    // duplicates the candidate lineage for a pass that is already linear.)
    val rare = tagged.filter(col("bit").isNull)
    val rareInter = rare.as("x")
      .join(rare.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
          col("x.item") === col("y.item") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("rare_inter"))
    val a = docs.select(col("doc_id").as("a_id"),
      col("n").as("a_n"), col("mask").as("a_mask"))
    val b = docs.select(col("doc_id").as("b_id"),
      col("n").as("b_n"), col("mask").as("b_mask"))
    val interN = (coalesce(col("rare_inter"), lit(0L)) +
      expr("CAST(bit_count(a_mask & b_mask) AS BIGINT)")).cast(DoubleType)
    cands
      .join(a, "a_id")
      .join(b, "b_id")
      .join(rareInter, Seq("a_id", "b_id"), "left")
      .select(
        col("a_id"), col("b_id"),
        (interN / (col("a_n") + col("b_n") - interN)).as("jaccard"))
      .filter(col("jaccard") >= Tau)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Banded-LSH candidate pairs with their EXACT shingle-set Jaccard —
    * the shared "LSH candidates + exact rescoring" spine of
    * q_dedup_lsh_verify (top-20) and q_dedup_components (edges ≥ Tau).
    *
    * Verification works on per-doc shingle ARRAYS (one `collect_set` pass,
    * `array_intersect` per candidate) instead of the round-3 exploded
    * item-join + per-doc count relation: that shape instantiated the
    * shingle pipeline once per lineage branch with DIFFERENT downstream
    * exchange keys (a_id / (b_id, item) / doc_id), so nothing was
    * reusable — the physical plan carried 16 copies of the scan→split→
    * window subtree (measured at sf0.1: 32 parquet scans; rewrite took
    * q_dedup_lsh_verify 2.9 s → 1.8-2.1 s warm). Here the set relation is
    * built once and both join sides consume the SAME canonical exchange;
    * candidate volume is unchanged (bounded by band collisions) and the
    * per-pair verify cost is the same Σ|doc| item comparisons, now
    * without the candidate-×-item explode in the middle.
    * Zero-intersection candidates keep jaccard 0.0 (the oracle's inner
    * set join has a row for every doc, same as the old left+coalesce). */
  private[graft] def verifiedPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairsFrom(shingleItems(s, d))

  /** [[verifiedPairs]] from an already-built shingle-item relation (round 6:
    * the q_llm_pipeline near-dup stage feeds its exact-dedup survivors —
    * candidates and exact rescoring both derive from the one item relation,
    * exactly as the (s, d) form). */
  private[graft] def verifiedPairsFrom(items: DataFrame): DataFrame = {
    // NOT persisted, deliberately (round-6 A/B, twice): the signature
    // relation is instantiated 4× downstream (band self-join sides ×
    // cand's two rescore consumers) with zero ReusedExchange — but those
    // redundant branches are INDEPENDENT stages the scheduler runs
    // concurrently, so on an under-utilized executor pool the replay is
    // nearly free wall-clock, while a persist is a BARRIER that
    // serializes the whole DAG behind one materialization (measured:
    // +0.5–1.6 s per consumer query at sf0.1; same verdict for
    // persisting `cand`). At true cluster utilization the trade can flip
    // — revisit with the cluster's own A/B, not this box's.
    val sigs = signaturesOf(items)
    val bl = bandRows(sigs)
    val cand = bl.as("a")
      .join(bl.as("b"),
        col("a.bpos") === col("b.bpos") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // 64-bit item keys in the rescore sets (the blockedJaccard round-3
    // convention): set membership is equality-only, so collision-free
    // xxhash64 longs replace the shingle strings — the collect_set
    // exchange carries 8 bytes per item instead of whole 3-word grams,
    // and the intersect compares longs. The DuckDB twin keeps original
    // strings (sqlVerifiedEdgesCtes), so every SF re-proves collision-
    // freeness through the hash-exact oracle gate.
    val sets = items
      .groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("item"))).as("sh"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast(DoubleType)
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (inter / (size(col("sa")) + size(col("sb")) - inter)).as("jaccard"))
  }

  /** Connected components over an undirected edge list `(a_id, b_id)` →
    * `(doc_id, comp)` with comp = min member id, via iterative min-label
    * propagation with POINTER JUMPING (round-3 verdict item 2): each round
    * every vertex takes the min of its own, its neighbors', and its
    * LABEL'S label — the `comp ← min(comp, comp[comp])` shortcut halves
    * remaining path lengths, so rounds drop from graph diameter to
    * O(log d) (a 20-deep chain converges in ~5 rounds, not 20; chains of
    * depth 8/32/128 took 4/6/8 rounds, BASELINE.md round-4 table). Per
    * round: ONE job — the monotone label-sum aggregate both materializes
    * the round and decides convergence (`least` only lowers labels, so
    * Σcomp is strictly decreasing iff any vertex changed). All persists
    * are Caches-tracked
    * (round-3 ADVICE: raw persists leaked if the 50-round `require` threw),
    * and `sym` is additionally dropped in `finally`. An EMPTY edge set
    * (no pair passes the Jaccard floor — round-3 ADVICE NPE) coalesces the
    * sum to 0 and converges on the first round with zero output rows.
    * At 100 TB: one shuffle per round keyed on doc_id/comp, nothing
    * driver-side but the O(1) convergence decimal. */
  private[graft] def componentLabels(edges: DataFrame): DataFrame = {
    // symmetrize in ONE pass over the edge pipeline: the round-3
    // `edges.union(edges.swap)` shape put the whole LSH-candidate +
    // exact-verify lineage in the plan TWICE, and both branches executed
    // (no exchange reuse across union branches)
    val sym = graft.Caches.persist(
      edges.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    try {
      var labels = graft.Caches.persist(
        sym.select(col("src").as("doc_id")).distinct()
          .select(col("doc_id"), col("doc_id").as("comp")))
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(sum(col("comp").cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0)))).head.getDecimal(0)
      var prevSum = labelSum(labels)
      var rounds = 0
      var converged = false
      while (!converged) {
        rounds += 1
        require(rounds <= 50, "component propagation did not converge")
        val nbrMin = sym
          .join(labels.select(col("doc_id").as("dst"), col("comp")), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("comp")).as("nbr_comp"))
        val half = labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        // pointer jump: follow one indirection — comp ← min(comp,
        // comp-of-comp). comp values are always vertex ids present in
        // `half` (min over self+neighbor labels), so the left join only
        // misses if a label chain is already flat.
        //
        // localCheckpoint (lazy; the labelSum action below materializes it)
        // TRUNCATES THE LOGICAL PLAN to the materialized RDD. Without it
        // every round's plan embeds the previous round's twice (labels
        // feeds both nbrMin and half, and half feeds the jump join twice),
        // so plan size grows exponentially and Catalyst re-analysis went
        // 2.1 s → 7.2 s between round 1 and round 2 at sf0.1. The blocks
        // live in executor storage (MEMORY_AND_DISK) and are reaped by the
        // ContextCleaner when the superseded round's RDD goes out of
        // scope; at a real 100 TB deployment this would be
        // `checkpoint()` to reliable storage every few rounds instead
        // (localCheckpoint trades executor-loss recovery for speed).
        val next = half.join(
            half.select(col("doc_id").as("comp"), col("comp").as("jcomp")),
            Seq("comp"), "left")
          .select(col("doc_id"),
            least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
          .localCheckpoint(false)
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        labels.unpersist(blocking = false)
        labels = next
      }
      labels
    } finally sym.unpersist(blocking = false)
  }

  /** Per-node (root, hops): min-lex (comp, hops) Bellman–Ford over the
    * symmetrized edge set. Each round relaxes every node's state with its
    * neighbors' (comp, hops+1) and keeps the lexicographic min — the
    * fixpoint is (min reachable id, SHORTEST hop count from that root),
    * i.e. a per-component BFS from the canonical exemplar without running
    * connectivity first. Same engineering as [[componentLabels]]: one
    * union+agg job per round, localCheckpoint plan truncation, O(1) driver
    * convergence on the monotone Σ(comp·2^20 + hops) (comp never rises;
    * at equal comp, hops never rises). Distance propagation cannot
    * pointer-jump (hops via an intermediate's label is not a path length),
    * so rounds = eccentricity — fine for near-dup graphs, whose
    * components are shallow by construction. */
  private[graft] def bfsHops(edges: DataFrame): DataFrame = {
    val sym = graft.Caches.persist(
      edges.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    try {
      var state = sym.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"),
          struct(col("doc_id").as("comp"), lit(0L).as("hops")).as("st"))
        .localCheckpoint(false)
      // comp is cast to DECIMAL(38,0) BEFORE the multiply (matching
      // labelSum): a LongType comp·2^20 product overflows for node ids
      // ≥ 2^42 — wrapping silently with ANSI off and voiding the
      // monotone-sum convergence guarantee (round-4 ADVICE).
      def stateSum(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(
          sum(col("st.comp").cast(DecimalType(38, 0)) * lit(1L << 20)
            + col("st.hops")),
          lit(0).cast(DecimalType(38, 0)))).head.getDecimal(0)
      var prevSum = stateSum(state)
      var rounds = 0
      var converged = false
      while (!converged) {
        rounds += 1
        require(rounds <= BfsMaxRounds, "bfs propagation did not converge")
        val cand = sym
          .join(state.withColumnRenamed("doc_id", "src"), "src")
          .select(col("dst").as("doc_id"),
            struct(col("st.comp").as("comp"),
              (col("st.hops") + 1L).as("hops")).as("st"))
        val next = state.union(cand)
          .groupBy(col("doc_id")).agg(min(col("st")).as("st"))
          .localCheckpoint(false)
        val nextSum = stateSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        state = next
      }
      state.select(col("doc_id"), col("st.comp").as("root_id"),
        col("st.hops").as("hops"))
    } finally sym.unpersist(blocking = false)
  }

  /** The q_dedup_served classification, over ALREADY-WRITTEN dedup index
    * artifacts (round 8): one row per batch doc — `dup_exact` (its bytes
    * live in the index, via the stored (h, text) digest semi-join) >
    * `neardup` (τ-verified against any index doc: stored-band candidate
    * join + exact shingle-Jaccard over texts read back from the digest
    * tables) > `new`. Reads ONLY the managed tables — the raw corpus is
    * never touched after the writes. Factored out of the declared query
    * so the fixture spec can exercise ALL THREE branches (the driver
    * corpora have no exact dup straddling the batch split — dup_exact is
    * fixture-proven, the other branches oracle-proven). */
  private[graft] def servedClassification(
      s: SparkSession, idxPrefix: String, newPrefix: String): DataFrame =
    servedClassification(s, Seq(idxPrefix), newPrefix)

  /** Multi-generation form (round 9 — index MAINTENANCE): the index side
    * is main ∪ any number of delta generations ([[graft.sources
    * .IndexLifecycle.upsertDedupIndex]] writes a batch's accepted docs as
    * one). Band membership is a per-doc function of the text, so the
    * candidate join against each generation is the same exchange-free
    * bucketed probe, and the union adds one delta-sized scan per live
    * generation — the main artifacts are never rewritten per batch. */
  private[graft] def servedClassification(
      s: SparkSession, idxPrefixes: Seq[String], newPrefix: String)
      : DataFrame = {
    import graft.sources.IndexLifecycle
    val idxDig = idxPrefixes.map(p => s.table(s"${p}_digests"))
      .reduce(_.unionByName(_))
    val newDig = s.table(s"${newPrefix}_digests")
    val exact = newDig
      .join(idxDig.select(col("h"), col("text")), Seq("h", "text"), "left_semi")
      .select(col("doc_id"), lit(1).as("e"))
    val cand = idxPrefixes
      .map(p => IndexLifecycle.servedNearDupCandidates(s, p, newPrefix))
      .reduce(_.unionByName(_))
      .distinct()
    // sets over the FULL index ∪ batch, deliberately (round-10 A/B):
    // restricting the shingle/collect_set input to candidate-pair docs
    // (broadcast semi-join on cand's ids) reads as the obvious win — the
    // agg is consumed only through joins on cand — but measured ~2 s
    // SLOWER per q_dedup_upsert run at sf0.1 (Explain ×5 same-session:
    // min 6.92 s vs 4.82 s reverted): the candIds derivation re-instantiates
    // cand (stored probes + a distinct exchange), adds a broadcast build
    // and, persisted, a cache-write barrier — three extra jobs that cost
    // more than the corpus-sized agg they trim at any tested scale. At a
    // true 100 TB index the trade flips (the agg becomes a corpus-sized
    // exchange for a candidate-sized consumer) — re-run the A/B on the
    // cluster before re-introducing it; the shape is in git history.
    val sets = shingleItemsOf(
        idxDig.select(col("doc_id"), col("text"))
          .unionByName(newDig.select(col("doc_id"), col("text"))))
      .groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("item"))).as("sh"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val nd = cand
      .join(sets.select(col("doc_id").as("new_id"), col("sh").as("sa")), "new_id")
      .join(sets.select(col("doc_id").as("p_id"), col("sh").as("sb")), "p_id")
      .filter((inter / (size(col("sa")) + size(col("sb")) - inter)) >= Tau)
      .select(col("new_id").as("doc_id")).distinct()
      .select(col("doc_id"), lit(1).as("n"))
    newDig.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("e") === 1, "dup_exact")
          .when(col("n") === 1, "neardup")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  val queries: Seq[GQ] = Seq(
    // Per-doc MinHash signature digest + 4 LSH band keys (bands of 4 rows).
    // Band key = h60 of the comma-joined band signatures — cross-engine, so
    // the oracle checks the exact band keys candidate generation joins on.
    GQ(
      "q_dedup_minhash",
      (s, d) => {
        val sigs = minhashSignatures(s, d)
        val bands = (0 until 4).map { b =>
          XHash.h60(concat_ws(",",
            (0 until 4).map(r => col(s"sig${b * 4 + r}")): _*)).as(s"band$b")
        }
        sigs.select(col("doc_id") +: (0 until 4).map(j => col(s"sig$j")) ++: bands: _*)
          .orderBy(col("doc_id"))
      },
      Some {
        val bands = (0 until 4).map { b =>
          val cat = (0 until 4).map(r => s"sig${b * 4 + r}").mkString("concat_ws(',', ", ", ", ")")
          s"${XHash.sqlH60(cat)} AS band$b"
        }.mkString(", ")
        s"""$sqlSignatureCte
           |SELECT doc_id, sig0, sig1, sig2, sig3, $bands
           |FROM s ORDER BY doc_id""".stripMargin
      }
    ),
    // LSH candidate pairs via the SAME 4-row band keys q_dedup_minhash
    // publishes (r=4, b=4 banding — round 3, VERDICT item 1): a pair is a
    // candidate only when some band of 4 consecutive signature rows matches
    // IN FULL, so P(candidate) ≈ 1 − (1 − j⁴)⁴ — a j≈0.05 pair survives
    // with p≈2.5e-5 where the round-2 r=1 rule admitted it with p≈0.56 and
    // had no bucket bound (common low-hash shingles made per-(position,
    // value) buckets near-quadratic on a natural corpus). Band buckets
    // shrink exponentially in r, which is what keeps hot buckets bounded at
    // 100 TB. Candidates are then scored by the same estimator as round 2 —
    // est_jaccard = matched-position fraction over all K signatures — so
    // high-similarity pairs rank identically; only the uninformative j≈0
    // collision tail is gone. Top-20 deterministic.
    GQ(
      "q_dedup_minhash_pairs",
      (s, d) => {
        // the band explode and both scoring-join sides share the signature
        // pipeline via ReusedExchange; a persist measured slower at sf0.1
        // (1.7-2.3s cached vs 1.4-2.0s reused; round-3 A/B, cf. lsh_verify)
        val sigs = minhashSignatures(s, d)
        val bl = bandRows(sigs)
        val cand = bl.as("a")
          .join(bl.as("b"),
            col("a.bpos") === col("b.bpos") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct()
        val sigArr = array((0 until K).map(j => col(s"sig$j")): _*)
        val matched = aggregate(
          zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, m) => acc + m)
        cand
          .join(sigs.select(col("doc_id").as("a_id"), sigArr.as("sa")), "a_id")
          .join(sigs.select(col("doc_id").as("b_id"), sigArr.as("sb")), "b_id")
          .select(col("a_id"), col("b_id"),
            (matched.cast(DoubleType) / K).as("est_jaccard"))
          .orderBy(col("est_jaccard").desc, col("a_id"), col("b_id"))
          .limit(20)
      },
      Some {
        val bandCase = (0 until 4).map { b =>
          val cat = (0 until 4).map(r => s"sig${b * 4 + r}").mkString("concat_ws(',', ", ", ", ")")
          s"WHEN $b THEN ${XHash.sqlH60(cat)}"
        }.mkString(" ")
        val sigList = (0 until K).map(j => s"sig$j").mkString("[", ", ", "]")
        s"""$sqlSignatureCte,
           |bl AS (SELECT doc_id, r.b AS bpos,
           |  CASE r.b $bandCase END AS bkey FROM s, range(4) r(b)),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bl a JOIN bl b
           |  ON a.bpos = b.bpos AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |sl AS (SELECT doc_id, $sigList AS sigs FROM s)
           |SELECT c.a_id, c.b_id,
           |  CAST(len(list_filter(range($K), i -> x.sigs[i + 1] = y.sigs[i + 1]))
           |    AS DOUBLE) / $K AS est_jaccard
           |FROM cand c
           |JOIN sl x ON x.doc_id = c.a_id
           |JOIN sl y ON y.doc_id = c.b_id
           |ORDER BY est_jaccard DESC, a_id, b_id LIMIT 20""".stripMargin
      }
    ),
    // The end-to-end scalable near-dup JOIN (round 2): MinHash LSH band
    // buckets generate candidates — pairs sharing ≥1 of the 4 band keys,
    // volume bounded by band collisions, never all-pairs — and each
    // candidate is then verified with the EXACT shingle-set Jaccard. This is
    // the canonical "LSH candidates + exact rescoring" pipeline that
    // replaces quadratic near-dup joins at 100 TB; the verify join costs
    // Σ_candidates |doc| shingle rows. Integer/hash math throughout on the
    // h60 basis ⇒ fully oracle-matched end to end.
    GQ(
      "q_dedup_lsh_verify",
      (s, d) => verifiedPairs(s, d)
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
        .limit(20),
      Some {
        val bandCase = (0 until 4).map { b =>
          val cat = (0 until 4).map(r => s"sig${b * 4 + r}").mkString("concat_ws(',', ", ", ", ")")
          s"WHEN ${b} THEN ${XHash.sqlH60(cat)}"
        }.mkString(" ")
        s"""$sqlSignatureCte,
           |bl AS (SELECT doc_id, r.b AS bpos,
           |  CASE r.b $bandCase END AS bkey FROM s, range(4) r(b)),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bl a JOIN bl b
           |  ON a.bpos = b.bpos AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |sets AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
           |  THEN list_transform(range(1, len(ws) - 1),
           |       i -> array_to_string(ws[i:i+2], ' '))
           |  ELSE [text] END) AS sh FROM d)
           |SELECT c.a_id, c.b_id,
           |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
           |  (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
           |FROM cand c
           |JOIN sets x ON x.doc_id = c.a_id
           |JOIN sets y ON y.doc_id = c.b_id
           |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin
      }
    ),
    // Asymmetric CONTAINMENT dedup (round 4, batch 9) — the partial-copy
    // detector symmetric Jaccard structurally misses: a short doc fully
    // quoted inside a long one has jaccard ≈ |A|/|B| (tiny) but
    // containment |A∩B|/|A| = 1.0. Curation pipelines (RefinedWeb-style)
    // use this to catch quote extraction / boilerplate wrapping /
    // truncated re-crawls, where the dedup decision is "drop the contained
    // side", not "drop either". Candidates come from the SAME r=4/b=4
    // band machinery (a contained doc shares its shingles with the
    // container, so its minhash rows are drawn from the container's set —
    // band collisions fire exactly as for near-dups); each candidate is
    // verified with BOTH direction fractions.
    //
    // Determinism: inter/|A| and inter/|B| are each ONE IEEE division of
    // exact ints (R7); the ordering key `best = greatest(both)` compares
    // doubles computed identically in both engines; ties → (a_id, b_id)
    // (R1). Plan shape: identical to q_dedup_lsh_verify — bounded band
    // candidates + one canonical shingle-set exchange consumed by both
    // join sides; the two extra divisions are scan-side.
    GQ(
      "q_dedup_containment",
      (s, d) => {
        val sigs = minhashSignatures(s, d)
        val bl = bandRows(sigs)
        val cand = bl.as("a")
          .join(bl.as("b"),
            col("a.bpos") === col("b.bpos") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct()
        val sets = shingleItems(s, d)
          .groupBy(col("doc_id")).agg(collect_set(col("item")).as("sh"))
        val inter = size(array_intersect(col("sa"), col("sb"))).cast(DoubleType)
        cand
          .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
          .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
          .select(col("a_id"), col("b_id"),
            (inter / size(col("sa"))).as("cont_a"),
            (inter / size(col("sb"))).as("cont_b"))
          .withColumn("best", greatest(col("cont_a"), col("cont_b")))
          .orderBy(col("best").desc, col("a_id"), col("b_id"))
          .limit(20)
      },
      Some {
        val bandCase = (0 until 4).map { b =>
          val cat = (0 until 4).map(r => s"sig${b * 4 + r}").mkString("concat_ws(',', ", ", ", ")")
          s"WHEN ${b} THEN ${XHash.sqlH60(cat)}"
        }.mkString(" ")
        s"""$sqlSignatureCte,
           |bl AS (SELECT doc_id, r.b AS bpos,
           |  CASE r.b $bandCase END AS bkey FROM s, range(4) r(b)),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bl a JOIN bl b
           |  ON a.bpos = b.bpos AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |sets AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
           |  THEN list_transform(range(1, len(ws) - 1),
           |       i -> array_to_string(ws[i:i+2], ' '))
           |  ELSE [text] END) AS sh FROM d),
           |sc AS (SELECT c.a_id, c.b_id,
           |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(x.sh)
           |    AS cont_a,
           |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(y.sh)
           |    AS cont_b
           |FROM cand c
           |JOIN sets x ON x.doc_id = c.a_id
           |JOIN sets y ON y.doc_id = c.b_id)
           |SELECT a_id, b_id, cont_a, cont_b,
           |  GREATEST(cont_a, cont_b) AS best
           |FROM sc
           |ORDER BY best DESC, a_id, b_id LIMIT 20""".stripMargin
      }
    ),
    // CONNECTED COMPONENTS over the verified near-dup graph (round 3) —
    // the step between candidate pairs and survivor selection in a real
    // dedup run: near-duplication is not transitive, so keeping one doc
    // per VERIFIED-PAIR CLUSTER (not per pair) is what dedup pipelines
    // actually execute. Edges = LSH band candidates whose EXACT shingle
    // Jaccard ≥ Tau (the q_dedup_lsh_verify machinery, unlimited).
    // Components via [[componentLabels]]: min-label propagation with
    // pointer jumping, one job per round, O(log diameter) rounds. The
    // oracle computes the same components via a recursive-CTE reachability
    // closure and both engines emit (component_id = min member, n_members).
    GQ(
      "q_dedup_components",
      (s, d) => {
        val edges = verifiedPairs(s, d)
          .filter(col("jaccard") >= Tau)
          .select(col("a_id"), col("b_id"))
        componentLabels(edges)
          .groupBy(col("comp").as("component_id"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy(col("component_id"))
      },
      Some {
        val bandCase = (0 until 4).map { b =>
          val cat = (0 until 4).map(r => s"sig${b * 4 + r}").mkString("concat_ws(',', ", ", ", ")")
          s"WHEN ${b} THEN ${XHash.sqlH60(cat)}"
        }.mkString(" ")
        s"""WITH RECURSIVE ${sqlSignatureCte.stripPrefix("WITH ")},
           |bl AS (SELECT doc_id, r.b AS bpos,
           |  CASE r.b $bandCase END AS bkey FROM s, range(4) r(b)),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bl a JOIN bl b
           |  ON a.bpos = b.bpos AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |sets AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
           |  THEN list_transform(range(1, len(ws) - 1),
           |       i -> array_to_string(ws[i:i+2], ' '))
           |  ELSE [text] END) AS sh FROM d),
           |edges AS (SELECT c.a_id, c.b_id FROM cand c
           |  JOIN sets x ON x.doc_id = c.a_id
           |  JOIN sets y ON y.doc_id = c.b_id
           |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
           |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= $Tau),
           |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
           |  UNION ALL SELECT b_id, a_id FROM edges),
           |reach(src, dst) AS (
           |  SELECT DISTINCT src, src FROM sym
           |  UNION
           |  SELECT r.src, y.dst FROM reach r JOIN sym y ON r.dst = y.src)
           |SELECT component_id, COUNT(*) AS n_members FROM (
           |  SELECT src, MIN(dst) AS component_id FROM reach GROUP BY src)
           |GROUP BY component_id ORDER BY component_id""".stripMargin
      }
    ),
    // Per-node BFS depth from the canonical exemplar (round 4) — the
    // graph-distance complement of q_dedup_components' membership: how
    // many near-dup steps separate each member from its component's root
    // (min id). Chain depth is the practical dedup-quality signal — a
    // deep chain means transitive near-dups that pairwise scoring would
    // NOT have linked (A~B~C with A,C dissimilar), exactly the clusters
    // worth human review before bulk-dropping. Same verified edge set,
    // same determinism story (exact hash/integer machinery end to end);
    // order (root_id, hops, doc_id) (R1).
    GQ(
      "q_graph_bfs",
      (s, d) => {
        val edges = verifiedPairs(s, d)
          .filter(col("jaccard") >= Tau)
          .select(col("a_id"), col("b_id"))
        bfsHops(edges)
          .orderBy(col("root_id"), col("hops"), col("doc_id"))
      },
      Some {
        val bandCase = (0 until 4).map { b =>
          val cat = (0 until 4).map(r => s"sig${b * 4 + r}").mkString("concat_ws(',', ", ", ", ")")
          s"WHEN ${b} THEN ${XHash.sqlH60(cat)}"
        }.mkString(" ")
        s"""WITH RECURSIVE ${sqlSignatureCte.stripPrefix("WITH ")},
           |bl AS (SELECT doc_id, r.b AS bpos,
           |  CASE r.b $bandCase END AS bkey FROM s, range(4) r(b)),
           |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bl a JOIN bl b
           |  ON a.bpos = b.bpos AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |sets AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
           |  THEN list_transform(range(1, len(ws) - 1),
           |       i -> array_to_string(ws[i:i+2], ' '))
           |  ELSE [text] END) AS sh FROM d),
           |edges AS (SELECT c.a_id, c.b_id FROM cand c
           |  JOIN sets x ON x.doc_id = c.a_id
           |  JOIN sets y ON y.doc_id = c.b_id
           |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
           |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= $Tau),
           |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
           |  UNION ALL SELECT b_id, a_id FROM edges),
           |walk(node, comp, hops) AS (
           |  SELECT DISTINCT src, src, CAST(0 AS BIGINT) FROM sym
           |  UNION
           |  SELECT y.dst, w.comp, w.hops + 1 FROM walk w
           |  JOIN sym y ON w.node = y.src WHERE w.hops < $BfsMaxRounds),
           |rt AS (SELECT node, MIN(comp) AS root_id FROM walk GROUP BY node)
           |SELECT w.node AS doc_id, rt.root_id, MIN(w.hops) AS hops
           |FROM walk w JOIN rt ON w.node = rt.node AND w.comp = rt.root_id
           |GROUP BY 1, 2
           |ORDER BY root_id, hops, doc_id""".stripMargin
      }
    ),
    // INCREMENTAL dedup against an indexed corpus (round 4) — the shape a
    // production pipeline actually runs daily: a small NEW batch (here
    // doc_id ≡ 0 mod 10, ~10% of the corpus) is checked against the
    // already-INDEXED rest, and each new doc that near-duplicates an
    // indexed doc reports its best match to be dropped/linked. Candidates
    // come from the same r=4/b=4 MinHash band machinery, but the join is
    // ASYMMETRIC: new-batch bands × index bands — never index × index, so
    // the cost is |new| band rows probing the index, not the full self-join
    // the batch queries pay. At 100 TB the index side's band table is
    // PRECOMPUTED and stored (bucketed by band key); the daily run only
    // computes signatures for the new batch and broadcast-probes — the
    // recomputation here stands in for that stored table, and the plan's
    // join/verify shape is identical. Verification is the exact shingle-set
    // Jaccard (≥ Tau), best match = max jaccard with min-id tie-break.
    GQ(
      "q_dedup_incremental",
      (s, d) => {
        val isNew = pmod(col("doc_id"), lit(10L)) === 0L
        val bl = bandRows(minhashSignatures(s, d))
        val cand = bl.filter(isNew).as("n")
          .join(bl.filter(!isNew).as("i"),
            col("n.bpos") === col("i.bpos") && col("n.bkey") === col("i.bkey"))
          .select(col("n.doc_id").as("new_id"), col("i.doc_id").as("idx_id"))
          .distinct()
        val sets = shingleItems(s, d)
          .groupBy(col("doc_id")).agg(collect_set(col("item")).as("sh"))
        val inter = size(array_intersect(col("sa"), col("sb"))).cast(DoubleType)
        val w = Window.partitionBy(col("new_id"))
          .orderBy(col("jaccard").desc, col("idx_id"))
        cand
          .join(sets.select(col("doc_id").as("new_id"), col("sh").as("sa")), "new_id")
          .join(sets.select(col("doc_id").as("idx_id"), col("sh").as("sb")), "idx_id")
          .select(col("new_id"), col("idx_id"),
            (inter / (size(col("sa")) + size(col("sb")) - inter)).as("jaccard"))
          .filter(col("jaccard") >= Tau)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("new_id"), col("idx_id").as("dup_of"), col("jaccard"))
          .orderBy(col("new_id"))
      },
      Some {
        val bandCase = (0 until 4).map { b =>
          val cat = (0 until 4).map(r => s"sig${b * 4 + r}").mkString("concat_ws(',', ", ", ", ")")
          s"WHEN $b THEN ${XHash.sqlH60(cat)}"
        }.mkString(" ")
        s"""$sqlSignatureCte,
           |bl AS (SELECT doc_id, r.b AS bpos,
           |  CASE r.b $bandCase END AS bkey FROM s, range(4) r(b)),
           |cand AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
           |  FROM bl n JOIN bl i ON n.bpos = i.bpos AND n.bkey = i.bkey
           |  WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0),
           |sets AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
           |  THEN list_transform(range(1, len(ws) - 1),
           |       i -> array_to_string(ws[i:i+2], ' '))
           |  ELSE [text] END) AS sh FROM d),
           |sc AS (SELECT c.new_id, c.idx_id,
           |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
           |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
           |  FROM cand c
           |  JOIN sets x ON x.doc_id = c.new_id
           |  JOIN sets y ON y.doc_id = c.idx_id),
           |r AS (SELECT new_id, idx_id, jaccard,
           |    row_number() OVER (PARTITION BY new_id
           |      ORDER BY jaccard DESC, idx_id) AS rn
           |  FROM sc WHERE jaccard >= $Tau)
           |SELECT new_id, idx_id AS dup_of, jaccard FROM r
           |WHERE rn = 1 ORDER BY new_id""".stripMargin
      }
    ),
    // SUB-DOCUMENT (span-level) dedup accounting (round 4) — the C4/
    // RefinedWeb curation step the doc-level family can't express: repeated
    // SPANS (boilerplate, citations, templates) are dropped or discounted
    // even when the containing documents are unique. Documents chunk into
    // non-overlapping 10-word spans (KGrams at pos ≡ 0 mod 10; sub-10-word
    // docs are their own single span; sub-span tails are dropped by
    // contract, mirrored in the oracle), and each doc reports how many of
    // its spans occur in ≥2 DISTINCT docs — the signal a pipeline uses to
    // strip spans or down-weight documents. Span keys travel as xxhash64
    // longs (equality-only use, the blockedJaccard trick: ~9× narrower
    // shuffles; the oracle intersects the original strings). Plan: one
    // scan-side chunk projection, then distinct + span-keyed agg + join
    // back + doc agg — every shuffle keyed on span hash or doc_id, linear
    // at any corpus size. The emitted fraction is ONE IEEE division of two
    // exact ints (R7).
    GQ(
      "q_dedup_spans",
      (s, d) => {
        val chunks = Grams.kgramRows(Tables.t(s, d, "documents"), 10, Seq())
          .filter(pmod(col("pos"), lit(10)) === 0)
          .select(col("doc_id"), xxhash64(col("item")).as("ih"))
        val spanDf = chunks.distinct()
          .groupBy(col("ih")).agg(count(lit(1)).as("nd"))
        chunks.join(spanDf, "ih")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
            (col("n_dup_chunks").cast(DoubleType) /
              col("n_chunks").cast(DoubleType)).as("dup_fraction"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, text
             |  FROM documents),
             |c AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 10
             |    THEN list_transform(range(len(ws) // 10),
             |         p -> array_to_string(ws[10*p+1 : 10*p+10], ' '))
             |    ELSE [text] END) AS item FROM d),
             |f AS (SELECT item, COUNT(DISTINCT doc_id) AS nd FROM c GROUP BY item),
             |a AS (SELECT c.doc_id, COUNT(*) AS n_chunks,
             |    CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_dup_chunks
             |  FROM c JOIN f USING (item) GROUP BY c.doc_id)
             |SELECT doc_id, n_chunks, n_dup_chunks,
             |  CAST(n_dup_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE)
             |    AS dup_fraction
             |FROM a ORDER BY doc_id""".stripMargin)
    ),
    // CONTENT-DEFINED chunking dedup (round 4) — the fixed-grid weakness of
    // q_dedup_spans is that ONE inserted word shifts every later 10-word
    // span boundary, so a near-copy with a single edit shares zero spans.
    // CDC (rsync/LBFS lineage; word-level gear-hash here) cuts a chunk
    // boundary AFTER every word whose h60 ≡ 0 (mod 8) — boundaries depend
    // only on LOCAL content, so an edit perturbs at most the chunk it sits
    // in and its immediate neighbor while every other chunk re-aligns
    // (expected chunk length 8 words, geometric). Per doc: chunk count,
    // how many of its chunks appear in ≥2 distinct docs, the dup fraction
    // (ONE int/int IEEE division, R7), and an order-independent bit_xor
    // fingerprint of the chunk hashes — any boundary drift anywhere flips
    // it, which is what makes the oracle comparison sensitive to the whole
    // chunking, not just the dup counts.
    //
    // Plan shape (100 TB): the ENTIRE chunking — per-word boundary hash,
    // chunk-id assignment, chunk reassembly, chunk digest — runs inside ONE
    // codegen'd scan-side expression (functions/CdcChunks.scala), because
    // chunking is inherently sequential per document. Round 4 paid a corpus
    // explode, a doc-keyed window exchange (prefix-sum of boundary flags),
    // and a (doc,chunk) collect_list + per-chunk sort just to reassemble
    // adjacency the scan already had (VERDICT r4 item 6); round 5 pays zero
    // shuffles before the chunk-hash frequency agg. Remaining shape is the
    // q_dedup_spans distinct/count/join-back, keyed on chunk hash or
    // doc_id — linear forever. Production CDC adds min/max chunk-size
    // clamps against degenerate boundary runs; the fixed mod-8 gate keeps
    // the declared semantics minimal. Oracle unchanged: DuckDB replays the
    // equivalent window formulation, pinning the expression's chunking
    // (boundary placement, tail chunk, h60 digest) hash-exactly.
    GQ(
      "q_dedup_cdc",
      (s, d) => {
        val chunks = Tables.t(s, d, "documents")
          .select(col("doc_id"),
            explode(graft.functions.CdcChunks.col(col("text"), 7)).as("ch"))
        val freq = chunks.select(col("doc_id"), col("ch")).distinct()
          .groupBy(col("ch")).agg(count(lit(1)).as("nd"))
        chunks.join(freq, "ch")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
            bit_xor(col("ch")).as("chunks_fp"))
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
            (col("n_dup_chunks").cast(DoubleType) /
              col("n_chunks").cast(DoubleType)).as("dup_fraction"),
            col("chunks_fp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents),
             |w AS (SELECT doc_id, unnest(ws) AS item,
             |    unnest(range(1, len(ws) + 1)) AS i FROM d),
             |b AS (SELECT doc_id, item, i,
             |    CASE WHEN ${XHash.sqlH60("item")} % 8 = 0 THEN 1 ELSE 0 END
             |      AS bnd FROM w),
             |ck AS (SELECT doc_id, item, i,
             |    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS chunk FROM b),
             |c AS (SELECT doc_id, chunk,
             |    ${XHash.sqlH60("string_agg(item, ' ' ORDER BY i)")} AS ch
             |  FROM ck GROUP BY doc_id, chunk),
             |f AS (SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM c GROUP BY ch),
             |a AS (SELECT c.doc_id, COUNT(*) AS n_chunks,
             |    CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_dup_chunks,
             |    bit_xor(c.ch) AS chunks_fp
             |  FROM c JOIN f USING (ch) GROUP BY c.doc_id)
             |SELECT doc_id, n_chunks, n_dup_chunks,
             |  CAST(n_dup_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE)
             |    AS dup_fraction,
             |  chunks_fp
             |FROM a ORDER BY doc_id""".stripMargin)
    ),
    // 32-bit SimHash per document from term-frequency-weighted word hashes
    // (bits 0..31 of the h60 basis; duplicates of a word vote once each).
    GQ(
      "q_dedup_simhash",
      (s, d) => {
        val h = XHash.h60(col("word"))
        val bitSums = (0 until 32).map { b =>
          sum(when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$b")
        }
        val sig = (0 until 32).map { b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _)
        Tables.t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy(col("doc_id"))
          .agg(bitSums.head, bitSums.tail: _*)
          .select(
            col("doc_id"), sig.as("simhash"),
            shiftright(sig, 16).as("prefix_bucket"))
          .orderBy(col("doc_id"))
      },
      Some {
        val bitSums = (0 until 32).map { b =>
          s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
        }.mkString(", ")
        val sig = (0 until 32).map { b =>
          s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        }.mkString(" + ")
        s"""WITH it AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           |  FROM documents),
           |h AS (SELECT doc_id, ${XHash.sqlH60("word")} AS h FROM it),
           |bs AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
           |sig AS (SELECT doc_id, $sig AS simhash FROM bs)
           |SELECT doc_id, simhash, simhash >> 16 AS prefix_bucket
           |FROM sig ORDER BY doc_id""".stripMargin
      }
    ),
    // Exact word-set Jaccard within (lang, source) blocks — oracle-matched.
    // jaccard is a single IEEE division of two exact ints: bit-stable. The
    // oracle keeps the direct quadratic form; only the ≥ Tau floor is shared
    // with the Spark plan (round-2 contract — see blockedJaccard).
    GQ(
      "q_dedup_jaccard_words",
      (s, d) => blockedJaccard(
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            explode(split(col("text"), " ")).as("item"))),
      Some(s"""WITH d AS (SELECT doc_id, lang, source,
             |  list_distinct(string_split(text, ' ')) AS ws FROM documents),
             |j AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
             |  (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
             |FROM d a JOIN d b
             |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
             |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= $Tau
             |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin)
    ),
    // Exact 3-gram (word-shingle) Jaccard within blocks — oracle-matched.
    GQ(
      "q_dedup_jaccard_ngram",
      (s, d) => blockedJaccard(shingleItems(s, d)),
      Some(s"""WITH d AS (SELECT doc_id, lang, source,
             |  list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
             |    THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
             |         i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
             |    ELSE [text] END) AS sh
             |  FROM documents),
             |j AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
             |FROM d a JOIN d b
             |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
             |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= $Tau
             |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin)
    ),
    // Embedding-cosine near-dup: top-20 most-similar pairs within a fixed
    // id-range block (constant work at any SF; the unblocked scale path is
    // the LSH/IVF machinery in Ann). Oracle-matched; ordered on the rounded
    // value with unique tie-break (R7).
    GQ(
      "q_dedup_embed",
      (s, d) => {
        val e = Tables.t(s, d, "embeddings").filter(col("vec_id") < 300)
        val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
        val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
        a.join(b, col("a_id") < col("b_id"))
          .select(
            col("a_id"), col("b_id"),
            vec.roundz(vec.cosine(col("ea"), col("eb")), 3).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
          .limit(20)
      },
      Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |(ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                              CAST(b.embedding AS DOUBLE[])), 3) + 0.0) AS cos_sim
             |FROM embeddings a JOIN embeddings b
             |  ON a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300
             |ORDER BY cos_sim DESC, a_id, b_id LIMIT 20""".stripMargin)
    ),
    // WRITE-THEN-SERVE dedup, DECLARED (round 8, VERDICT item 4 — the
    // dedup half of the lifecycle q_retrieval_served declares for
    // retrieval): the index corpus AND the daily batch each write their
    // band + digest artifacts ONCE (bucketed on the full probe keys,
    // IndexLifecycle.writeDedupIndex), and the batch classification is
    // served ENTIRELY from storage — exact membership via the (h, text)
    // digest anti-join, near-dup via the stored-band candidate join with
    // the exact shingle-Jaccard ≥ Tau verify over texts read back from
    // the digest tables; the raw documents table is never scanned after
    // the writes (the returned plan reads only the managed tables). One
    // row per batch doc: dup_exact (byte-identical text in the index) >
    // neardup (τ-verified against any index doc) > new. The oracle
    // replays the same contract from the raw table — a lossy band write,
    // a digest round-trip bug, or a broken bucketed read hash-mismatches.
    GQ(
      "q_dedup_served",
      (s, d) => {
        import graft.sources.IndexLifecycle
        val docs = Tables.t(s, d, "documents").filter(col("doc_id") >= 4)
        val idxCorpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
          .select(col("doc_id"), col("text"))
        val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
          .select(col("doc_id"), col("text"))
        IndexLifecycle.writeDedupIndex(s, idxCorpus, "served_dd_idx", 8)
        IndexLifecycle.writeDedupIndex(s, batch, "served_dd_new", 8)
        servedClassification(s, "served_dd_idx", "served_dd_new")
      },
      Some(s"""WITH idx AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id >= 4 AND doc_id % 10 <> 0),
             |nw AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id >= 4 AND doc_id % 10 = 0),
             |u AS (SELECT doc_id, text FROM idx
             |  UNION ALL SELECT doc_id, text FROM nw),
             |${sqlVerifiedEdgesCtes("u", "ver")},
             |ex AS (SELECT doc_id FROM nw
             |  WHERE text IN (SELECT text FROM idx)),
             |nd AS (SELECT DISTINCT x.doc_id FROM nw x JOIN ver
             |    ON (ver.a_id = x.doc_id
             |        AND ver.b_id IN (SELECT doc_id FROM idx))
             |    OR (ver.b_id = x.doc_id
             |        AND ver.a_id IN (SELECT doc_id FROM idx)))
             |SELECT nw.doc_id,
             |  CASE WHEN nw.doc_id IN (SELECT doc_id FROM ex) THEN 'dup_exact'
             |       WHEN nw.doc_id IN (SELECT doc_id FROM nd) THEN 'neardup'
             |       ELSE 'new' END AS status
             |FROM nw ORDER BY doc_id""".stripMargin)
    ),
    // DEDUP-INDEX UPSERT, DECLARED (round 9 — the lifecycle's third verb
    // for the dedup family: write, serve, MAINTAIN). Two ingest rounds
    // against a GROWING index: batch 2 classifies against the main index
    // exactly as q_dedup_served; its ACCEPTED ('new') docs then fold into
    // the index as a delta generation (delta-sized semi-join of the
    // batch's own artifacts + bucketed writes — the main index is never
    // rewritten); batch 3 classifies against main ∪ delta through the
    // same multi-generation probe. The growth is observable: a batch-3
    // doc near-duplicating an ACCEPTED batch-2 doc must come back
    // 'neardup' — serving from a stale index returns 'new' and
    // hash-mismatches. Rejected batch-2 docs must NOT enter the index
    // (merging them would misclassify their batch-3 twins via the wrong
    // anchor — same answer here, but the oracle pins the accepted-only
    // contract via idx2's definition). Output: both rounds' rows, tagged.
    GQ(
      "q_dedup_upsert",
      (s, d) => {
        import graft.sources.IndexLifecycle
        val docs = Tables.t(s, d, "documents").filter(col("doc_id") >= 4)
          .select(col("doc_id"), col("text"))
        val m10 = pmod(col("doc_id"), lit(10L))
        val idx1 = docs.filter(m10 =!= 0L && m10 =!= 5L)
        val b2 = docs.filter(m10 === 5L)
        val b3 = docs.filter(m10 === 0L)
        IndexLifecycle.writeDedupIndex(s, idx1, "du_idx", 8)
        IndexLifecycle.writeDedupIndex(s, b2, "du_b2", 8)
        // persisted (round 11, VERDICT item 1): cls2 has TWO consumers —
        // the upsert's accepted-ids filter (materialized when du_d1 is
        // written) and the final output union — and unpersisted the second
        // replayed the ENTIRE round-2 classification (the corpus-sized
        // shingle collect_set agg, the band probe, the verify join).
        // Output is one narrow row per batch doc — the cacheable size.
        val cls2 = graft.Caches.persist(
          servedClassification(s, Seq("du_idx"), "du_b2"))
        IndexLifecycle.upsertDedupIndex(s, "du_b2",
          cls2.filter(col("status") === "new").select(col("doc_id")),
          "du_d1", 8)
        IndexLifecycle.writeDedupIndex(s, b3, "du_b3", 8)
        val cls3 = servedClassification(s, Seq("du_idx", "du_d1"), "du_b3")
        cls2.withColumn("round", lit(2L))
          .unionByName(cls3.withColumn("round", lit(3L)))
          .orderBy(col("round"), col("doc_id"))
      },
      Some(s"""WITH idx AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id >= 4 AND doc_id % 10 NOT IN (0, 5)),
             |b2 AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id >= 4 AND doc_id % 10 = 5),
             |b3 AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id >= 4 AND doc_id % 10 = 0),
             |u AS (SELECT doc_id, text FROM documents WHERE doc_id >= 4),
             |${sqlVerifiedEdgesCtes("u", "ver")},
             |cls2 AS (SELECT b2.doc_id,
             |  CASE WHEN b2.text IN (SELECT text FROM idx) THEN 'dup_exact'
             |       WHEN EXISTS (SELECT 1 FROM ver
             |         WHERE (ver.a_id = b2.doc_id
             |                AND ver.b_id IN (SELECT doc_id FROM idx))
             |            OR (ver.b_id = b2.doc_id
             |                AND ver.a_id IN (SELECT doc_id FROM idx)))
             |       THEN 'neardup' ELSE 'new' END AS status FROM b2),
             |idx2 AS (SELECT doc_id, text FROM idx
             |  UNION ALL SELECT b2.doc_id, b2.text FROM b2
             |  JOIN cls2 USING (doc_id) WHERE cls2.status = 'new'),
             |cls3 AS (SELECT b3.doc_id,
             |  CASE WHEN b3.text IN (SELECT text FROM idx2) THEN 'dup_exact'
             |       WHEN EXISTS (SELECT 1 FROM ver
             |         WHERE (ver.a_id = b3.doc_id
             |                AND ver.b_id IN (SELECT doc_id FROM idx2))
             |            OR (ver.b_id = b3.doc_id
             |                AND ver.a_id IN (SELECT doc_id FROM idx2)))
             |       THEN 'neardup' ELSE 'new' END AS status FROM b3)
             |SELECT doc_id, status, CAST(2 AS BIGINT) AS round FROM cls2
             |UNION ALL
             |SELECT doc_id, status, CAST(3 AS BIGINT) AS round FROM cls3
             |ORDER BY round, doc_id""".stripMargin)
    )
  )
}
