package graft.operators

import graft.{GQ, Tables}
import graft.functions.Log2Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Language-model toolkit over the documents table (round 4, batch 13) —
  * the two tokenizer/LM verbs a training-data pipeline runs beside the
  * statistical quality gates: score each document under a corpus-trained
  * n-gram LM (the CCNet/Gopher "perplexity filter" shape), and train the
  * first merges of a BPE tokenizer vocabulary (Sennrich et al. 2016).
  *
  * Both are transcendental-free by construction: ln()/log2()/pow() are
  * last-ulp engine-specific (the q_text_tfidf precedent), so surprisal is
  * carried in EXACT DYADIC LOG2 units ([[graft.functions.Log2Q]]), whose
  * integer recurrence is bit-identical in Spark and DuckDB.
  */
object Lm {

  val queries: Seq[GQ] = Seq(
    // Bigram-LM perplexity scoring (CCNet's quality signal, Wenzek et al.
    // 2020): train an add-one-smoothed bigram model ON the corpus itself,
    // then report the 20 most surprising documents — mean per-transition
    // surprisal log2((c_a + V) / (c_ab + 1)) in bits. High mean = the
    // doc's word transitions are rare corpus-wide = gibberish / wrong
    // language / boilerplate-shuffled text; the LM-based complement of
    // q_text_quality's surface gates and q_text_gini's concentration.
    //
    // Determinism: surprisal is the EXACT DYADIC LOG2 of the rational
    // (c_a+V)/(c_ab+1) ≥ 1 (`log2q`, [[graft.functions.Log2Q]]), pinned to
    // a big-integer replay in the spec. Per-transition units of 2^-10 bits
    // sum EXACTLY (order-free BIGINT Σ); the mean is ONE fixed IEEE tree
    // sq_sum/(n_trans·1024) (R7). Sub-2-word docs have no transition and
    // drop out by contract; ties → doc_id (R1).
    //
    // Plan shape (100 TB): the corpus bigram relation persists once (one
    // KGrams scan-side pass, zero shuffles to build); the model is TWO
    // hash aggs over it ((a,b) then a — vocab²-bounded outputs); the
    // log2 runs on the vocab²-bounded dim table only, never on the corpus;
    // scoring is ONE (a,b)-keyed join (broadcast here — at web scale the
    // dim outgrows the threshold and AQE falls back to a shuffle join keyed
    // on the same columns) + ONE doc_id agg + TakeOrderedAndProject(20).
    // The corpus is scanned once and shuffled once (the scoring agg).
    GQ(
      "q_text_perplexity",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val bg = graft.Caches.persist(
          Grams.kgramRows(docs, 2, Seq())
            .select(col("doc_id"), split(col("item"), " ").as("p"))
            .filter(size(col("p")) === 2)
            .select(col("doc_id"), col("p")(0).as("a"), col("p")(1).as("b")))
        val v = docs.select(explode(split(col("text"), " ")).as("w"))
          .agg(count_distinct(col("w")).as("v"))
        val cab = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
        val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
        val sdim = cab.join(ca, "a").crossJoin(broadcast(v))
          .select(col("a"), col("b"),
            Log2Q.col(col("ca") + col("v"), col("cab") + lit(1L)).as("sq"))
        bg.join(broadcast(sdim), Seq("a", "b"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_trans"), sum(col("sq")).as("sq_sum"))
          .select(col("doc_id"), col("n_trans"), col("sq_sum"),
            (col("sq_sum").cast(DoubleType) /
              (col("n_trans").cast(DoubleType) * lit(1024.0))).as("mean_bits"))
          .orderBy(col("mean_bits").desc, col("doc_id"))
          .limit(20)
      },
      Some {
        s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |bg AS MATERIALIZED (SELECT doc_id,
           |    string_split(p, ' ')[1] AS a, string_split(p, ' ')[2] AS b
           |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
           |      i -> ws[i] || ' ' || ws[i+1])) AS p
           |    FROM dd WHERE len(ws) >= 2)),
           |vv AS (SELECT COUNT(DISTINCT w) AS v FROM
           |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
           |cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
           |  FROM bg GROUP BY 1, 2),
           |ca AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
           |d0 AS (SELECT cab.a, cab.b, ca.ca + (SELECT v FROM vv) AS nn,
           |    cab.cab + 1 AS dd FROM cab JOIN ca ON cab.a = ca.a),
           |dim AS (SELECT a, b, ${Log2Q.sql("nn", "dd")} AS sq FROM d0),
           |pp AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
           |    CAST(SUM(dim.sq) AS BIGINT) AS sq_sum
           |  FROM bg JOIN dim ON bg.a = dim.a AND bg.b = dim.b
           |  GROUP BY 1)
           |SELECT doc_id, n_trans, sq_sum,
           |  CAST(sq_sum AS DOUBLE) / (CAST(n_trans AS DOUBLE) * 1024.0)
           |    AS mean_bits
           |FROM pp ORDER BY mean_bits DESC, doc_id LIMIT 20""".stripMargin
      }
    ),
    // BPE tokenizer-vocabulary induction (Sennrich et al. 2016) — the
    // first 5 merges trained on the corpus's word-frequency table: count
    // adjacent symbol pairs weighted by word frequency, merge the most
    // frequent pair corpus-wide, re-segment, repeat. The query RESULT is
    // the trained artifact (step, pair, merged symbol, occurrence count) —
    // the actual deliverable a tokenizer build hands downstream.
    //
    // Determinism: counts are exact BIGINTs; the per-round argmax breaks
    // ties (count DESC, a, b) (R1); re-segmentation is ONE string
    // replace() per round whose left-to-right non-overlapping semantics
    // are identical in Spark and DuckDB, made boundary-safe by the
    // directional marker encoding "#sym₁ #sym₂ ... " — every symbol
    // carries a leading '#' and trailing ' ', so the pattern "#a #b " can
    // neither match inside a longer symbol ("#xa #b " ≠) nor across a
    // merged prefix ("#a #bc " ≠), and greedy adjacent runs re-match
    // correctly after a consumed replacement ("#a #a #a #a " → two
    // merges, spec-pinned). Words never span segmentations, so merges are
    // word-internal — the classic formulation.
    //
    // Plan shape (100 TB): the corpus is touched ONCE (the word-frequency
    // agg); every round thereafter runs on the |vocab|-bounded
    // segmentation table (persisted per round, the q_dedup_components
    // swap), with the argmax a bounded 1-row collect (the Lloyd/PCA
    // driver pattern) re-broadcast as a literal into the next projection.
    // Pair explosion is scan-side (per-word symbol list), output bounded
    // by |symbol-vocab|².
    GQ(
      "q_tokenize_bpe",
      (s, d) => {
        import s.implicits._
        val wf = Tables.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        var seg = graft.Caches.persist(wf.select(col("cnt"),
          expr("concat(array_join(transform(sequence(1, length(w)), " +
            "i -> concat('#', substring(w, i, 1))), ' '), ' ')").as("seg")))
        val merges = Seq.newBuilder[(Int, String, String, String, Long)]
        // a degenerate corpus (all single-symbol words) exhausts its pair
        // table before 5 rounds — stop merging instead of head()-ing an
        // empty relation (the round-3-ADVICE empty-edge class); the
        // oracle's per-round COUNT guard no-ops the same rounds
        var exhausted = false
        for (j <- 1 to 5 if !exhausted) {
          val tops = seg
            .select(col("cnt"), split(rtrim(col("seg")), " ").as("sy"))
            .filter(size(col("sy")) >= 2)
            .select(col("cnt"), explode(expr(
              "transform(sequence(1, size(sy) - 1), i -> named_struct(" +
                "'a', substring(element_at(sy, i), 2), " +
                "'b', substring(element_at(sy, i + 1), 2)))")).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum(col("cnt")).as("c"))
            .orderBy(col("c").desc, col("a"), col("b"))
            .limit(1).collect()
          if (tops.isEmpty) exhausted = true
          else {
            val top = tops.head
            val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
            merges += ((j, a, b, a + b, c))
            seg = graft.Caches.persist(seg.select(col("cnt"),
              replace(col("seg"), lit(s"#$a #$b "), lit(s"#$a$b ")).as("seg")))
          }
        }
        merges.result().toDF("step", "a", "b", "merged", "n_occ")
          .orderBy(col("step"))
      },
      Some {
        def round(j: Int): String = {
          val prev = if (j == 1) "g0" else s"g${j - 1}"
          s"""p$j AS (SELECT substring(sy[i], 2) AS a,
             |    substring(sy[i+1], 2) AS b, CAST(SUM(cnt) AS BIGINT) AS c
             |  FROM (SELECT cnt, sy, unnest(range(1, len(sy))) AS i
             |    FROM (SELECT cnt, string_split(rtrim(seg), ' ') AS sy
             |      FROM $prev) WHERE len(sy) >= 2)
             |  GROUP BY 1, 2),
             |t$j AS MATERIALIZED (SELECT a, b, c FROM p$j
             |  ORDER BY c DESC, a, b LIMIT 1),
             |g$j AS MATERIALIZED (SELECT cnt,
             |  CASE WHEN (SELECT COUNT(*) FROM t$j) = 0 THEN seg
             |  ELSE replace(seg,
             |    '#' || (SELECT a FROM t$j) || ' #' || (SELECT b FROM t$j) || ' ',
             |    '#' || (SELECT a FROM t$j) || (SELECT b FROM t$j) || ' ')
             |  END AS seg
             |  FROM $prev)"""
        }
        s"""WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
           |    (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY 1),
           |g0 AS MATERIALIZED (SELECT cnt, array_to_string(
           |    list_transform(range(1, length(w) + 1), i -> '#' || w[i]),
           |    ' ') || ' ' AS seg FROM wf),
           |${(1 to 5).map(round).mkString(",\n")}
           |SELECT * FROM (
           |  SELECT 1 AS step, a, b, a || b AS merged, c AS n_occ FROM t1
           |  UNION ALL SELECT 2, a, b, a || b, c FROM t2
           |  UNION ALL SELECT 3, a, b, a || b, c FROM t3
           |  UNION ALL SELECT 4, a, b, a || b, c FROM t4
           |  UNION ALL SELECT 5, a, b, a || b, c FROM t5)
           |ORDER BY step""".stripMargin
      }
    ),
    // BPE ENCODE (round 4) — the tokenizer's apply pass: train the same 5
    // merges as q_tokenize_bpe, then segment every document and report the
    // token accounting a data pipeline actually budgets with — n_words,
    // n_char_tokens (pre-merge), n_tokens (post-merge), and fertility =
    // tokens per word, THE tokenizer-quality metric (Rust et al. 2021).
    // Segmentation is computed ONCE PER DISTINCT WORD (merges are
    // word-internal, so a word's token count is corpus-position-free) and
    // documents join the |vocab|-bounded word→n_seg dimension — encoding
    // cost at 100 TB is one exploded equi-join against a broadcast dim,
    // never a per-occurrence re-segmentation.
    //
    // Determinism: training replays q_tokenize_bpe exactly (same argmax
    // ties (cnt DESC, a, b), same marker-encoded replace semantics);
    // counts are exact integers; fertility is ONE IEEE division of two
    // exact ints (R7); order doc_id (R1).
    GQ(
      "q_tokenize_encode",
      (s, d) => {
        import s.implicits._
        val wf = Tables.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        var seg = graft.Caches.persist(wf.select(col("w"), col("cnt"),
          expr("concat(array_join(transform(sequence(1, length(w)), " +
            "i -> concat('#', substring(w, i, 1))), ' '), ' ')").as("seg")))
        var exhausted = false
        for (_ <- 1 to 5 if !exhausted) {
          val tops = seg
            .select(col("cnt"), split(rtrim(col("seg")), " ").as("sy"))
            .filter(size(col("sy")) >= 2)
            .select(col("cnt"), explode(expr(
              "transform(sequence(1, size(sy) - 1), i -> named_struct(" +
                "'a', substring(element_at(sy, i), 2), " +
                "'b', substring(element_at(sy, i + 1), 2)))")).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum(col("cnt")).as("c"))
            .orderBy(col("c").desc, col("a"), col("b"))
            .limit(1).collect()
          if (tops.isEmpty) exhausted = true
          else {
            val (a, b) = (tops.head.getString(0), tops.head.getString(1))
            seg = graft.Caches.persist(seg.select(col("w"), col("cnt"),
              replace(col("seg"), lit(s"#$a #$b "), lit(s"#$a$b ")).as("seg")))
          }
        }
        val dim = seg.select(col("w").as("word"),
          size(split(rtrim(col("seg")), " ")).cast(LongType).as("nseg"),
          length(col("w")).cast(LongType).as("nchr"))
        Tables.t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .join(broadcast(dim), "word")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("nchr")).as("n_char_tokens"),
            sum(col("nseg")).as("n_tokens"))
          .select(col("doc_id"), col("n_words"), col("n_char_tokens"),
            col("n_tokens"),
            (col("n_tokens").cast(DoubleType) /
              col("n_words").cast(DoubleType)).as("fertility"))
          .orderBy(col("doc_id"))
      },
      Some {
        def round(j: Int): String = {
          val prev = if (j == 1) "g0" else s"g${j - 1}"
          s"""p$j AS (SELECT substring(sy[i], 2) AS a,
             |    substring(sy[i+1], 2) AS b, CAST(SUM(cnt) AS BIGINT) AS c
             |  FROM (SELECT cnt, sy, unnest(range(1, len(sy))) AS i
             |    FROM (SELECT cnt, string_split(rtrim(seg), ' ') AS sy
             |      FROM $prev) WHERE len(sy) >= 2)
             |  GROUP BY 1, 2),
             |t$j AS MATERIALIZED (SELECT a, b, c FROM p$j
             |  ORDER BY c DESC, a, b LIMIT 1),
             |g$j AS MATERIALIZED (SELECT w, cnt,
             |  CASE WHEN (SELECT COUNT(*) FROM t$j) = 0 THEN seg
             |  ELSE replace(seg,
             |    '#' || (SELECT a FROM t$j) || ' #' || (SELECT b FROM t$j) || ' ',
             |    '#' || (SELECT a FROM t$j) || (SELECT b FROM t$j) || ' ')
             |  END AS seg
             |  FROM $prev)"""
        }
        s"""WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
           |    (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY 1),
           |g0 AS MATERIALIZED (SELECT w, cnt, array_to_string(
           |    list_transform(range(1, length(w) + 1), i -> '#' || w[i]),
           |    ' ') || ' ' AS seg FROM wf),
           |${(1 to 5).map(round).mkString(",\n")},
           |dim AS (SELECT w AS word,
           |    CAST(len(string_split(rtrim(seg), ' ')) AS BIGINT) AS nseg,
           |    CAST(length(w) AS BIGINT) AS nchr FROM g5),
           |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           |  FROM documents)
           |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           |  CAST(SUM(dim.nchr) AS BIGINT) AS n_char_tokens,
           |  CAST(SUM(dim.nseg) AS BIGINT) AS n_tokens,
           |  CAST(SUM(dim.nseg) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |    AS fertility
           |FROM dw JOIN dim ON dim.word = dw.word
           |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
      }
    ),
    // Zipf rank-frequency fit (round 5) — the corpus-health scalar
    // beside q_dq_benford's digit law: natural language follows
    // freq ∝ rank^(−s) with s ≈ 1 (Zipf 1949), so the OLS slope of
    // log2(freq) on log2(rank) sits near −1 for organic text and near 0
    // for a uniform synthetic vocabulary — a one-row smell test for
    // template-generated or shuffled corpora (this driver corpus IS
    // near-uniform and reports slope ≈ −0.04: the detector detecting).
    //
    // Determinism: both logs are the EXACT DYADIC LOG2 of the file
    // header (`log2q(v, 1)`), applied to TWO values (rank, freq) in one
    // pass. The slope is the q_stats_linreg moment tree over the quantized
    // integers: the 2^-10 unit cancels in the ratio; the intercept divides
    // once by 1024 to report bits. roundz(6) + R8 (slope reaches 0 from
    // below on anti-Zipfian corpora).
    //
    // Plan shape (100 TB): ONE corpus scan → vocab-keyed hash agg
    // (map-side combine). Ranking NEVER sorts the vocabulary globally
    // (round 6 — the old row_number() over an unpartitioned window moved
    // the whole vocab to one partition, the exact WindowExec warning the
    // plan pins ban): the OLS only needs the rank MULTISET, and every
    // word of frequency c occupies the contiguous block
    // [base(c)+1, base(c)+k(c)] where base(c) = #{words with higher c}.
    // So rank generation runs on the DISTINCT-FREQUENCY relation (D rows;
    // distinct positive integers summing ≤ corpus tokens T force
    // D ≤ √(2T) — ~4.5 M rows at 10¹³ tokens): base(c) is a
    // bitlen-BUCKETED exclusive cumsum (window PARTITIONED by bitlen(c);
    // a bucket holds ≤ min(2^(b−1), T/2^(b−1)) ≤ √T values) plus a
    // ≤64×64 bucket-total self-join (bucket count fixed at 64 at any
    // corpus size), and the blocks explode back to V rank rows in
    // 4096-sized chunks (two bounded `sequence` generates with a chunk
    // repartition between them, so the hapax block — half the vocab —
    // spreads across the cluster instead of one task). The two log2s
    // and the 1-row moment agg run on the generated rows: BIGINT sums
    // are order-free, so the output is bit-identical to the old global
    // rank. Linear in corpus, forever — and no single-partition anything.
    GQ(
      "q_text_zipf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val chunk = 4096L
        val wf = Tables.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        // persisted: the D-row distinct-frequency relation feeds the bucket
        // totals (self-joined) AND the base join — unpersisted, every
        // consumer replays the corpus scan + vocab agg
        val fc = graft.Caches.persist(
          wf.groupBy(col("c")).agg(count(lit(1)).as("k"))
            .withColumn("b", (length(bin(col("c"))) - 1).cast(LongType)))
        val bt = fc.groupBy(col("b")).agg(sum(col("k")).as("kb"))
        val bb = bt.as("a")
          .join(bt.as("h"), col("h.b") > col("a.b"), "left_outer")
          .groupBy(col("a.b"))
          .agg(coalesce(sum(col("h.kb")), lit(0L)).as("bbase"))
        val wcum = Window.partitionBy(col("b")).orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val based = fc.join(bb, "b")
          .withColumn("base",
            col("bbase") + coalesce(sum(col("k")).over(wcum), lit(0L)))
        val rk = based
          .select(col("c"), col("k"), col("base"),
            expr(s"explode(sequence(0L, (k - 1) div $chunk))").as("ch"))
          .repartition(col("c"), col("ch"))
          .select(col("c"),
            expr(s"explode(sequence(base + ch * $chunk + 1," +
              s" base + least((ch + 1) * $chunk, k)))").as("r"))
        val m = rk
          .select(Log2Q.col(col("r"), lit(1L)).as("xq"),
            Log2Q.col(col("c"), lit(1L)).as("yq"))
          .agg(count(lit(1)).as("n"),
            sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
            sum(col("xq") * col("yq")).as("sxy"),
            sum(col("xq") * col("xq")).as("sxx"))
        val nD = col("n").cast(DoubleType)
        def dbl(c: String) = col(c).cast(DoubleType)
        val covN = nD * dbl("sxy") - dbl("sx") * dbl("sy")
        val varX = nD * dbl("sxx") - dbl("sx") * dbl("sx")
        val slope = covN / varX
        m.select(col("n").as("n_words"),
          when(varX > 0, graft.functions.vec.roundz(slope, 6)).as("slope"),
          when(varX > 0, graft.functions.vec.roundz(
            (dbl("sy") - slope * dbl("sx")) / nD / 1024.0, 6))
            .as("intercept_bits"))
      },
      Some {
        s"""WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY w),
           |fc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS k,
           |    CAST(length(bin(c)) - 1 AS BIGINT) AS b FROM wf GROUP BY c),
           |bt AS (SELECT b, CAST(SUM(k) AS BIGINT) AS kb FROM fc GROUP BY b),
           |bb AS (SELECT a.b AS b,
           |    COALESCE(CAST(SUM(h.kb) AS BIGINT), 0) AS bbase
           |  FROM bt a LEFT JOIN bt h ON h.b > a.b GROUP BY a.b),
           |based AS (SELECT fc.c, fc.k,
           |    bb.bbase + COALESCE(CAST(SUM(fc.k) OVER (PARTITION BY fc.b
           |      ORDER BY fc.c DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS base
           |  FROM fc JOIN bb ON fc.b = bb.b),
           |ck AS (SELECT c, k, base,
           |    unnest(generate_series(0::BIGINT, (k - 1) // 4096)) AS ch
           |  FROM based),
           |rk AS (SELECT c,
           |    unnest(generate_series(base + ch * 4096 + 1,
           |      base + least((ch + 1) * 4096, k))) AS r
           |  FROM ck),
           |q AS (SELECT ${Log2Q.sql("r", "1")} AS xq,
           |    ${Log2Q.sql("c", "1")} AS yq FROM rk),
           |m AS (SELECT COUNT(*) AS n,
           |    CAST(SUM(xq) AS DOUBLE) AS sx, CAST(SUM(yq) AS DOUBLE) AS sy,
           |    CAST(SUM(xq * yq) AS DOUBLE) AS sxy,
           |    CAST(SUM(xq * xq) AS DOUBLE) AS sxx
           |  FROM q)
           |SELECT n AS n_words,
           |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
           |    (ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
           |      / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) + 0.0) END AS slope,
           |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
           |    (ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
           |        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
           |      / CAST(n AS DOUBLE) / 1024.0, 6) + 0.0) END AS intercept_bits
           |FROM m""".stripMargin
      }
    ),
    // Train/test bigram coverage (round 5) — the OOV audit run before
    // trusting any corpus-trained LM score (q_text_perplexity trains on
    // the full corpus; a REAL pipeline trains on a split and must know
    // what fraction of held-out transitions the model has even seen):
    // docs split 80/20 by the deterministic h60 gate (the q_split_assign
    // convention, distinct salt), per test-doc language the distinct
    // held-out bigrams and the fraction covered by the train split. A
    // language whose coverage collapses is under-represented in train —
    // the actionable signal for q_mix_weights.
    //
    // Determinism: the split is seed-free h60 mod 10 (R3); counts are
    // exact distinct BIGINTs; coverage is ONE IEEE division (R7); ORDER
    // BY lang (R1).
    //
    // Plan shape (100 TB): bigrams assemble scan-side (native KGrams, no
    // shuffle); train is a vocab²-bounded distinct that the semi-join
    // probes (broadcast at this scale, hash semi-join keyed on the gram
    // beyond); test side is one (lang, gram) distinct + two lang aggs.
    // Corpus touched once, nothing vocabulary-unbounded shuffles twice.
    GQ(
      "q_lm_coverage",
      (s, d) => {
        val withSplit = Tables.t(s, d, "documents").withColumn("tr",
          pmod(graft.XHash.h60(
            concat(lit("cov:"), col("doc_id").cast(StringType))),
            lit(10L)) < 8)
        val bg = Grams.kgramRows(withSplit, 2, Seq("lang", "tr"))
          .filter(size(split(col("item"), " ")) === 2)
        val train = bg.filter(col("tr")).select(col("item")).distinct()
        val test = graft.Caches.persist(
          bg.filter(!col("tr")).select(col("lang"), col("item")).distinct())
        val cov = test.join(train, Seq("item"), "left_semi")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_covered"))
        test.groupBy(col("lang")).agg(count(lit(1)).as("n_test"))
          .join(cov, Seq("lang"), "left_outer")
          .select(col("lang"), col("n_test"),
            coalesce(col("n_covered"), lit(0L)).as("n_covered"),
            (coalesce(col("n_covered"), lit(0L)).cast(DoubleType) /
              col("n_test").cast(DoubleType)).as("coverage"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH dd AS (SELECT lang, string_split(text, ' ') AS ws,
             |    CASE WHEN ${graft.XHash.sqlH60(
                  "'cov:' || CAST(doc_id AS VARCHAR)")} % 10 < 8
             |      THEN 1 ELSE 0 END AS tr
             |  FROM documents),
             |bg AS (SELECT lang, tr,
             |    unnest(list_transform(range(1, len(ws)),
             |      i -> ws[i] || ' ' || ws[i+1])) AS g
             |  FROM dd WHERE len(ws) >= 2),
             |train AS (SELECT DISTINCT g FROM bg WHERE tr = 1),
             |test AS (SELECT DISTINCT lang, g FROM bg WHERE tr = 0),
             |tot AS (SELECT lang, COUNT(*) AS n_test FROM test GROUP BY 1),
             |cov AS (SELECT t.lang, COUNT(*) AS n_cov FROM test t
             |  JOIN train ON train.g = t.g GROUP BY 1)
             |SELECT tot.lang, tot.n_test,
             |  COALESCE(cov.n_cov, 0) AS n_covered,
             |  CAST(COALESCE(cov.n_cov, 0) AS DOUBLE)
             |    / CAST(tot.n_test AS DOUBLE) AS coverage
             |FROM tot LEFT JOIN cov ON cov.lang = tot.lang
             |ORDER BY tot.lang""".stripMargin)
    )
  )
}
