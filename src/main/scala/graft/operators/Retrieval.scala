package graft.operators

import graft.{GQ, Tables}
import graft.functions.{Log2Q, vec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Retrieval / indexing operators over the `documents` table (round 4) —
  * the search-side complement to the dedup/curation surface: term salience
  * scoring (TF-IDF family) and an inverted-index postings build. Both are
  * standard corpus-tooling passes an LLM data pipeline runs beside quality
  * filtering (e.g. building a lookup index over the retained corpus, or
  * picking representative keywords per document for clustering/inspection).
  * The reference has no text surface at all (closest is the array→string
  * flatten at /root/reference/spotify-etl.py:199); these generalize its
  * P1/P2 projection class to corpus-relative statistics.
  *
  * Determinism: every score is ONE IEEE division of two exact integers
  * (SURVEY §2.5 R7) and every ordering carries a unique tie-breaker (R1);
  * posting lists are sorted before joining so `collect_list`'s arrival
  * order never shows (R3).
  */
object Retrieval {

  /** Exact-integer BM25 scorer shared by q_retrieval_bm25 and
    * q_retrieval_queryexp: scores the exploded corpus `words` (doc_id,
    * word) against the term set `qterms` → (doc_id, n_terms, score_q).
    * See q_retrieval_bm25's commentary for the determinism and overflow
    * argument; extracting it lets the feedback round reuse the identical
    * chain so the two rounds cannot drift.
    */
  private def bm25Rank(words: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      qterms: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bm25FromTf(
      words.join(broadcast(qterms), "word")
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf")),
      dl, stats)

  /** BM25 over a PRE-COUNTED (doc_id, word, tf) postings relation — the
    * index-backed entry (round 7, VERDICT item 3): q_retrieval_queryexp
    * feeds both feedback rounds from ONE persisted tf index instead of
    * re-exploding the corpus per pass. Same chain from tf down, so the
    * two entries produce identical scores by construction. */
  private[graft] def bm25FromIdx(idx: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      qterms: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bm25FromTf(idx.join(broadcast(qterms), "word"), dl, stats)

  /** `private[graft]` (round 11): the served path persists the query-term-
    * bounded tf relation once per round and feeds it here directly, so the
    * big postings union is scanned once per round instead of twice. */
  private[graft] def bm25FromTf(tf: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sidf = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("word"),
        Log2Q.col(col("n_docs") * 2 + lit(2L), col("df") * 2 + lit(1L))
          .as("idf_q"))
    tf.join(broadcast(sidf), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("(idf_q * 22 * s_tok * tf) div " +
          "(10 * s_tok * tf + 3 * s_tok + 9 * dl * n_docs)").as("sq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("sq")).as("score_q"))
  }

  /** SQL fragments replaying [[bm25Rank]] over the query CTE `q`, all
    * intermediate names prefixed `p` (two chains can coexist in one
    * query); requires base CTEs `dl`, `st`, `w` in scope. Generated from
    * one builder so the engine and the oracle — and the two feedback
    * rounds — drift together or not at all.
    */
  /** The two-round pseudo-relevance-feedback oracle, shared VERBATIM by
    * q_retrieval_queryexp (per-run index recompute) and q_retrieval_served
    * (round 8 — the same rounds served from the WRITTEN bucketed postings):
    * one oracle, two engine paths — the write→read lifecycle must
    * reproduce the from-raw computation to the bit. */
  private lazy val queryexpOracleSql: String =
    s"""WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents WHERE doc_id <> 0),
       |q AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE doc_id = 0),
       |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM corpus),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(dl) AS BIGINT) AS s_tok FROM dl),
       |w AS (SELECT doc_id, unnest(ws) AS word FROM corpus),
       |${bm25SqlChain("x", "q")},
       |r1 AS (SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS score
       |  FROM xsc GROUP BY doc_id),
       |fb AS MATERIALIZED (SELECT doc_id FROM r1
       |  ORDER BY score DESC, doc_id LIMIT 10),
       |fw AS (SELECT DISTINCT w.doc_id, w.word
       |  FROM w JOIN fb ON fb.doc_id = w.doc_id),
       |ft AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS fdf FROM fw
       |  WHERE word NOT IN (SELECT word FROM q) GROUP BY 1),
       |ex AS (SELECT word FROM ft WHERE fdf >= 3
       |  ORDER BY fdf DESC, word LIMIT 5),
       |q2 AS MATERIALIZED (SELECT word FROM q
       |  UNION SELECT word FROM ex),
       |${bm25SqlChain("y", "q2")}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |  CAST(SUM(sq) AS BIGINT) AS score_q,
       |  CAST(SUM(sq) AS DOUBLE) / 1024.0 AS score_bits
       |FROM ysc GROUP BY doc_id
       |ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin

  private def bm25SqlChain(p: String, q: String): String =
    s"""${p}tf AS (SELECT w.doc_id, w.word, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM w JOIN $q ON w.word = $q.word GROUP BY 1, 2),
       |${p}dfr AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
       |  FROM ${p}tf GROUP BY word),
       |${p}d0 AS (SELECT word,
       |    2 * (SELECT n_docs FROM st) + 2 AS nn, 2 * df + 1 AS dd
       |  FROM ${p}dfr),
       |${p}sidf AS (SELECT word, ${Log2Q.sql("nn", "dd")} AS idf_q
       |  FROM ${p}d0),
       |${p}sc AS (SELECT tf.doc_id,
       |    (sidf.idf_q * 22 * (SELECT s_tok FROM st) * tf.tf) //
       |    (10 * (SELECT s_tok FROM st) * tf.tf
       |     + 3 * (SELECT s_tok FROM st)
       |     + 9 * dl.dl * (SELECT n_docs FROM st)) AS sq
       |  FROM ${p}tf tf
       |  JOIN ${p}sidf sidf ON sidf.word = tf.word
       |  JOIN dl ON dl.doc_id = tf.doc_id)""".stripMargin

  val queries: Seq[GQ] = Seq(
    // Per-doc top-3 salient terms by tf/df — the rank-equivalent core of
    // TF-IDF (idf = ln(N/df) is monotone-decreasing in df and N is constant
    // across a corpus, so ranking by tf/df orders candidates like tf·idf
    // while staying transcendental-free: ln() is last-ulp engine-specific,
    // a single int/int division is bit-stable cross-engine, R7).
    //
    // Plan shape (100 TB): explode → ONE (doc_id, word) hash agg (partial
    // map-side combine, shuffle keyed on the pair), then df comes from a
    // COUNT() OVER (PARTITION BY word) window on the tf relation — one
    // word-keyed exchange instead of the textbook df-aggregate + self-join
    // (which costs a word shuffle AND a re-shuffle of tf for the join).
    // The final top-k window re-keys on doc_id. Three keyed exchanges
    // total, each over (doc, word)-bounded rows, never the raw corpus.
    GQ(
      "q_text_tfidf",
      (s, d) => {
        val tf = Tables.t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val byWord = Window.partitionBy(col("word"))
        val scored = tf
          .withColumn("df", count(lit(1)).over(byWord))
          .withColumn("score",
            col("tf").cast(DoubleType) / col("df").cast(DoubleType))
        val topk = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word"))
        scored
          .withColumn("rn", row_number().over(topk).cast(LongType))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("word"), col("tf"),
            col("df"), col("score"))
          .orderBy(col("doc_id"), col("rn"))
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
             |sc AS (SELECT doc_id, word, tf,
             |  COUNT(*) OVER (PARTITION BY word) AS df,
             |  CAST(tf AS DOUBLE) / (COUNT(*) OVER (PARTITION BY word)) AS score
             |  FROM tf),
             |rk AS (SELECT doc_id, word, tf, df, score,
             |  ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, word) AS rn FROM sc)
             |SELECT doc_id, rn, word, tf, df, score FROM rk
             |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)
    ),
    // Inverted-index postings build over 3-GRAM SHINGLES (the corpus's
    // 31-word vocabulary makes word-level postings degenerate — every word
    // sits in ~78% of documents; grams give a 16k+ term space with real
    // selectivity, and a shingle index is exactly what the contamination /
    // near-dup passes probe). Per sub-stopword term (df·2 ≤ N — a gram in
    // more than half the corpus is boilerplate no index serves), the
    // document frequency and the SORTED posting list, top-20 terms by
    // (df DESC, gram). The comma-joined string form keeps the driver's
    // column hashing engine-portable (arrays hash engine-specifically).
    //
    // Plan shape (100 TB): zero-shuffle KGrams shingling → distinct
    // (doc_id, gram) hash agg → one gram-keyed agg building df + the
    // sorted postings; the 1-row corpus count broadcasts. At real scale a
    // posting list for a frequent term exceeds a single row's practical
    // size — production indexes shard postings into per-(term, doc-range)
    // segment rows with delta-encoded ids; this query is the
    // single-segment build those segments each run, and the df cap +
    // LIMIT bound the output here.
    GQ(
      "q_index_postings",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val pairs = Grams.kgramRows(docs, 3, Seq())
          .select(col("doc_id"), col("item").as("gram"))
          .distinct()
        val total = docs.agg(count(lit(1)).as("n_docs"))
        pairs
          .groupBy(col("gram"))
          .agg(
            count(lit(1)).as("df"),
            array_join(
              transform(array_sort(collect_list(col("doc_id"))),
                _.cast(StringType)),
              ",").as("postings"))
          .crossJoin(broadcast(total))
          .filter(col("df") * lit(2) <= col("n_docs"))
          .select(col("gram"), col("df"), col("postings"))
          .orderBy(col("df").desc, col("gram"))
          .limit(20)
      },
      Some("""WITH d AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
             |    THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
             |         i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
             |    ELSE [text] END) AS sh FROM documents),
             |p AS (SELECT doc_id, unnest(sh) AS gram FROM d)
             |SELECT gram, COUNT(*) AS df,
             |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
             |FROM p GROUP BY gram
             |HAVING COUNT(*) * 2 <= (SELECT COUNT(*) FROM documents)
             |ORDER BY df DESC, gram LIMIT 20""".stripMargin)
    ),
    // TextRank keyword salience (Mihalcea & Tarau 2004): PageRank over the
    // word co-occurrence graph — nodes are words, an undirected edge per
    // adjacent word pair, edge weight = corpus-wide co-occurrence count.
    // Five damped iterations (d=0.85), then the global top-20 words.
    //
    // Determinism (R7 extended): PageRank in IEEE doubles is aggregation-
    // order-dependent (Σ of neighbor contributions), so ranks are carried as
    // BIGINT billionths — pr0 = 1e9/N, contribution = (pr·w) div strength,
    // damping = base + (85·Σ) div 100, all floor division of positive
    // integers, bit-identical in Spark (`div`) and DuckDB (`//`) and
    // order-independent under the BIGINT Σ. Headroom: Σpr ≤ 1e9 and
    // pr·w < 2^63 for any w < 9.2e9 occurrences of one word pair.
    //
    // Plan shape (100 TB): KGrams k=2 scan-side pair emit (zero shuffles) →
    // one (src,dst) hash agg builds the weighted edge list, one src-keyed
    // window adds strength; the edge relation persists (vocab²-bounded,
    // corpus-size-independent) and each iteration is ONE join + ONE
    // word-keyed agg over it. The corpus is touched exactly once.
    GQ(
      "q_text_textrank",
      (s, d) => {
        val Scale = 1000000000L
        val pj = Grams.wordPairRows(Tables.t(s, d, "documents"))
          .filter(col("w1") =!= col("w2"))
          .select(col("w1").as("a"), col("w2").as("b"))
        val ed = pj.select(col("a").as("src"), col("b").as("dst"))
          .union(pj.select(col("b").as("src"), col("a").as("dst")))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        val ew = graft.Caches.persist(
          ed.withColumn("wt", sum(col("w")).over(Window.partitionBy(col("src")))))
        val n = ew.select(col("src")).distinct().count() // bounded: one scalar
        val base = (15L * Scale) / (100L * n)
        var pr = ew.select(col("src").as("word")).distinct()
          .select(col("word"), lit(Scale / n).as("pr"))
        for (_ <- 1 to 5) {
          pr = ew.join(pr.withColumnRenamed("word", "src"), "src")
            .groupBy(col("dst").as("word"))
            .agg(sum(expr("(pr * w) div wt")).as("s"))
            .select(col("word"), (lit(base) + expr("(85 * s) div 100")).as("pr"))
        }
        // rank the 20-row top via the predecessor-count self-join (total
        // order pr desc, word — bit-identical to the old global
        // row_number, without the banned unpartitioned window); persisted:
        // both join sides would otherwise replay the 5-round PageRank
        val top = graft.Caches.persist(
          pr.orderBy(col("pr").desc, col("word")).limit(20))
        graft.C.rankBounded(top, "rn", ("pr", true), ("word", false))
          .select(col("rn"), col("word"), col("pr"))
          .orderBy(col("rn"))
      },
      Some {
        def step(k: Int): String =
          s"""pr$k AS (SELECT e.dst AS word,
             |  CAST(15000000000 // (100 * (SELECT n FROM nn)) AS BIGINT) +
             |  CAST((85 * SUM((p.pr * e.w) // e.wt)) // 100 AS BIGINT) AS pr
             |  FROM pr${k - 1} p JOIN ew e ON e.src = p.word GROUP BY e.dst)"""
            .stripMargin
        s"""WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |pj AS (SELECT unnest(list_transform(range(1, len(ws)),
           |    i -> ws[i] || ' ' || ws[i+1])) AS p FROM d WHERE len(ws) >= 2),
           |ab AS (SELECT string_split(p, ' ')[1] AS a, string_split(p, ' ')[2] AS b
           |  FROM pj WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
           |ed AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM
           |    (SELECT a AS src, b AS dst FROM ab
           |     UNION ALL SELECT b AS src, a AS dst FROM ab)
           |  GROUP BY src, dst),
           |ew AS (SELECT src, dst, w,
           |  CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS wt FROM ed),
           |nn AS (SELECT COUNT(DISTINCT src) AS n FROM ed),
           |pr0 AS (SELECT src AS word,
           |  CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS pr
           |  FROM (SELECT DISTINCT src FROM ed)),
           |${(1 to 5).map(step).mkString(",\n")}
           |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, word) AS BIGINT) AS rn,
           |  word, pr
           |FROM pr5 ORDER BY rn LIMIT 20""".stripMargin
      }
    ),
    // Collocation discovery by pointwise mutual information (round 4,
    // batch 9) — the corpus-linguistics primitive under phrase detection /
    // tokenizer-vocabulary induction (word2vec's phrase pass, Mikolov et
    // al. 2013, uses exactly this statistic): adjacent word pairs scored by
    // lift = c_xy·N / (c_x·c_y), the PMI argument before the log. ln() is
    // last-ulp engine-specific and monotone, so ranking by lift IS ranking
    // by PMI with the transcendental dropped (the q_text_tfidf precedent);
    // N is total word occurrences — a constant across pairs, kept for the
    // conventional normalization. Pairs below 5 occurrences are noise
    // (standard PMI smallcount pathology) and are dropped by contract.
    //
    // Determinism: all four factors are exact BIGINT counts; lift is ONE
    // fixed IEEE tree — (cxy·N)/(cx·cy) with each product a double of
    // exact ints (exact while cxy·N < 2^53 ≈ 9e15; at ~3e9 corpus tokens
    // that bounds cxy < 3e6, beyond which the ranking would move to the
    // q_text_textrank integer-billionths scheme). Ties → (word1, word2)
    // (R1).
    //
    // Plan shape (100 TB): bigram counts via the scan-side KGrams
    // projection into ONE (w1, w2) hash agg (vocab²-bounded output, never
    // corpus-sized); unigram counts via ONE word agg (vocab-bounded); the
    // two enrichment joins key on a vocab-bounded side (AQE broadcasts
    // them when the vocabulary fits); N is a 1-row broadcast. The corpus
    // is scanned twice (bigram + unigram passes) and shuffled never —
    // only gram-count relations move.
    GQ(
      "q_text_pmi",
      (s, d) => {
        val words = Tables.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
        // persisted: the vocab-bounded unigram relation feeds the total
        // and both sides of the bigram join — three corpus re-scans
        // otherwise (the RegistrySpec scan-budget sweep gates it)
        val uni = graft.Caches.persist(
          words.groupBy(col("word")).agg(count(lit(1)).as("cx")))
        val tot = uni.agg(sum(col("cx")).as("n"))
        val bg = Grams.wordPairRows(Tables.t(s, d, "documents"))
          .select(col("w1").as("word1"), col("w2").as("word2"))
          .groupBy(col("word1"), col("word2"))
          .agg(count(lit(1)).as("cxy"))
          .filter(col("cxy") >= 5)
        bg.join(uni.select(col("word").as("word1"), col("cx")), "word1")
          .join(uni.select(col("word").as("word2"), col("cx").as("cy")), "word2")
          .crossJoin(broadcast(tot))
          .select(col("word1"), col("word2"), col("cxy"), col("cx"),
            col("cy"),
            ((col("cxy").cast(DoubleType) * col("n").cast(DoubleType)) /
              (col("cx").cast(DoubleType) * col("cy").cast(DoubleType)))
              .as("lift"))
          .orderBy(col("lift").desc, col("word1"), col("word2"))
          .limit(20)
      },
      Some("""WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
             |w AS (SELECT unnest(ws) AS word FROM d),
             |uni AS (SELECT word, COUNT(*) AS cx FROM w GROUP BY word),
             |nn AS (SELECT CAST(SUM(cx) AS BIGINT) AS n FROM uni),
             |pj AS (SELECT unnest(list_transform(range(1, len(ws)),
             |    i -> ws[i] || ' ' || ws[i+1])) AS p FROM d WHERE len(ws) >= 2),
             |bg AS (SELECT string_split(p, ' ')[1] AS word1,
             |    string_split(p, ' ')[2] AS word2, COUNT(*) AS cxy
             |  FROM pj GROUP BY 1, 2 HAVING COUNT(*) >= 5)
             |SELECT b.word1, b.word2, b.cxy, x.cx, y.cx AS cy,
             |  (CAST(b.cxy AS DOUBLE) * CAST((SELECT n FROM nn) AS DOUBLE)) /
             |  (CAST(x.cx AS DOUBLE) * CAST(y.cx AS DOUBLE)) AS lift
             |FROM bg b
             |JOIN uni x ON b.word1 = x.word
             |JOIN uni y ON b.word2 = y.word
             |ORDER BY lift DESC, b.word1, b.word2 LIMIT 20""".stripMargin)
    ),
    // Hybrid retrieval with reciprocal-rank fusion (round 4, batch 9) —
    // the RAG serving shape: one query (document 0 / its embedding twin
    // vec 0 — the q_sim_cosine precedent) retrieves top-100 candidates
    // along TWO independent signals — lexical (3-gram shingle overlap with
    // the query doc) and dense (embedding cosine) — and the lists fuse by
    // RRF (Cormack et al. SIGIR'09): score = Σ 1/(60+rank). The division
    // runs as exact integer billionths·1000 (10^12 DIV (60+rank), summed
    // as BIGINT) so fusion is bit-exact cross-engine — no IEEE sums of
    // reciprocals whose order could matter.
    //
    // Determinism: lexical ranks order by (overlap DESC, doc_id) — exact
    // ints; dense ranks by the 3-dp-rounded cosine (R8 +0.0 normalization)
    // with vec_id ties (R7) — rank assignment is identical in both engines
    // even where last-ulp cosine drift exists, because ranks only depend
    // on the rounded value. A doc present in one list only gets the other
    // side's contribution as 0 (standard RRF over finite lists).
    //
    // Plan shape (100 TB): each side is a bounded top-k — the lexical side
    // broadcasts the query doc's shingle set into a semi-join + ONE doc
    // hash agg + TakeOrderedAndProject(100); the dense side is the
    // q_sim_cosine broadcast-scan + TakeOrderedAndProject(100). Ranks are
    // then a window over 100 rows (driver-scale, not corpus-scale — a
    // GLOBAL rank window over all docs would be the single-partition
    // scale-killer this shape exists to avoid), and the fusion join is
    // 100×100. The corpus is scanned once per modality, shuffled once
    // (the overlap agg).
    GQ(
      "q_retrieval_hybrid",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val grams = Grams.kgramRows(docs, 3, Seq()).select(col("doc_id"), col("item"))
          .distinct()
        val qset = grams.filter(col("doc_id") === 0).select(col("item"))
        // both tops rank via the bounded predecessor-count self-join
        // (round 6 — no unpartitioned windows; total orders make the
        // ranks bit-identical to the old global row_number)
        val ov = graft.Caches.persist(grams.filter(col("doc_id") =!= 0)
          .join(broadcast(qset), "item")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("ov"))
          .orderBy(col("ov").desc, col("doc_id"))
          .limit(100))
        val kw = graft.C.rankBounded(ov, "rk_kw",
          ("ov", true), ("doc_id", false))
        val e = Tables.t(s, d, "embeddings")
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"))
        val vc = graft.Caches.persist(e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id"),
            vec.roundz(vec.cosine(col("embedding"), col("q_embedding")), 3).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(100))
        val dn = graft.C.rankBounded(vc, "rk_vec",
          ("cos", true), ("vec_id", false))
        kw.join(dn, col("doc_id") === col("vec_id"), "full_outer")
          .select(
            coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
            (coalesce(expr("1000000000000 DIV (60 + rk_kw)"), lit(0L)) +
              coalesce(expr("1000000000000 DIV (60 + rk_vec)"), lit(0L)))
              .as("rrf"),
            col("rk_kw"), col("rk_vec"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, text
             |    FROM documents),
             |it AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
             |  THEN list_transform(range(1, len(ws) - 1),
             |       i -> array_to_string(ws[i:i+2], ' '))
             |  ELSE [text] END) AS item FROM d),
             |di AS (SELECT DISTINCT doc_id, item FROM it),
             |q AS (SELECT item FROM di WHERE doc_id = 0),
             |ov AS (SELECT di.doc_id, COUNT(*) AS ov
             |  FROM di JOIN q ON di.item = q.item
             |  WHERE di.doc_id <> 0 GROUP BY di.doc_id
             |  ORDER BY ov DESC, doc_id LIMIT 100),
             |kw AS (SELECT doc_id, ov, CAST(ROW_NUMBER() OVER
             |    (ORDER BY ov DESC, doc_id) AS BIGINT) AS rk_kw FROM ov),
             |vc AS (SELECT c.vec_id,
             |    (ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |      CAST(q.embedding AS DOUBLE[])), 3) + 0.0) AS cos
             |  FROM embeddings c, embeddings q
             |  WHERE q.vec_id = 0 AND c.vec_id <> 0
             |  ORDER BY cos DESC, c.vec_id LIMIT 100),
             |dn AS (SELECT vec_id, cos, CAST(ROW_NUMBER() OVER
             |    (ORDER BY cos DESC, vec_id) AS BIGINT) AS rk_vec FROM vc)
             |SELECT COALESCE(k.doc_id, v.vec_id) AS doc_id,
             |  CAST(COALESCE(1000000000000 // (60 + k.rk_kw), 0)
             |     + COALESCE(1000000000000 // (60 + v.rk_vec), 0) AS BIGINT)
             |    AS rrf,
             |  k.rk_kw, v.rk_vec
             |FROM kw k FULL OUTER JOIN dn v ON k.doc_id = v.vec_id
             |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)
    ),
    // Exact-integer BM25 ranking (Robertson & Walker, Okapi; k1=1.2,
    // b=0.75) — the standard lexical relevance function under every
    // production search stack, and the missing sibling between
    // q_text_tfidf's rank-only salience and q_retrieval_hybrid's RRF
    // fusion: one query (document 0's distinct words) scores the rest of
    // the corpus and returns the top 20.
    //
    // Determinism: BOTH factors are transcendental-free. idf uses the
    // Lucene-style always-positive form log2(1 + (N-df+1/2)/(df+1/2)) =
    // log2((2N+2)/(2df+1)) — a rational ≥ 1 of exact BIGINTs, evaluated
    // by the SAME exact dyadic log2 as q_text_perplexity (`log2q`,
    // [[graft.functions.Log2Q]], identical in both engines) in units of
    // 2^-10 bits. The tf saturation with k1 = 6/5 and b = 3/4 clears to
    // the integer rational tf·(k1+1)/(tf + k1·(1-b+b·dl·N/S)) =
    // 22·S·tf / (10·S·tf + 3·S + 9·dl·N) over exact corpus stats
    // (S = Σdl, N = |corpus|), so each term's contribution is ONE BIGINT
    // floor-div (idf_q·22·S·tf) div (10·S·tf + 3·S + 9·dl·N) and the doc
    // score an order-free BIGINT Σ. Headroom: idf_q ≤ ~64·2^10, so the
    // numerator stays under 2^63 while S·tf < 1.3e12 — beyond (trillion-
    // token corpora × frequent terms) the product widens to DECIMAL(38)/
    // HUGEINT, same plan. The display score is ONE fixed IEEE division
    // by 1024.0 (R7); ties → doc_id (R1).
    //
    // Plan shape (100 TB): the query's term set broadcasts into a
    // semi-join on the exploded corpus BEFORE the (doc, word) agg — only
    // matching postings are ever aggregated, never the full vocabulary;
    // df folds from that bounded tf relation (every doc holding a query
    // term is in it by construction); the log2 runs on the
    // |query-term|-bounded df table; corpus stats are a 1-row broadcast.
    // The one corpus-sized exchange is the doc_id join attaching dl to
    // matched postings — keyed, narrow (two longs), AQE-broadcastable
    // when the match set is small. Corpus scanned twice (stats + terms),
    // shuffled once.
    GQ(
      "q_retrieval_bm25",
      (s, d) => {
        // the dyadic-log2 idf and tf saturation live in bm25Rank
        // (shared with q_retrieval_queryexp's two rounds)
        val docs = Tables.t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") =!= 0)
        val qterms = docs.filter(col("doc_id") === 0)
          .select(explode(split(col("text"), " ")).as("word")).distinct()
        val words = corpus
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val dl = corpus.select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_tok"))
        bm25Rank(words, dl, stats, qterms)
          .select(col("doc_id"), col("n_terms"), col("score_q"),
            (col("score_q").cast(DoubleType) / lit(1024.0)).as("score_bits"))
          .orderBy(col("score_q").desc, col("doc_id"))
          .limit(20)
      },
      Some {
        s"""WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS ws
           |  FROM documents WHERE doc_id <> 0),
           |q AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
           |  FROM documents WHERE doc_id = 0),
           |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM corpus),
           |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(dl) AS BIGINT) AS s_tok FROM dl),
           |w AS (SELECT doc_id, unnest(ws) AS word FROM corpus),
           |${bm25SqlChain("", "q")}
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           |  CAST(SUM(sq) AS BIGINT) AS score_q,
           |  CAST(SUM(sq) AS DOUBLE) / 1024.0 AS score_bits
           |FROM sc GROUP BY doc_id
           |ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin
      }
    ),
    // Pseudo-relevance-feedback query expansion (round 5) — the two-pass
    // retrieval composition (Rocchio 1971 / RM1 lineage) every production
    // search stack layers over BM25: round 1 ranks with the raw query,
    // the top-10 feedback docs VOTE on latent topic terms (a term counts
    // once per feedback doc containing it), and terms appearing in ≥ 3
    // feedback docs — capped at the top 5 by (feedback-df DESC, word) —
    // join the query for round 2. Recall the raw query cannot reach:
    // docs sharing only the LATENT vocabulary with the feedback set now
    // score. Both rounds run the IDENTICAL exact-integer BM25 chain
    // (shared bm25Rank / bm25SqlChain builders — engine, oracle, and the
    // two rounds cannot drift).
    //
    // Determinism: the feedback vote is exact BIGINT df counting with a
    // word tie-break (R1); both scoring rounds inherit q_retrieval_bm25's
    // transcendental-free contract; display score ONE IEEE division (R7).
    //
    // Plan shape (100 TB, round-7 rewrite — VERDICT item 3): the corpus
    // TEXT is scanned exactly ONCE, into the persisted tf INDEX
    // (doc_id, word, tf) — q_index_postings' artifact shape with term
    // frequencies (in production it is written to parquet once and both
    // rounds semi-join the files; here Caches.persist stands in for the
    // written index). Everything downstream derives from the index:
    // per-doc length dl = Σ tf (exact — every token is counted), corpus
    // stats from dl, BOTH BM25 rounds via bm25FromIdx (the tf rows are
    // pre-counted, so a round is semi-join + idf + score agg — no
    // re-explode), and the feedback vote reads index rows for the 10
    // feedback docs (already distinct per (doc, word) by construction).
    // The round-6 shape re-exploded the corpus per pass — 3.1× for 10×
    // data on the ×10 stress, the worst entry; the index is also ~10×
    // smaller than the raw token stream (tf collapses repeats and drops
    // positions). The round-1 top-10 and the ≤5 expansion terms remain
    // model-sized broadcasts, and persisting q2 truncates the ENTIRE
    // round-1 lineage out of round 2's plan.
    GQ(
      "q_retrieval_queryexp",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") =!= 0)
        // model-sized; persisted — three consumers (round-1 broadcast,
        // expansion anti-join, q2 union) each re-ran the pruned scan +
        // the distinct's exchange unpersisted (round 10)
        val qterms = graft.Caches.persist(docs.filter(col("doc_id") === 0)
          .select(explode(split(col("text"), " ")).as("word")).distinct())
        // THE one corpus pass: explode → (doc, word) tf agg → persist
        val idx = graft.Caches.persist(corpus
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")))
        val dl = graft.Caches.persist(idx.groupBy(col("doc_id"))
          .agg(sum(col("tf")).cast(LongType).as("dl")))
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_tok"))
        // per-round tf = the cached index's rows for the round's query
        // terms — query-term-bounded (a query's posting lists, never the
        // corpus). Persisted (round 12, VERDICT item 2 — the served path
        // grew this shape in round 11): bm25FromTf reads its tf TWICE
        // (df/idf aggregate + score join), so unpersisted each round
        // instantiated the full cached idx twice; with tf1/tf2 cached the
        // idx is read once per round + once for the expansion vote — the
        // same 5→3 cut measured on the served path (BASELINE.md round-11).
        val tf1 = graft.Caches.persist(idx.join(broadcast(qterms), "word"))
        val fb = bm25FromTf(tf1, dl, stats)
          .orderBy(col("score_q").desc, col("doc_id")).limit(10)
          .select(col("doc_id"))
        val expansion = idx.join(broadcast(fb), "doc_id")
          .select(col("doc_id"), col("word"))
          .join(qterms, Seq("word"), "left_anti")
          .groupBy(col("word")).agg(count(lit(1)).as("fdf"))
          .filter(col("fdf") >= 3)
          .orderBy(col("fdf").desc, col("word")).limit(5)
          .select(col("word"))
        val q2 = graft.Caches.persist(qterms.union(expansion).distinct())
        val tf2 = graft.Caches.persist(idx.join(broadcast(q2), "word"))
        bm25FromTf(tf2, dl, stats)
          .select(col("doc_id"), col("n_terms"), col("score_q"),
            (col("score_q").cast(DoubleType) / lit(1024.0)).as("score_bits"))
          .orderBy(col("score_q").desc, col("doc_id"))
          .limit(10)
      },
      Some(queryexpOracleSql)
    ),
    // WRITE-THEN-SERVE retrieval, DECLARED (round 8, VERDICT item 4 —
    // the production posture q_retrieval_queryexp's per-run recompute
    // stands in for, now under the oracle): the corpus postings are
    // WRITTEN ONCE as a parquet table BUCKETED BY WORD (plus the
    // model-sized per-doc lengths), and BOTH BM25 rounds + the feedback
    // vote are served from the READ side — the word-keyed joins and the
    // df aggregate consume the bucketed partitioning, so the index's own
    // key never re-shuffles after the write (IndexLifecycleSpec pins the
    // plan; the bucketed write IS the shuffle, paid once and amortized
    // over every serving run). Identical math to q_retrieval_queryexp
    // (the shared bm25FromIdx chain) ⇒ identical oracle SQL — a drifted
    // write path, a lossy round-trip, or a broken bucketed read all
    // hash-mismatch against the from-raw replay.
    GQ(
      "q_retrieval_served",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") =!= 0)
        val qterms = docs.filter(col("doc_id") === 0)
          .select(explode(split(col("text"), " ")).as("word")).distinct()
        graft.sources.IndexLifecycle.writePostings(s, corpus, "served_qe", 8)
        graft.sources.IndexLifecycle.servedQueryExpansion(s, "served_qe", qterms)
      },
      Some(queryexpOracleSql)
    ),
    // INDEX UPSERT retrieval, DECLARED (round 9 — the lifecycle's third
    // verb: write, serve, MAINTAIN): the standing corpus writes the main
    // postings generation once; a later doc batch is indexed as its own
    // DELTA generation (delta-sized scan + delta-sized bucketed write —
    // the main index is never rewritten), and both BM25 rounds serve from
    // main ∪ delta. BM25's corpus state is additive over disjoint doc
    // sets — df, N, avgdl all re-derive from the merged index rows at
    // serve time — so the upsert path must reproduce the from-scratch
    // full-corpus computation TO THE BIT: the oracle is the same
    // full-corpus SQL q_retrieval_queryexp and q_retrieval_served run
    // under (one oracle, now THREE engine paths — recompute, write-then-
    // serve, write-then-upsert-then-serve). A stats drift (delta doclens
    // dropped), a doc double-indexed into both generations, or a lossy
    // delta write all hash-mismatch. IndexLifecycleSpec pins that
    // compacting the generations and re-serving is byte-identical.
    GQ(
      "q_retrieval_upsert",
      (s, d) => {
        val docs = Tables.t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") =!= 0)
        // model-sized (doc 0's distinct words); servedQueryExpansionFrom
        // persists it for its serving-side consumers (round 10 — a second
        // caller-side persist here would just log cache-already-cached)
        val qterms = docs.filter(col("doc_id") === 0)
          .select(explode(split(col("text"), " ")).as("word")).distinct()
        // main = the standing corpus, delta = today's batch — disjoint by
        // id, as an ingest pipeline's append-only id assignment makes them
        val main = corpus.filter(pmod(col("doc_id"), lit(7L)) =!= 3L)
        val delta = corpus.filter(pmod(col("doc_id"), lit(7L)) === 3L)
        graft.sources.IndexLifecycle.writePostings(s, main, "upsert_qe_main", 8)
        graft.sources.IndexLifecycle.upsertPostings(s, delta, "upsert_qe_d1", 8)
        graft.sources.IndexLifecycle.servedQueryExpansionFrom(
          s, Seq("upsert_qe_main", "upsert_qe_d1"), qterms)
      },
      Some(queryexpOracleSql)
    ),
    // Boolean conjunctive retrieval with negation (round 5) — the
    // postings-intersection primitive under every ranked retriever:
    // docs containing ALL of {key, order, sort} AND NOT {slow},
    // ranked by combined query-term frequency. q_index_postings builds
    // the index, q_retrieval_bm25 ranks — this is the AND/NOT set
    // algebra between them (the "filtered retrieval" every RAG corpus
    // query runs before scoring).
    //
    // Algorithm: the exploded corpus is filtered to the 3-term query
    // set SCAN-SIDE (the membership predicate evaluates inside the
    // scan projection — no posting list for non-query terms ever
    // exists), intersected by a (doc, distinct-term-count = 3) agg —
    // the standard docs-at-a-time conjunction — and the NOT term
    // subtracts via an anti join on its doc set.
    //
    // Determinism: exact BIGINT counts; ties → doc_id (R1).
    //
    // Plan shape (100 TB): corpus scan → query-term-filtered explode
    // (output bounded by query-term postings, NOT corpus vocabulary)
    // → ONE doc-keyed hash agg; the negation side is the same filtered
    // shape for one term, broadcast into the anti join; top-k is
    // TakeOrderedAndProject. Nothing vocabulary-wide ever shuffles.
    GQ(
      "q_retrieval_boolean",
      (s, d) => {
        val terms = Seq("key", "order", "sort")
        val toks = Tables.t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val hits = toks.filter(col("w").isin(terms: _*))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("w")).as("nt"), count(lit(1)).as("tf"))
          .filter(col("nt") === terms.size)
        val negDocs = toks.filter(col("w") === "slow")
          .select(col("doc_id")).distinct()
        hits.join(negDocs, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("tf"))
          .orderBy(col("tf").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |hits AS (SELECT doc_id, COUNT(DISTINCT w) AS nt, COUNT(*) AS tf
             |  FROM toks WHERE w IN ('key', 'order', 'sort')
             |  GROUP BY doc_id HAVING COUNT(DISTINCT w) = 3)
             |SELECT doc_id, tf FROM hits
             |WHERE NOT EXISTS (SELECT 1 FROM toks
             |  WHERE toks.doc_id = hits.doc_id AND toks.w = 'slow')
             |ORDER BY tf DESC, doc_id LIMIT 20""".stripMargin)
    ),
    // Exact phrase retrieval (round 5) — the POSITIONAL-postings primitive
    // q_retrieval_boolean's bag-of-words conjunction cannot express: docs
    // where "order" is IMMEDIATELY followed by "fast", ranked by phrase
    // occurrence count with the 1-based position of the first occurrence.
    // Adjacency needs word positions, the classic positional-index
    // intersection (Manning et al., IIR §2.4.2): posting lists restricted
    // to the query terms, joined on (doc, pos₂ = pos₁ + 1).
    //
    // Determinism: exact integer positions and counts; ties → doc_id
    // (R1). Spark's posexplode is 0-based, DuckDB lists are 1-based —
    // the emitted first_pos is pinned 1-based (pos + 1 engine-side).
    //
    // The oracle deliberately takes a DIFFERENT route to the same
    // answer — adjacency re-expressed as bigram equality ("the phrase IS
    // a bigram") — so the two engines cross-check the semantics, not a
    // shared formulation (the R11 spirit at the query level).
    //
    // Plan shape (100 TB): corpus scan → positional explode filtered to
    // the TWO query terms scan-side (postings volume is query-term-
    // bounded, not corpus-bounded — same guarantee as boolean retrieval);
    // ONE (doc_id, pos)-keyed equi-join between the two term lists; ONE
    // doc-keyed hash agg; top-k is TakeOrderedAndProject. At web scale
    // the term postings shuffle-join on doc_id — never the corpus.
    GQ(
      "q_retrieval_phrase",
      (s, d) => {
        val (w1, w2) = ("order", "fast")
        val toks = Tables.t(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val p1 = toks.filter(col("w") === w1)
          .select(col("doc_id"), col("pos"))
        val p2 = toks.filter(col("w") === w2)
          .select(col("doc_id").as("d2"), col("pos").as("pos2"))
        p1.join(p2,
            col("doc_id") === col("d2") && col("pos2") === col("pos") + 1)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_occ"),
            (min(col("pos")) + 1).cast(LongType).as("first_pos"))
          .orderBy(col("n_occ").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH bg AS (SELECT doc_id,
             |    unnest(list_transform(range(1, len(ws)),
             |      i -> {'p': i, 'g': ws[i] || ' ' || ws[i+1]})) AS s
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
             |        FROM documents))
             |SELECT doc_id, COUNT(*) AS n_occ,
             |  CAST(MIN(s.p) AS BIGINT) AS first_pos
             |FROM bg WHERE s.g = 'order fast'
             |GROUP BY doc_id ORDER BY n_occ DESC, doc_id LIMIT 20""".stripMargin)
    ),
    // Log-likelihood-ratio collocations (round 5) — Dunning 1993's G²
    // test, THE standard collocation statistic for sparse counts where
    // q_text_pmi's lift explodes on rare pairs (lift weights a 5/5/5
    // pair like a 5k/5k/5k one; LLR scales with evidence mass). Per
    // candidate bigram the 2×2 contingency table (k11 = pair count, row
    // and column margins over the bigram population) scores
    // G² = 2·N·I(A;B) via the mutual-information identity
    // Σ_rows r·log2(N/r) + Σ_cols c·log2(N/c) − Σ_cells k·log2(N/k).
    //
    // Determinism: every log2 is the EXACT DYADIC LOG2 of an N/k ≥ 1
    // rational (`log2q`, as in q_text_perplexity), run ONCE over a tall
    // (pair × 8 signed entries) relation; G² accumulates as a signed
    // BIGINT in 2^-10-bit units — order-free — with zero cells
    // contributing zero by construction; ONE IEEE division renders bits
    // (R7). Ties → (w1, w2) (R1). Overflow (R10): k·q ≤ N·2^16 needs
    // N < 2^47 bigrams.
    //
    // Plan shape (100 TB): corpus scanned once into the vocab²-bounded
    // bigram agg; margins are two aggs OVER that relation; the ×8 tall
    // explode, the log2, and the G² re-agg all run on candidate
    // pairs (k11 ≥ 5 — vocab²-bounded, corpus-size-independent); top-k
    // is TakeOrderedAndProject.
    GQ(
      "q_text_llr",
      (s, d) => {
        val bg = Grams.wordPairRows(Tables.t(s, d, "documents"))
        val cxy = graft.Caches.persist(
          bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("k11")))
        val ca = cxy.groupBy(col("w1")).agg(sum(col("k11")).as("ca"))
        val cb = cxy.groupBy(col("w2")).agg(sum(col("k11")).as("cb"))
        val nn = cxy.agg(sum(col("k11")).as("nb"))
        val cand = cxy.filter(col("k11") >= 5)
          .join(ca, "w1").join(cb, "w2").crossJoin(broadcast(nn))
        val tall = cand.select(col("w1"), col("w2"), col("k11"), col("nb"),
            explode(array(
              struct(lit(-1L).as("s"), col("k11").as("k")),
              struct(lit(-1L).as("s"), (col("ca") - col("k11")).as("k")),
              struct(lit(-1L).as("s"), (col("cb") - col("k11")).as("k")),
              struct(lit(-1L).as("s"),
                (col("nb") - col("ca") - col("cb") + col("k11")).as("k")),
              struct(lit(1L).as("s"), col("ca").as("k")),
              struct(lit(1L).as("s"), (col("nb") - col("ca")).as("k")),
              struct(lit(1L).as("s"), col("cb").as("k")),
              struct(lit(1L).as("s"), (col("nb") - col("cb")).as("k"))))
              .as("e"))
          .select(col("w1"), col("w2"), col("k11"), col("nb"),
            col("e.s").as("sg"), col("e.k").as("k"))
          .filter(col("k") >= 1)
        tall
          .select(col("w1"), col("w2"), col("k11"),
            (col("sg") * col("k") * Log2Q.col(col("nb"), col("k"))).as("t"))
          .groupBy(col("w1"), col("w2"), col("k11"))
          .agg((sum(col("t")) * 2).as("llr_q"))
          .select(col("w1"), col("w2"), col("k11").as("cxy"), col("llr_q"),
            (col("llr_q").cast(DoubleType) / 1024.0).as("llr_bits"))
          .orderBy(col("llr_q").desc, col("w1"), col("w2"))
          .limit(20)
      },
      Some {
        s"""WITH dd AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |pj AS (SELECT unnest(list_transform(range(1, len(ws)),
           |    i -> ws[i] || ' ' || ws[i+1])) AS p FROM dd WHERE len(ws) >= 2),
           |bg AS (SELECT string_split(p, ' ')[1] AS w1,
           |    string_split(p, ' ')[2] AS w2, CAST(COUNT(*) AS BIGINT) AS k11
           |  FROM pj GROUP BY 1, 2),
           |ca AS (SELECT w1, CAST(SUM(k11) AS BIGINT) AS ca FROM bg GROUP BY 1),
           |cb AS (SELECT w2, CAST(SUM(k11) AS BIGINT) AS cb FROM bg GROUP BY 1),
           |nn AS (SELECT CAST(SUM(k11) AS BIGINT) AS nb FROM bg),
           |cand AS (SELECT bg.w1, bg.w2, bg.k11, ca.ca, cb.cb,
           |    (SELECT nb FROM nn) AS nb
           |  FROM bg JOIN ca ON ca.w1 = bg.w1 JOIN cb ON cb.w2 = bg.w2
           |  WHERE bg.k11 >= 5),
           |tall AS (SELECT w1, w2, k11, nb, e.s AS sg, e.k AS k FROM (
           |    SELECT *, unnest([
           |      {'s': -1, 'k': k11}, {'s': -1, 'k': ca - k11},
           |      {'s': -1, 'k': cb - k11},
           |      {'s': -1, 'k': nb - ca - cb + k11},
           |      {'s': 1, 'k': ca}, {'s': 1, 'k': nb - ca},
           |      {'s': 1, 'k': cb}, {'s': 1, 'k': nb - cb}]) AS e
           |    FROM cand) WHERE e.k >= 1),
           |q AS (SELECT w1, w2, k11,
           |    CAST(SUM(sg * k * ${Log2Q.sql("nb", "k")}) * 2 AS BIGINT)
           |      AS llr_q
           |  FROM tall GROUP BY 1, 2, 3)
           |SELECT w1, w2, k11 AS cxy, llr_q,
           |  CAST(llr_q AS DOUBLE) / 1024.0 AS llr_bits
           |FROM q ORDER BY llr_q DESC, w1, w2 LIMIT 20""".stripMargin
      }
    )
  )
}
