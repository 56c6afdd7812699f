package graft.operators

import graft.{GQ, Tables, XHash}
import graft.functions.{Log2Q, cms}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators (round 2) — the remaining table-stakes steps of
  * a large-scale training-data pipeline beyond dedup/quality/ANN: subsetting
  * reproducibly, scrubbing PII-shaped spans, building the n-gram vocabulary,
  * and decontaminating against an evaluation set. All four are exact integer
  * /hash math on the cross-engine [[graft.XHash]] basis, fully
  * oracle-matched.
  */
object Curation {

  /** Email-shaped and long-digit-run patterns; identical Java/RE2 semantics
    * (verified against DuckDB on mixed fixtures — no lookarounds, no
    * backrefs, just char classes). */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  private val DigitsRe = "[0-9]{6,}"

  val queries: Seq[GQ] = Seq(
    // Deterministic stratified sampling: hash-gate each doc_id (salted h60
    // mod 100 < 20 — a reproducible 20% subsample, the standard way to cut
    // corpus slices so that reruns, engines, and cluster sizes agree),
    // reported per language stratum. At 100 TB this is a scan-side filter —
    // no shuffle beyond the tiny stratum agg, and the SAME rows are kept on
    // any cluster because the gate is pure data math (R3: no rand()).
    GQ(
      "q_sample_stratified",
      (s, d) => {
        val gate = pmod(
          XHash.h60(concat(lit("sample:"), col("doc_id").cast(StringType))),
          lit(100L)) < 20
        Tables.t(s, d, "documents")
          .select(col("lang"), gate.cast(LongType).as("kept"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("kept")).as("n_kept"))
          .select(col("lang"), col("n_docs"), col("n_kept"),
            // single IEEE division of two exact ints — bit-stable (R7)
            (col("n_kept").cast(DoubleType) / col("n_docs")).as("rate"))
          .orderBy(col("lang"))
      },
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN ${XHash.sqlH60("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 20
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN ${XHash.sqlH60("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 20
             |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rate
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    // PII scrub: count email-shaped tokens and ≥6-digit runs per doc, then
    // redact both and fingerprint the scrubbed text — the h60 fingerprint
    // makes the REDACTION ITSELF oracle-checked byte for byte, not just the
    // counts. (The synthetic corpus is clean — counts are typically zero —
    // but the scrub plan is exactly what runs against a crawl at 100 TB:
    // one narrow projection, no shuffle.)
    GQ(
      "q_text_pii_scrub",
      (s, d) => {
        val scrubbed = regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          DigitsRe, "<NUM>")
        Tables.t(s, d, "documents")
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
              .cast(LongType).as("n_emails"),
            size(regexp_extract_all(col("text"), lit(DigitsRe), lit(0)))
              .cast(LongType).as("n_digit_runs"),
            XHash.h60(scrubbed).as("scrubbed_fp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
             |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
             |  len(regexp_extract_all(text, '$DigitsRe')) AS n_digit_runs,
             |  ${XHash.sqlH60(
                s"regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), " +
                  s"'$DigitsRe', '<NUM>', 'g')")} AS scrubbed_fp
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    // Global n-gram vocabulary head: top-20 3-word shingles by document
    // frequency — the building block for contamination checks, stopword
    // discovery, and n-gram LM stats. One explode + hash agg; the shuffle
    // carries (shingle, partial df), vocab-bounded. Top-k via
    // TakeOrderedAndProject, never a global sort of the vocab.
    GQ(
      "q_text_ngram_topk",
      (s, d) => Grams.kgramRows(Tables.t(s, d, "documents"), 3, Seq())
        .select(col("doc_id"), col("item").as("gram")).distinct()
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("gram"))
        .limit(20),
      Some("""WITH d AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
             |    THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
             |         i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
             |    ELSE [text] END) AS sh FROM documents),
             |g AS (SELECT unnest(sh) AS gram FROM d)
             |SELECT gram, COUNT(*) AS df
             |FROM g GROUP BY gram
             |ORDER BY df DESC, gram LIMIT 20""".stripMargin)
    ),
    // Within-document repetition signals (round 3 — the Gopher/C4-style
    // repetition rules beside the length/stopword gates of
    // q_quality_filter): per doc, the fraction of 3-gram OCCURRENCES that
    // are duplicates of an earlier occurrence and the share of the single
    // most-repeated gram — the two standard boilerplate/spam tells.
    // Exact integer counts; each emitted fraction is ONE IEEE division of
    // two exact ints (R7, bit-stable). One explode + per-(doc, gram) hash
    // agg + per-doc agg — shuffles keyed on doc_id, linear at any scale.
    GQ(
      "q_text_repetition",
      (s, d) => Grams.kgramRows(Tables.t(s, d, "documents"), 3, Seq())
        .groupBy(col("doc_id"), col("item"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("cnt")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("max_cnt"))
        .select(
          col("doc_id"), col("n_grams"), col("n_distinct"),
          ((col("n_grams") - col("n_distinct")).cast(DoubleType) /
            col("n_grams").cast(DoubleType)).as("dup_fraction"),
          (col("max_cnt").cast(DoubleType) / col("n_grams").cast(DoubleType))
            .as("top_gram_share"))
        .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id,
             |  CASE WHEN len(string_split(text, ' ')) >= 3
             |    THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
             |         i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
             |    ELSE [text] END AS sh FROM documents),
             |g AS (SELECT doc_id, unnest(sh) AS gram FROM d),
             |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
             |a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
             |    COUNT(*) AS n_distinct, MAX(cnt) AS max_cnt
             |  FROM c GROUP BY doc_id)
             |SELECT doc_id, n_grams, n_distinct,
             |  CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
             |    AS dup_fraction,
             |  CAST(max_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) AS top_gram_share
             |FROM a ORDER BY doc_id""".stripMargin)
    ),
    // Pretraining sequence packing accounting (concat-then-chunk, the GPT
    // recipe: per language stream, documents concatenate in doc_id order
    // and split into fixed 512-token chunks): per doc, the chunk index
    // range it lands in, from an exact-integer prefix sum over whitespace
    // token counts. One window shuffle keyed on lang; chunk ids are pure
    // integer division of the running sum — deterministic on any cluster,
    // so shards can be packed independently and stitched by offset.
    GQ(
      "q_pack_chunks",
      (s, d) => {
        val Cap = 512L
        val wCum = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.t(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(wCum))
          .select(col("lang"), col("doc_id"), col("n_tok"),
            expr(s"(cum - n_tok) DIV $Cap").as("chunk_first"),
            expr(s"(cum - 1) DIV $Cap").as("chunk_last"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH t AS (SELECT lang, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (SELECT lang, doc_id, n_tok,
             |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
             |SELECT lang, doc_id, n_tok,
             |  CAST((cum - n_tok) // 512 AS BIGINT) AS chunk_first,
             |  CAST((cum - 1) // 512 AS BIGINT) AS chunk_last
             |FROM c ORDER BY lang, doc_id""".stripMargin)
    ),
    // Sliding-window chunking with overlap (round 5) — the RAG/context-
    // window complement of q_pack_chunks' concat-then-split packing: each
    // document independently splits into 64-token windows every 48 tokens
    // (16-token overlap), the standard retrieval-index and long-doc
    // truncation recipe (chunks never cross doc boundaries, tails are
    // KEPT short rather than dropped — retrieval must cover the whole
    // doc). Per chunk: start offset, exact token count, and the h60
    // digest of the space-joined window (the downstream embed/dedup key).
    //
    // Plan shape (100 TB): the window arithmetic is pure per-row math —
    // sequence() of starts + posexplode + slice(), all inside the scan
    // projection. ZERO shuffles (the final ORDER BY is presentation, R1);
    // chunk count is ceil(n_tok/48) per doc, so output volume is
    // corpus-linear with a 64/48 expansion factor, embarrassingly
    // parallel at any scale.
    GQ(
      "q_chunk_overlap",
      (s, d) => {
        val W = 64; val S = 48
        Tables.t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            posexplode(sequence(lit(0), size(col("ws")) - 1, lit(S)))
              .as(Seq("chunk_id", "start_tok")),
            col("ws"))
          .select(col("doc_id"), col("chunk_id").cast(LongType),
            col("start_tok").cast(LongType),
            size(slice(col("ws"), col("start_tok") + 1, lit(W)))
              .cast(LongType).as("n_tok"),
            XHash.h60(array_join(
              slice(col("ws"), col("start_tok") + 1, lit(W)), " ")).as("ch"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents),
             |c AS (SELECT doc_id, ws,
             |    unnest(range(0, (len(ws) - 1) // 48 + 1)) AS chunk_id FROM d),
             |s AS (SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
             |    ws[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS cw FROM c)
             |SELECT doc_id, chunk_id, start_tok,
             |  CAST(len(cw) AS BIGINT) AS n_tok,
             |  ${XHash.sqlH60("array_to_string(cw, ' ')")} AS ch
             |FROM s ORDER BY doc_id, chunk_id""".stripMargin)
    ),
    // Domain-mixture reweighting (DoReMi-lite accounting): per language,
    // the deterministic downsampling rate that moves the corpus toward a
    // UNIFORM per-language token budget — rate = min(1, target/actual)
    // with target = total_tokens/n_langs. Exact integer token counts; the
    // rate is a fixed two-division IEEE tree over exact ints (R7), and the
    // expected-kept-tokens floor is integer-exact both engines. The
    // per-lang relation is tiny (broadcast of the 1-row totals); the only
    // corpus work is the token-count scan + lang agg.
    GQ(
      "q_mix_weights",
      (s, d) => {
        val perLang = Tables.t(s, d, "documents")
          .select(col("lang"),
            size(split(col("text"), " ")).cast(LongType).as("n_tok"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"))
        val totals = perLang.agg(
          sum(col("toks")).as("total_toks"), count(lit(1)).as("n_langs"))
        perLang.crossJoin(broadcast(totals))
          .select(col("lang"), col("n_docs"), col("toks"),
            least(lit(1.0),
              (col("total_toks").cast(DoubleType) / col("n_langs").cast(DoubleType))
                / col("toks").cast(DoubleType)).as("rate"))
          .withColumn("kept_toks",
            floor(col("toks").cast(DoubleType) * col("rate")).cast(LongType))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (SELECT lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |pl AS (SELECT lang, COUNT(*) AS n_docs,
             |    CAST(SUM(n_tok) AS BIGINT) AS toks FROM t GROUP BY 1),
             |tt AS (SELECT CAST(SUM(toks) AS BIGINT) AS total_toks,
             |    COUNT(*) AS n_langs FROM pl)
             |SELECT lang, n_docs, toks,
             |  least(1.0, (CAST(total_toks AS DOUBLE) / CAST(n_langs AS DOUBLE))
             |    / CAST(toks AS DOUBLE)) AS rate,
             |  CAST(floor(CAST(toks AS DOUBLE) *
             |    least(1.0, (CAST(total_toks AS DOUBLE) / CAST(n_langs AS DOUBLE))
             |      / CAST(toks AS DOUBLE))) AS BIGINT) AS kept_toks
             |FROM pl, tt ORDER BY lang""".stripMargin)
    ),
    // DSIR-style domain-affinity scoring (hashed n-gram importance
    // weighting, per Xie et al.'s data-selection recipe re-expressed as
    // exact integer math): word bigrams hash into 1024 buckets (h60 —
    // cross-engine basis); a bucket is TARGET-ENRICHED when its target-
    // domain (lang='en') occurrence share exceeds the corpus share, by
    // exact integer cross-multiplication (tgt·TOT > tot·TGT — no
    // log-likelihood doubles whose accumulation order could drift); a
    // doc's affinity is the fraction of its bigram occurrences landing in
    // enriched buckets — ONE IEEE division of two exact ints (R7).
    // Plan at scale: gram hashing is scan-side (KGrams, zero shuffles);
    // the bucket stats relation is 1024 rows (broadcast both ways); the
    // only corpus-sized shuffle is the per-doc agg keyed on doc_id. The
    // long cross-products hold to ~4e9 grams per side; past that the
    // comparison lifts to DECIMAL unchanged.
    GQ(
      "q_dsir_affinity",
      (s, d) => {
        val grams = Grams
          .kgramRows(Tables.t(s, d, "documents"), 2, Seq("lang"))
          .select(col("doc_id"), col("lang"),
            pmod(XHash.h60(col("item")), lit(1024L)).as("b"))
        // 1024-row relation; persisted so the totals rollup and the
        // enrichment projection share ONE gram scan+agg — unpersisted,
        // each consumer re-executes the full corpus gram pipeline
        val stats = graft.Caches.persist(
          grams.groupBy(col("b")).agg(
            count(lit(1)).as("tot"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt")))
        val totals = stats.agg(
          sum(col("tot")).as("tot_all"), sum(col("tgt")).as("tgt_all"))
        val enriched = stats.crossJoin(broadcast(totals))
          .select(col("b"),
            (col("tgt") * col("tot_all") > col("tot") * col("tgt_all"))
              .as("enr"))
        grams.join(broadcast(enriched), "b")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_grams"),
            sum(when(col("enr"), 1L).otherwise(0L)).as("n_enriched"))
          .select(col("doc_id"), col("n_grams"), col("n_enriched"),
            (col("n_enriched").cast(DoubleType) /
              col("n_grams").cast(DoubleType)).as("affinity"))
          .orderBy(col("affinity").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH ws AS (SELECT doc_id, lang, text,
             |    string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id, lang, unnest(CASE WHEN len(w) >= 2
             |    THEN list_transform(range(1, len(w)),
             |         i -> array_to_string(w[i:i+1], ' '))
             |    ELSE [text] END) AS item FROM ws),
             |bk AS (SELECT doc_id, lang,
             |    ${XHash.sqlH60("item")} % 1024 AS b FROM g),
             |st AS (SELECT b, COUNT(*) AS tot,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt
             |  FROM bk GROUP BY 1),
             |t AS (SELECT CAST(SUM(tot) AS BIGINT) AS tot_all,
             |    CAST(SUM(tgt) AS BIGINT) AS tgt_all FROM st),
             |en AS (SELECT b, (tgt * tot_all > tot * tgt_all) AS enr FROM st, t),
             |p AS (SELECT doc_id, COUNT(*) AS n_grams,
             |    CAST(SUM(CASE WHEN enr THEN 1 ELSE 0 END) AS BIGINT) AS n_enriched
             |  FROM bk JOIN en USING (b) GROUP BY 1)
             |SELECT doc_id, n_grams, n_enriched,
             |  CAST(n_enriched AS DOUBLE) / CAST(n_grams AS DOUBLE) AS affinity
             |FROM p ORDER BY affinity DESC, doc_id LIMIT 20""".stripMargin)
    ),
    // Exact-duplicate cluster report: one row per duplicate group (same
    // text), with the canonical survivor (min doc_id) and the group size —
    // the accounting view a dedup pass emits alongside the retained corpus
    // (q_dedup_exact is the retained-ids side of the same groupBy). Round 6:
    // the exchange clusters on the 8-byte xxhash64 digest with in-partition
    // (h, text) equality confirm — bit-identical output, no megabyte
    // exchange keys (Dedup.digestClustered).
    GQ(
      "q_dedup_cluster",
      (s, d) =>
        Dedup.digestClustered(Tables.t(s, d, "documents"))
          .groupBy(col("h"), col("text"))
          .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_members"))
          .filter(col("n_members") >= 2)
          .select(col("canonical_id"), col("n_members"))
          .orderBy(col("canonical_id")),
      Some("""SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_members
             |FROM documents GROUP BY text HAVING COUNT(*) >= 2
             |ORDER BY canonical_id""".stripMargin)
    ),
    // The composed quality-filter stack — the decision step the individual
    // q_text_quality metrics feed: keep docs with a sane length band and a
    // bounded stopword ratio, report per-lang survivor counts and rate.
    // Pure scan-side predicates (int comparisons + one exact division) —
    // at 100 TB this is THE corpus-shaping pass, and it never shuffles more
    // than the per-lang counters.
    GQ(
      "q_quality_filter",
      (s, d) => {
        Tables.t(s, d, "documents")
          .select(col("lang"), TextOps.qualityGate.cast(LongType).as("kept"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
          .select(col("lang"), col("n_docs"), col("n_kept"),
            (col("n_kept").cast(DoubleType) / col("n_docs")).as("keep_rate"))
          .orderBy(col("lang"))
      },
      Some {
        val stops = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH q AS (SELECT lang,
           |  CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80
           |   AND CAST(len(list_filter(string_split(text, ' '),
           |         w -> w IN ($stops))) AS DOUBLE)
           |       / len(string_split(text, ' ')) <= 0.3
           |  THEN 1 ELSE 0 END AS kept FROM documents)
           |SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(kept) AS BIGINT) AS n_kept,
           |  CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS keep_rate
           |FROM q GROUP BY lang ORDER BY lang""".stripMargin
      }
    ),
    // Document-length histogram: fixed integer bands (exact CASE compares —
    // no float log binning that could straddle engine rounding), the
    // one-glance corpus profile every curation run starts from.
    GQ(
      "q_doclen_hist",
      (s, d) => {
        val n = size(split(col("text"), " "))
        val bucket = when(n < 20, "a_lt20")
          .when(n < 40, "b_20_39")
          .when(n < 60, "c_40_59")
          .when(n < 80, "d_60_79")
          .otherwise("e_ge80")
        Tables.t(s, d, "documents")
          .groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT CASE WHEN len(string_split(text, ' ')) < 20 THEN 'a_lt20'
             |  WHEN len(string_split(text, ' ')) < 40 THEN 'b_20_39'
             |  WHEN len(string_split(text, ' ')) < 60 THEN 'c_40_59'
             |  WHEN len(string_split(text, ' ')) < 80 THEN 'd_60_79'
             |  ELSE 'e_ge80' END AS bucket, COUNT(*) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin)
    ),
    // Sketch-accelerated EXACT heavy hitters: words occurring in ≥1% of all
    // word occurrences. Pass 1 builds a constant-size (4×8192 longs, 256 KB)
    // Count–Min sketch — one mergeable aggregate, no corpus-wide groupBy.
    // Pass 2 filters DISTINCT words through the materialized sketch
    // (cms_estimate ≥ threshold — CMS never under-estimates, so candidates
    // have NO FALSE NEGATIVES). Pass 3 exactly re-counts only candidate
    // words via a broadcast semi-join. Output is therefore EXACT and
    // oracle-matched by a plain GROUP BY/HAVING — the sketch buys the plan
    // shape (bounded state, candidate-sized final agg), not approximation.
    GQ(
      "q_heavy_hitters",
      (s, d) => {
        // total + sketch come out of a SINGLE aggregate job; the exploded
        // relation is deliberately NOT cached — re-scanning parquet per pass
        // measured faster than cache write+read at sf0.1 (1.0 vs 1.2s,
        // round-3 A/B), and streaming re-scan over pushdown-pruned parquet
        // is also the sane 100 TB posture (caching an exploded corpus
        // spills; scans pipeline)
        val words = Tables.t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
        val head = words.agg(
          count(lit(1)).as("total"), cms.sketch(col("word")).as("sk")).head
        val threshold = head.getLong(0) / 100 // same integer floor as the oracle
        val sketch = head.getAs[Array[Byte]](1)
        val cands = words.distinct()
          .filter(cms.estimate(lit(sketch), col("word")) >= threshold)
        words.join(broadcast(cands), Seq("word"), "leftsemi")
          .groupBy(col("word"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= threshold)
          .orderBy(col("cnt").desc, col("word"))
      },
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
             |  FROM documents)
             |SELECT word, COUNT(*) AS cnt FROM w GROUP BY word
             |HAVING COUNT(*) >= (SELECT COUNT(*) FROM w) // 100
             |ORDER BY cnt DESC, word""".stripMargin)
    ),
    // Eval-set decontamination: docs sharing any 3-gram with the "benchmark"
    // slice (doc_id < 4 stands in for an eval set — small enough that MiniData keeps a corpus side) are flagged with their
    // shared-gram and benchmark-doc counts. At 100 TB the benchmark shingle
    // set is tiny and broadcast — the corpus side streams through a
    // broadcast hash join, no shuffle of the corpus. The hour-one op of any
    // serious pretraining pipeline.
    GQ(
      "q_contamination",
      (s, d) => {
        val grams = Grams.kgramRows(Tables.t(s, d, "documents"), 3, Seq())
          .select(col("doc_id"), col("item").as("gram")).distinct()
        val bench = grams.filter(col("doc_id") < 4)
          .select(col("doc_id").as("bench_id"), col("gram"))
        val corpus = grams.filter(col("doc_id") >= 4)
        corpus.join(broadcast(bench), "gram")
          .groupBy(col("doc_id"))
          .agg(
            countDistinct(col("gram")).as("n_shared_grams"),
            countDistinct(col("bench_id")).as("n_bench_docs"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
             |    THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
             |         i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
             |    ELSE [text] END) AS sh FROM documents),
             |g AS (SELECT doc_id, unnest(sh) AS gram FROM d)
             |SELECT c.doc_id AS doc_id,
             |  COUNT(DISTINCT c.gram) AS n_shared_grams,
             |  COUNT(DISTINCT b.doc_id) AS n_bench_docs
             |FROM g c JOIN g b ON c.gram = b.gram
             |WHERE c.doc_id >= 4 AND b.doc_id < 4
             |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin)
    ),
    // The composed nightly curation run (round 3, VERDICT item 6): quality
    // filter → stratified hash-sample → exact dedup → PII scrub, reported as
    // ONE funnel row — stage survivor counts plus an order-independent
    // fingerprint (bit_xor of per-doc h60 over id + scrubbed text) of the
    // exact retained corpus, so the oracle pins membership AND byte content
    // of the final output, not just counts. Reuses the exact predicates of
    // q_quality_filter / q_sample_stratified / q_dedup_exact /
    // q_text_pii_scrub. Plan at 100 TB: one narrow scan computes both stage
    // flags, the funnel aggregates map-side; only sampled quality survivors
    // (~a fifth of a filtered corpus) reach the dedup shuffle, which at
    // scale keys on the 16-byte q_text_fingerprint digest instead of the
    // raw text — same plan, narrow key.
    GQ(
      "q_curation_pipeline",
      (s, d) => {
        val quality = TextOps.qualityGate
        val gate = pmod(
          XHash.h60(concat(lit("sample:"), col("doc_id").cast(StringType))),
          lit(100L)) < 20
        val staged = Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            quality.cast(LongType).as("q"),
            (quality && gate).cast(LongType).as("sm"))
        val survivors = staged.filter(col("sm") === 1L)
          .withColumn("mn", min(col("doc_id")).over(Window.partitionBy(col("text"))))
          .filter(col("doc_id") === col("mn"))
        val scrubbed = regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"), DigitsRe, "<NUM>")
        val funnel = staged.agg(
          count(lit(1)).as("n_total"),
          sum(col("q")).as("n_quality"),
          sum(col("sm")).as("n_sampled"))
        val retained = survivors.agg(
          count(lit(1)).as("n_unique"),
          coalesce(
            bit_xor(XHash.h60(concat(
              col("doc_id").cast(StringType), lit(":"), scrubbed))),
            lit(0L)).as("corpus_fp"))
        funnel.crossJoin(retained)
      },
      Some {
        val stops = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
        val scrubSql =
          s"regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), " +
            s"'$DigitsRe', '<NUM>', 'g')"
        s"""WITH q AS (SELECT doc_id, text,
           |  CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80
           |   AND CAST(len(list_filter(string_split(text, ' '),
           |         w -> w IN ($stops))) AS DOUBLE)
           |       / len(string_split(text, ' ')) <= 0.3
           |  THEN 1 ELSE 0 END AS ok,
           |  CASE WHEN ${XHash.sqlH60("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 20
           |  THEN 1 ELSE 0 END AS g
           |  FROM documents),
           |s1 AS (SELECT doc_id, text FROM q WHERE ok = 1 AND g = 1),
           |s2 AS (SELECT doc_id, text FROM (SELECT doc_id, text,
           |    MIN(doc_id) OVER (PARTITION BY text) AS mn FROM s1)
           |  WHERE doc_id = mn),
           |f1 AS (SELECT COUNT(*) AS n_total, CAST(SUM(ok) AS BIGINT) AS n_quality,
           |    CAST(SUM(ok * g) AS BIGINT) AS n_sampled FROM q),
           |f2 AS (SELECT COUNT(*) AS n_unique,
           |    COALESCE(bit_xor(${XHash.sqlH60(
                  s"CAST(doc_id AS VARCHAR) || ':' || $scrubSql")}), 0) AS corpus_fp
           |  FROM s2)
           |SELECT n_total, n_quality, n_sampled, n_unique, corpus_fp
           |FROM f1, f2""".stripMargin
      }
    ),
    // Derandomized reservoir sampling (round 4): uniform k-per-stratum
    // without replacement, realized as a hash-rank — docs rank inside each
    // language by a salted h60 of their id and the k smallest survive.
    // Distributionally this IS a uniform k-sample for any non-adversarial
    // id set, but unlike rand()-reservoirs it is REPRODUCIBLE across
    // engines, reruns, and cluster sizes (R3), and stable under appends:
    // a new doc can displace at most one survivor. At 100 TB the per-group
    // top-k runs as WindowGroupLimit — every map task keeps its local k
    // smallest BEFORE the single lang-keyed shuffle, so the exchange
    // carries ~k rows per partition per stratum, never the corpus.
    GQ(
      "q_sample_reservoir",
      (s, d) => {
        val hk = XHash.h60(concat(lit("rsv:"), col("doc_id").cast(StringType)))
        val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
        Tables.t(s, d, "documents")
          .select(col("lang"), col("doc_id"), hk.as("hk"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("lang"), col("doc_id"), col("rnk").cast(LongType).as("rnk"))
          .orderBy(col("lang"), col("rnk"))
      },
      Some(s"""WITH h AS (SELECT lang, doc_id,
             |    ${XHash.sqlH60("'rsv:' || CAST(doc_id AS VARCHAR)")} AS hk
             |  FROM documents),
             |r AS (SELECT lang, doc_id,
             |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
             |      AS BIGINT) AS rnk FROM h)
             |SELECT lang, doc_id, rnk FROM r WHERE rnk <= 5
             |ORDER BY lang, rnk""".stripMargin)
    ),
    // Statistical outlier detection (round 4): the 20 documents whose
    // token counts sit furthest (in population z-score) from the corpus
    // mean — the "truncated/concatenated document" tell beside the
    // absolute length gates of q_quality_filter. Top-k rather than a fixed
    // |z| threshold: the synthetic corpus is near-uniform (max |z| ≈ 1.8 at
    // sf0.01), so a 2σ gate demonstrates nothing; a real pipeline tunes
    // the cut, and the ranking is the operator. Determinism by
    // construction: with exact integer moments n, S=Σt, S2=Σt², the
    // z-score algebra (t−mean)/sd rearranges to (t·n − S)/sqrt(n·S2 − S²)
    // — two exact integers, ONE division and ONE sqrt over their double
    // casts, identical IEEE ops in both engines (all magnitudes < 2^53,
    // casts exact) — so ranking on |z| with a doc_id tie-break is
    // cross-engine stable, and the 3-dp display (R8) rounds after. Plan:
    // one token-count scan + a 1-row moment agg broadcast back + top-k
    // (TakeOrderedAndProject) — zero wide shuffles, linear at any size.
    GQ(
      "q_text_outliers",
      (s, d) => {
        val t = Tables.t(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("t"))
        val stats = t.agg(count(lit(1)).as("n"), sum(col("t")).as("s1"),
          sum(col("t") * col("t")).as("s2"))
        t.crossJoin(broadcast(stats))
          .select(col("doc_id"), col("t").as("n_tokens"),
            ((col("t") * col("n") - col("s1")).cast(DoubleType) /
              sqrt((col("n") * col("s2") - col("s1") * col("s1"))
                .cast(DoubleType))).as("z"))
          .orderBy(abs(col("z")).desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("n_tokens"),
            graft.functions.vec.roundz(col("z"), 3).as("z"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
             |  FROM documents),
             |st AS (SELECT COUNT(*) AS n, SUM(t) AS s1, SUM(t*t) AS s2 FROM t),
             |z AS (SELECT doc_id, t AS n_tokens,
             |    CAST(t*n - s1 AS DOUBLE) / sqrt(CAST(n*s2 - s1*s1 AS DOUBLE))
             |      AS z
             |  FROM t, st)
             |SELECT doc_id, n_tokens, (ROUND(z, 3) + 0.0) AS z FROM z
             |ORDER BY abs(z) DESC, doc_id LIMIT 20""".stripMargin)
    ),
    // Deterministic train/val/test split (round 4): the 80/10/10 assignment
    // every training run needs to be REPRODUCIBLE — salted h60 gate per
    // doc (the q_sample_stratified mechanism, distinct salt), so the same
    // doc lands in the same split on any engine, rerun, or cluster size
    // (R3), and adding docs never moves existing ones. Each split reports
    // doc/token counts plus an ORDER-INDEPENDENT membership fingerprint
    // (bit_xor of per-doc h60 over id:text — the q_curation_pipeline audit
    // pattern), so two runs can prove split equality without comparing
    // row-by-row. Scan-side labels, one 3-group agg — linear at any size.
    GQ(
      "q_split_assign",
      (s, d) => {
        val gate = pmod(
          XHash.h60(concat(lit("split:"), col("doc_id").cast(StringType))),
          lit(100L))
        Tables.t(s, d, "documents")
          .select(
            when(gate < 80, "train").when(gate < 90, "val")
              .otherwise("test").as("split"),
            size(split(col("text"), " ")).cast(LongType).as("toks"),
            XHash.h60(concat_ws(":", col("doc_id").cast(StringType),
              col("text"))).as("fp"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
            bit_xor(col("fp")).as("membership_fp"))
          .orderBy(col("split"))
      },
      Some(s"""WITH t AS (SELECT
             |    CASE WHEN ${XHash.sqlH60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
             |      THEN 'train'
             |    WHEN ${XHash.sqlH60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
             |      THEN 'val' ELSE 'test' END AS split,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
             |    ${XHash.sqlH60("CAST(doc_id AS VARCHAR) || ':' || text")} AS fp
             |  FROM documents)
             |SELECT split, COUNT(*) AS n_docs,
             |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
             |  bit_xor(fp) AS membership_fp
             |FROM t GROUP BY split ORDER BY split""".stripMargin)
    ),
    // Cross-source overlap estimation via KMV (k-minimum-values / bottom-k)
    // sketches — the sketch family that supports set INTERSECTION, which
    // HLL (q_approx_distinct_native) and CMS (q_heavy_hitters) cannot: per
    // source, keep the k=16 smallest h60 values of its distinct 3-gram
    // shingle set; for each source pair, the k smallest of the sketch UNION
    // estimate Jaccard as (members in both) / k [Beyer et al. 2007]. The
    // real pipeline question this answers: which crawl sources are
    // near-copies of each other, WITHOUT an all-pairs shingle join.
    //
    // Determinism: min-k of exact integer hashes — no FP, no RNG; the
    // estimate is one int/int IEEE division (R7).
    //
    // Plan shape (100 TB): zero-shuffle shingling → one (source, h)
    // distinct agg → one source-keyed top-k window = 16 rows/source
    // forever, independent of corpus size. The pairwise stage touches only
    // sketches (sources² · k rows — sources is a bounded dimension), never
    // the corpus; that asymmetry is the entire point of sketching.
    GQ(
      "q_set_overlap_kmv",
      (s, d) => {
        val k = 16
        val items = Grams.kgramRows(
            Tables.t(s, d, "documents")
              .select(col("doc_id"), col("source"), col("text")),
            3, Seq("source"))
          .select(col("source"), XHash.h60(col("item")).as("h"))
          .distinct()
        val bySrc = Window.partitionBy(col("source")).orderBy(col("h"))
        val sk = graft.Caches.persist(
          items.withColumn("rk", row_number().over(bySrc))
            .filter(col("rk") <= k).select(col("source"), col("h")))
        val srcs = sk.select(col("source")).distinct()
        val pairs = srcs.select(col("source").as("sa"))
          .join(srcs.select(col("source").as("sb")), col("sa") < col("sb"))
        val tagged = pairs.join(sk.withColumnRenamed("source", "sa"), "sa")
          .select(col("sa"), col("sb"), col("h"),
            lit(1L).as("ina"), lit(0L).as("inb"))
          .union(pairs.join(sk.withColumnRenamed("source", "sb"), "sb")
            .select(col("sa"), col("sb"), col("h"),
              lit(0L).as("ina"), lit(1L).as("inb")))
          .groupBy(col("sa"), col("sb"), col("h"))
          .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
        val byPair = Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))
        tagged.withColumn("rk", row_number().over(byPair))
          .filter(col("rk") <= k)
          .groupBy(col("sa"), col("sb"))
          .agg(count(lit(1)).as("k_used"),
            sum(col("ina") * col("inb")).as("n_both"))
          .select(col("sa"), col("sb"), col("k_used"), col("n_both"),
            (col("n_both").cast(DoubleType) / col("k_used").cast(DoubleType))
              .as("jaccard_est"))
          .orderBy(col("sa"), col("sb"))
      },
      Some(s"""WITH g AS (SELECT source,
             |    unnest(CASE WHEN len(string_split(text, ' ')) >= 3
             |      THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
             |           i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
             |      ELSE [text] END) AS item
             |  FROM documents),
             |it AS (SELECT DISTINCT source, ${XHash.sqlH60("item")} AS h FROM g),
             |sk AS (SELECT source, h FROM (SELECT source, h,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM it)
             |  WHERE rk <= 16),
             |srcs AS (SELECT DISTINCT source FROM sk),
             |pairs AS (SELECT x.source AS sa, y.source AS sb
             |  FROM srcs x JOIN srcs y ON x.source < y.source),
             |tg AS (SELECT sa, sb, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (
             |    SELECT p.sa, p.sb, s.h, 1 AS ina, 0 AS inb
             |      FROM pairs p JOIN sk s ON s.source = p.sa
             |    UNION ALL
             |    SELECT p.sa, p.sb, s.h, 0 AS ina, 1 AS inb
             |      FROM pairs p JOIN sk s ON s.source = p.sb)
             |  GROUP BY sa, sb, h),
             |rk AS (SELECT sa, sb, ina, inb,
             |    ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rk FROM tg)
             |SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS k_used,
             |  CAST(SUM(ina * inb) AS BIGINT) AS n_both,
             |  CAST(SUM(ina * inb) AS DOUBLE) / COUNT(*) AS jaccard_est
             |FROM rk WHERE rk <= 16 GROUP BY sa, sb ORDER BY sa, sb""".stripMargin)
    ),
    // Deterministic sharded training shuffle: the reader-side contract of
    // every large training run — a reproducible pseudo-random global order,
    // materialized as (shard, position-within-shard) so NO engine ever
    // needs a single-partition global sort. Readers consume shards
    // round-robin; shard = h % 16 and the intra-shard order (h, doc_id) are
    // pure data math (R3), so any engine, rerun, or cluster size produces
    // the identical order. (Unlike q_split_assign's per-doc gate, POSITIONS
    // are not append-stable — an appended doc shifts later positions in its
    // shard, as any total order must; the shard assignment itself is.)
    //
    // Plan shape (100 TB): scan-side hash + ONE shard-keyed window sort —
    // 16-way parallel, each shard 1/16 of the corpus; contrast a global
    // ROW_NUMBER() OVER (ORDER BY h), which serializes the corpus through
    // one partition.
    GQ(
      "q_shuffle_shards",
      (s, d) => {
        val byShard = Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))
        Tables.t(s, d, "documents")
          .select(col("doc_id"),
            XHash.h60(concat(lit("shuffle:"), col("doc_id").cast(StringType)))
              .as("h"))
          .withColumn("shard", pmod(col("h"), lit(16L)))
          .withColumn("pos", row_number().over(byShard).cast(LongType))
          .select(col("shard"), col("pos"), col("doc_id"))
          .orderBy(col("shard"), col("pos"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
             |    ${XHash.sqlH60("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS h
             |  FROM documents)
             |SELECT h % 16 AS shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
             |    AS BIGINT) AS pos,
             |  doc_id
             |FROM t ORDER BY shard, pos""".stripMargin)
    ),
    // Robust outlier detection via MAD (median absolute deviation) — the
    // companion q_text_outliers needs: the z-score's own mean/stddev are
    // dragged by the outliers being hunted (one 10⁶-token doc inflates σ
    // enough to hide every other anomaly), while median/MAD have a 50%
    // breakdown point. Score = |tokens − median| / MAD over token counts;
    // top-20 by (score, doc_id).
    //
    // Determinism: both medians interpolate two middle values of integer
    // (or .5-exact) data — the q_agg_median_mode contract — so med, dev,
    // and mad are exact doubles and the score is ONE IEEE division of
    // exact operands (R7); a zero MAD (≥half the corpus at the median)
    // yields NULL scores ranked last rather than a division blowup.
    //
    // Plan shape (100 TB): the token-count projection persists (narrow:
    // two longs/doc); two sequential 1-row median aggs broadcast back —
    // the corpus is scanned once and only ordered inside percentile's
    // partial aggregation. (Exact percentile shuffles value-counts; at
    // real scale the same shape runs on the binned doclen histogram —
    // q_doclen_hist — with interpolation inside the median bin.)
    GQ(
      "q_text_mad_outliers",
      (s, d) => {
        val t = graft.Caches.persist(
          Tables.t(s, d, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("t")))
        val med = t.agg(percentile(col("t"), lit(0.5)).as("med"))
        val dev = t.crossJoin(broadcast(med))
          .select(col("doc_id"), col("t"), abs(col("t") - col("med")).as("dev"))
        val mad = dev.agg(percentile(col("dev"), lit(0.5)).as("mad"))
        dev.crossJoin(broadcast(mad))
          .select(col("doc_id"), col("t").as("n_tokens"), col("dev"),
            when(col("mad") > 0, col("dev") / col("mad")).as("score"))
          .orderBy(col("score").desc_nulls_last, col("doc_id"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
             |  FROM documents),
             |m AS (SELECT quantile_cont(t, 0.5) AS med FROM t),
             |dv AS (SELECT doc_id, t, abs(t - med) AS dev FROM t, m),
             |md AS (SELECT quantile_cont(dev, 0.5) AS mad FROM dv)
             |SELECT doc_id, t AS n_tokens, dev,
             |  CASE WHEN mad > 0 THEN dev / mad END AS score
             |FROM dv, md
             |ORDER BY score DESC NULLS LAST, doc_id LIMIT 20""".stripMargin)
    ),
    // Temperature-smoothed source mixing (round 4, batch 10) — the
    // multilingual/source-balancing weights of the GPT-3/PaLM data recipe:
    // sampling probability ∝ toks^α with α = 1/2, which up-weights small
    // sources without q_mix_weights' hard uniform cap. α = 1/2 is the one
    // temperature this surface can take exactly: IEEE-754 SQRT is
    // correctly rounded in BOTH engines (a required op, unlike ln/pow),
    // so sqrt(toks) is bit-identical cross-engine.
    //
    // Determinism: the smoothed weight is quantized to integer billionths
    // (wq = FLOOR(sqrt(toks)·1e9) — one exact sqrt, one multiply, one
    // floor, all engine-shared) BEFORE the normalizing sum, so Σwq is an
    // order-free BIGINT sum, never an IEEE accumulation; share and the
    // resampling factor are the fixed tree ((wq/Σwq)·total)/toks (R7).
    //
    // Plan shape (100 TB): ONE corpus scan into a |sources|-bounded hash
    // agg (map-side combine); totals are a 1-row broadcast; everything
    // after is arithmetic on the tiny relation.
    GQ(
      "q_mix_temperature",
      (s, d) => {
        val perSrc = Tables.t(s, d, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast(LongType).as("n_tok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"))
          .withColumn("wq",
            expr("CAST(FLOOR(SQRT(CAST(toks AS DOUBLE)) * 1000000000.0) AS BIGINT)"))
        val totals = perSrc.agg(
          sum(col("wq")).as("wsum"), sum(col("toks")).as("total_toks"))
        perSrc.crossJoin(broadcast(totals))
          .withColumn("share",
            col("wq").cast(DoubleType) / col("wsum").cast(DoubleType))
          .select(col("source"), col("n_docs"), col("toks"), col("wq"),
            col("share"),
            (col("share") * col("total_toks").cast(DoubleType) /
              col("toks").cast(DoubleType)).as("factor"))
          .orderBy(col("source"))
      },
      Some("""WITH t AS (SELECT source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |pl AS (SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(n_tok) AS BIGINT) AS toks FROM t GROUP BY 1),
             |q AS (SELECT source, n_docs, toks,
             |    CAST(FLOOR(SQRT(CAST(toks AS DOUBLE)) * 1000000000.0)
             |      AS BIGINT) AS wq FROM pl),
             |tt AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum,
             |    CAST(SUM(toks) AS BIGINT) AS total_toks FROM q)
             |SELECT source, n_docs, toks, wq,
             |  CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) AS share,
             |  CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE)
             |    * CAST(total_toks AS DOUBLE) / CAST(toks AS DOUBLE) AS factor
             |FROM q, tt ORDER BY source""".stripMargin)
    ),
    // Weighted sampling WITHOUT replacement, deterministic (Efraimidis &
    // Spirakis 2006, A-ES) — "sample 20 documents with probability ∝ size,
    // reproducibly" — the seeded form of the data-mixing draw every
    // curriculum/mixture build runs (q_mix_temperature computes the rates;
    // this materializes an actual draw). A-ES keys each row by u^(1/w) and
    // keeps the top-k; equivalently BOTTOM-k by -log2(u)/w — the
    // exponential race with rate w.
    //
    // Determinism (R3: no rand()): u = (h+1)/2^60 with h = h60(doc_id) —
    // pure data math, identical on any engine/cluster. The key is carried
    // EXACTLY: -log2(u) = 60 - log2(h+1), where log2(h+1) is the dyadic
    // log2 `log2q(h+1, 1)` ([[graft.functions.Log2Q]]; its operand here
    // reaches 2^60, inside the kernel's range). key_q =
    // (L << 20) div w keeps 2^20 sub-unit resolution before the weight
    // division so distinct (L, w) pairs stay distinct; ties → doc_id (R1).
    //
    // Plan shape (100 TB): ONE scan-side integer projection (hash +
    // log2q, all codegen'd, no shuffle) into
    // TakeOrderedAndProject(20) — the corpus is scanned once and only 20
    // rows ever leave an executor. The classic alternative (global sort by
    // rand()) is a full shuffle AND non-reproducible; this is neither.
    GQ(
      "q_sample_weighted",
      (s, d) => {
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            greatest(col("n_chars"), lit(1L)).as("w"),
            Log2Q.col(XHash.h60(concat(lit("wsample:"),
              col("doc_id").cast(StringType))) + 1L, lit(1L)).as("l"))
          .select(col("doc_id"), col("n_chars"),
            expr(s"shiftleft(${60L * 1024}L - l, 20) div w").as("key_q"))
          .orderBy(col("key_q"), col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH d0 AS (SELECT doc_id, n_chars,
           |    GREATEST(n_chars, 1) AS w,
           |    ${XHash.sqlH60("'wsample:' || CAST(doc_id AS VARCHAR)")} + 1
           |      AS n FROM documents)
           |SELECT doc_id, n_chars,
           |  ((${60L * 1024} - ${Log2Q.sql("n", "1")}) << 20) // w AS key_q
           |FROM d0 ORDER BY key_q, doc_id LIMIT 20""".stripMargin)
    ),
    // Mergeable sketch tiles + rollup (round 4) — THE precomputed-
    // aggregate pattern at warehouse scale: per-(lang, source) HLL
    // register tiles are built ONCE from the corpus (in production:
    // written beside each partition at ingest), and any coarser distinct
    // count — here distinct words per lang — comes from max-merging the
    // 256-register tiles, never rescanning the corpus. The query emits
    // both the tile-merged and the direct estimate per lang: equal BY
    // CONSTRUCTION (register max is associative — the mergeability
    // theorem made visible), beside the exact count for the error.
    //
    // Engine-owned estimator, exact integers end to end (the built-in
    // HLL++'s internals are not replayable — q_approx_distinct's
    // sanctioned gap; this one is): registers on the h60 basis (P=8 →
    // idx = top 8 bits, rank = 53 − bitlen of the low 52; the
    // q_approx_distinct_native scheme), raw = ⌊α·m²·2^53 / S⌋ with
    // S = Σ 2^(53−r) an exact BIGINT and α = 7182726/10^7 — the product
    // runs in DECIMAL(38)/HUGEINT (4.2e27 > 2^63), floor-div identical
    // both engines; small-range linear counting m·ln(m/z) carries
    // ln(m/z) = log2(m/z)·ln2 via the SAME dyadic log2 as
    // q_text_perplexity (`log2q`) and ln2 = 693147/10^6 — every step
    // integer.
    //
    // Plan shape (100 TB): ONE corpus-scale agg (the tile build — keyed
    // (lang, source, idx), map-side combinable); everything downstream is
    // |langs|·256 rows (grid joins broadcast); the exact count exists for
    // validation only and is the one additional corpus shuffle — a
    // production rollup drops it, touching the corpus exactly once.
    GQ(
      "q_sketch_rollup",
      (s, d) => {
        val m = 256
        val words = Tables.t(s, d, "documents")
          .select(col("lang"), col("source"),
            explode(split(col("text"), " ")).as("word"))
        val reg = words
          .select(col("lang"), col("source"), XHash.h60(col("word")).as("h"))
          .select(col("lang"), col("source"),
            expr(s"h div ${1L << 52}L").as("idx"),
            expr(s"h % ${1L << 52}L").as("wv"))
          .withColumn("rank",
            when(col("wv") === 0L, lit(53L))
              .otherwise(lit(53L) - length(bin(col("wv")))))
        val tiles = reg.groupBy(col("lang"), col("source"), col("idx"))
          .agg(max(col("rank")).as("r"))
        val nSrc = tiles.select(col("lang"), col("source")).distinct()
          .groupBy(col("lang")).agg(count(lit(1)).as("n_sources"))
        val mergedReg = tiles.groupBy(col("lang"), col("idx"))
          .agg(max(col("r")).as("r"))
        val directReg = reg.groupBy(col("lang"), col("idx"))
          .agg(max(col("rank")).as("r"))
        def estimate(regs: org.apache.spark.sql.DataFrame, out: String) = {
          val grid = regs.select(col("lang")).distinct()
            .crossJoin(broadcast(s.range(m).select(col("id").as("idx"))))
          grid.join(regs, Seq("lang", "idx"), "left")
            .select(col("lang"), coalesce(col("r"), lit(0L)).as("r"))
            .groupBy(col("lang"))
            .agg(
              sum(expr("shiftleft(1L, 53 - CAST(r AS INT))")).as("sreg"),
              sum(when(col("r") === 0L, 1L).otherwise(0L)).as("z"))
            .withColumn("raw", expr(
              s"CAST((CAST(7182726 AS DECIMAL(38,0)) * $m * $m * ${1L << 53}L)" +
                s" div (CAST(10000000 AS DECIMAL(38,0)) * sreg) AS BIGINT)"))
            .withColumn("lq",
              when(col("z") > 0, Log2Q.col(lit(m.toLong), col("z"))))
            .select(col("lang"),
              when(col("z") > 0 && col("raw") <= lit(5L * m / 2),
                expr(s"($m * lq * 693147) div ${1024L * 1000000}L"))
                .otherwise(col("raw")).as(out))
        }
        val exact = words.select(col("lang"), col("word")).distinct()
          .groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
        nSrc.join(estimate(mergedReg, "est_merged"), "lang")
          .join(estimate(directReg, "est_direct"), "lang")
          .join(exact, "lang")
          .select(col("lang"), col("n_sources"), col("n_exact"),
            col("est_merged"), col("est_direct"),
            ((col("est_merged").cast(DoubleType) -
              col("n_exact").cast(DoubleType)) /
              col("n_exact").cast(DoubleType)).as("rel_err"))
          .orderBy(col("lang"))
      },
      Some {
        def estSql(src: String, tag: String): String =
          s"""grid_$tag AS (SELECT l.lang, g.idx
             |  FROM (SELECT DISTINCT lang FROM $src) l, range(256) g(idx)),
             |rr_$tag AS (SELECT gx.lang, COALESCE(t.r, 0) AS r
             |  FROM grid_$tag gx LEFT JOIN $src t
             |    ON t.lang = gx.lang AND t.idx = gx.idx),
             |sz_$tag AS (SELECT lang,
             |    CAST(SUM(1::BIGINT << CAST(53 - r AS INTEGER)) AS BIGINT) AS sreg,
             |    CAST(COUNT(*) FILTER (WHERE r = 0) AS BIGINT) AS z
             |  FROM rr_$tag GROUP BY 1),
             |lc_$tag AS (SELECT lang, z,
             |    CAST((7182726::HUGEINT * 256 * 256 * ${1L << 53})
             |      // (10000000::HUGEINT * sreg) AS BIGINT) AS raw,
             |    CASE WHEN z > 0 THEN ${Log2Q.sql("256", "z")} END AS lq
             |  FROM sz_$tag),
             |est_$tag AS (SELECT lang,
             |  CASE WHEN z > 0 AND raw <= 640
             |    THEN (256 * lq * 693147) // ${1024L * 1000000}
             |    ELSE raw END AS est FROM lc_$tag)"""
        s"""WITH w AS (SELECT lang, source,
           |    unnest(string_split(text, ' ')) AS word FROM documents),
           |hh AS (SELECT lang, source, ${XHash.sqlH60("word")} AS h FROM w),
           |reg AS (SELECT lang, source, h // ${1L << 52} AS idx,
           |    h % ${1L << 52} AS wv FROM hh),
           |rk AS (SELECT lang, source, idx,
           |    CASE WHEN wv = 0 THEN 53
           |         ELSE 53 - length(bin(wv)) END AS rank FROM reg),
           |tiles AS (SELECT lang, source, idx, MAX(rank) AS r
           |  FROM rk GROUP BY 1, 2, 3),
           |nsrc AS (SELECT lang, CAST(COUNT(DISTINCT source) AS BIGINT)
           |    AS n_sources FROM tiles GROUP BY 1),
           |mreg AS (SELECT lang, idx, MAX(r) AS r FROM tiles GROUP BY 1, 2),
           |dreg AS (SELECT lang, idx, MAX(rank) AS r FROM rk GROUP BY 1, 2),
           |${estSql("mreg", "m")},
           |${estSql("dreg", "d")},
           |ex AS (SELECT lang, CAST(COUNT(DISTINCT word) AS BIGINT)
           |    AS n_exact FROM w GROUP BY 1)
           |SELECT n.lang, n.n_sources, ex.n_exact,
           |  em.est AS est_merged, ed.est AS est_direct,
           |  (CAST(em.est AS DOUBLE) - CAST(ex.n_exact AS DOUBLE))
           |    / CAST(ex.n_exact AS DOUBLE) AS rel_err
           |FROM nsrc n
           |JOIN est_m em ON em.lang = n.lang
           |JOIN est_d ed ON ed.lang = n.lang
           |JOIN ex ON ex.lang = n.lang
           |ORDER BY n.lang""".stripMargin
      }
    ),
    // Class-balanced downsampling (round 5) — the third sampling verb
    // beside q_sample_stratified's fixed-rate gate and q_sample_weighted's
    // importance draw: cap EVERY language class at the SMALLEST class's
    // size, the standard de-biasing pass before training on a skewed
    // corpus (en is ~3× fr here — a uniform sample preserves the skew,
    // this removes it). Selection within a class is the deterministic
    // h60 lottery: rank docs by (hash, doc_id) and keep rank ≤ min-class
    // size, so membership is reproducible, seed-free (R3), and
    // independent of physical row order.
    //
    // Determinism: exact integer counts; the kept-set is pinned by the
    // h60 basis both engines share; per-class sums of n_chars are BIGINTs;
    // ties in the lottery break on doc_id (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → per-class window
    // (PARTITIONED by lang — never a global sort). The min-class size is
    // fetched as ONE bounded 1-row driver scalar (the kcore adaptive-k
    // pattern) so the rank filter carries a LITERAL bound — that is what
    // lets Spark plan WindowGroupLimit and keep the per-class top-K
    // map-side (a column-valued bound cannot group-limit; plan-pinned in
    // PlanShapeSpec) → lang-keyed agg. Linear at any corpus size.
    GQ(
      "q_sample_balanced",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.t(s, d, "documents")
        // bounded driver fetch (1 row over the |langs|-sized agg). An
        // EMPTY corpus makes min() NULL (round-6 ADVICE): the 0 sentinel
        // is output-neutral — no langs means no window rows to filter.
        val mnRow = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .agg(min(col("n"))).head()
        val mn = if (mnRow.isNullAt(0)) 0L else mnRow.getLong(0)
        val h = XHash.h60(concat(lit("bal:"), col("doc_id").cast(StringType)))
        docs
          .select(col("lang"), col("doc_id"), col("n_chars"), h.as("h"))
          .withColumn("r", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
          .filter(col("r") <= lit(mn))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("chars_kept"),
            min(col("h")).as("h_first"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents
             |  GROUP BY lang),
             |mn AS (SELECT MIN(n) AS mn FROM cnt),
             |rk AS (SELECT lang, doc_id, n_chars,
             |    ${XHash.sqlH60("'bal:' || CAST(doc_id AS VARCHAR)")} AS h,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY ${XHash.sqlH60("'bal:' || CAST(doc_id AS VARCHAR)")},
             |        doc_id) AS r
             |  FROM documents)
             |SELECT lang, COUNT(*) AS n_kept,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
             |  MIN(h) AS h_first
             |FROM rk WHERE r <= (SELECT mn FROM mn)
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    // Mergeable dyadic-histogram quantile tiles (round 5) — the
    // DISTRIBUTED-PERCENTILE primitive beside q_sketch_rollup's HLL
    // tiles: per (returnflag, ship-year) the lineitem price distribution
    // reduces to ≤ ~30 dyadic buckets (bucket = ⌊log2(cents)⌋ via
    // bitlen — exact integers, the shared dyadic basis), written once
    // beside each calendar partition at ingest; ANY coarser quantile —
    // here p50/p90/p99 per flag — comes from SUM-merging the tiles,
    // never rescanning or globally sorting the corpus (the percentile
    // problem that forces a sort everywhere else). The query emits the
    // merged-tile bucket envelope [lo, hi) per quantile PLUS the exact
    // percentile_disc element, and `contained` asserts envelope ∋ exact —
    // true BY CONSTRUCTION (both sides walk the same cumulative counts
    // under the same cume_dist ≥ p convention), the mergeability theorem
    // made visible row by row.
    //
    // Determinism: cents via the one decimal conversion (q_stats_moments);
    // bucket = length(bin(c)) − 1 — identical unpadded-bitlen semantics
    // both engines (q_sample_weighted precedent); the quantile bucket is
    // the MIN bucket with cum·100 ≥ p·N — all exact BIGINTs (cum·100
    // holds to N ≈ 9·10¹⁶, headroom documented per R10); the exact
    // element is percentile_disc, the pinned element-not-interpolation
    // convention (R7) — zero floating point anywhere.
    //
    // Plan shape (100 TB): ONE corpus scan → (flag, year, bucket) hash
    // agg (map-side combine; output calendar×30-bounded, corpus-
    // independent); merge, cumsum, quantile selection, and the exact-
    // check join all run on that model-sized relation. The percentile_disc
    // column is validation-only — a production rollup reads tiles alone
    // and never touches the corpus again.
    GQ(
      "q_sketch_quantile",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cents = (graft.C.dec2(col("l_extendedprice")) * 100)
          .cast(LongType)
        val base = graft.Caches.persist(Tables.t(s, d, "lineitem")
          .select(col("l_returnflag").as("flag"),
            year(col("l_shipdate")).as("yr"), cents.as("c")))
        val tiles = base
          .groupBy(col("flag"), col("yr"),
            (length(bin(col("c"))) - 1).cast(LongType).as("bucket"))
          .agg(count(lit(1)).as("cnt"))
        val merged = tiles.groupBy(col("flag"), col("bucket"))
          .agg(sum(col("cnt")).as("cnt"))
        val cumW = Window.partitionBy(col("flag")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val totW = Window.partitionBy(col("flag"))
        val cum = merged.select(col("flag"), col("bucket"),
          sum(col("cnt")).over(cumW).as("cum"),
          sum(col("cnt")).over(totW).as("n"))
        val ps = cum.select(col("flag"), col("bucket"), col("cum"), col("n"),
          explode(array(lit(50L), lit(90L), lit(99L))).as("p"))
        val chosen = ps.filter(col("cum") * 100 >= col("p") * col("n"))
          .groupBy(col("flag"), col("p")).agg(min(col("bucket")).as("bucket"))
          .select(col("flag"), col("p"), col("bucket"),
            expr("shiftleft(1L, CAST(bucket AS INT))").as("lo_cents"),
            expr("shiftleft(1L, CAST(bucket AS INT) + 1) - 1").as("hi_cents"))
        // exact percentile element computed from the domain-bounded cents
        // counts under the SAME cume_dist ≥ p convention percentile_disc
        // pins (first c with cum·100 ≥ p·n) — provably the identical
        // element, without the value-buffering percentile aggregate the
        // built-in pays (measured ~2× on the sf0.1 bench); the DuckDB
        // oracle keeps the spelled-out percentile_disc, so the equality
        // of the two formulations is itself oracle-checked every run
        val vc = base.groupBy(col("flag"), col("c"))
          .agg(count(lit(1)).as("vcnt"))
        val vcw = Window.partitionBy(col("flag")).orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val vtw = Window.partitionBy(col("flag"))
        val exact = vc
          .select(col("flag"), col("c"),
            sum(col("vcnt")).over(vcw).as("vcum"),
            sum(col("vcnt")).over(vtw).as("vn"))
          .select(col("flag"), col("c"), col("vcum"), col("vn"),
            explode(array(lit(50L), lit(90L), lit(99L))).as("p"))
          .filter(col("vcum") * 100 >= col("p") * col("vn"))
          .groupBy(col("flag"), col("p"))
          .agg(min(col("c")).as("exact_cents"))
        chosen.join(exact, Seq("flag", "p"))
          .select(col("flag"), col("p"), col("bucket"), col("lo_cents"),
            col("hi_cents"), col("exact_cents"),
            (col("exact_cents") >= col("lo_cents") &&
              col("exact_cents") <= col("hi_cents")).as("contained"))
          .orderBy(col("flag"), col("p"))
      },
      Some("""WITH b AS (SELECT l_returnflag AS flag,
             |    CAST(year(l_shipdate) AS BIGINT) AS yr,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS c
             |  FROM lineitem),
             |tiles AS (SELECT flag, yr,
             |    CAST(length(bin(c)) - 1 AS BIGINT) AS bucket,
             |    COUNT(*) AS cnt
             |  FROM b GROUP BY 1, 2, 3),
             |merged AS (SELECT flag, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
             |  FROM tiles GROUP BY 1, 2),
             |cum AS (SELECT flag, bucket,
             |    SUM(cnt) OVER (PARTITION BY flag ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    SUM(cnt) OVER (PARTITION BY flag) AS n
             |  FROM merged),
             |ps AS (SELECT flag, bucket, cum, n, p.p
             |  FROM cum, (VALUES (50), (90), (99)) p(p)),
             |chosen AS (SELECT flag, CAST(p AS BIGINT) AS p,
             |    MIN(bucket) AS bucket
             |  FROM ps WHERE cum * 100 >= p * n GROUP BY 1, 2),
             |env AS (SELECT flag, p, bucket,
             |    1::BIGINT << CAST(bucket AS INTEGER) AS lo_cents,
             |    (1::BIGINT << CAST(bucket + 1 AS INTEGER)) - 1 AS hi_cents
             |  FROM chosen),
             |ex AS (SELECT flag, CAST(e.p AS BIGINT) AS p,
             |    CASE e.p WHEN 50 THEN e50 WHEN 90 THEN e90 ELSE e99 END
             |      AS exact_cents
             |  FROM (SELECT flag,
             |      percentile_disc(0.50) WITHIN GROUP (ORDER BY c) AS e50,
             |      percentile_disc(0.90) WITHIN GROUP (ORDER BY c) AS e90,
             |      percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS e99
             |    FROM b GROUP BY flag) q, (VALUES (50), (90), (99)) e(p))
             |SELECT env.flag, env.p, env.bucket, env.lo_cents, env.hi_cents,
             |  ex.exact_cents,
             |  ex.exact_cents >= env.lo_cents
             |    AND ex.exact_cents <= env.hi_cents AS contained
             |FROM env JOIN ex ON ex.flag = env.flag AND ex.p = env.p
             |ORDER BY env.flag, env.p""".stripMargin)
    ),
    // Farthest-first coreset selection (round 5) — the DIVERSITY sampling
    // verb the hash-lottery family can't express: stratified/weighted/
    // balanced sampling all draw by metadata, but "pick k examples that
    // COVER the embedding space" (Gonzalez 1985 k-center; sensor-placement
    // / active-learning staple, the anti-near-dup seed set) needs the
    // geometry. Greedy farthest-first in COSINE space: seed = vec_id 0
    // (the q_sim_cosine query convention), then 7 rounds of "add the
    // candidate whose MAX similarity to the selected set is SMALLEST" —
    // the 2-approximation classic, here surfaced as (round, vec_id,
    // max-sim-at-selection): a decreasing-coverage curve that IS the
    // diversity audit.
    //
    // Determinism: every similarity is the native `cosine_sim` expression
    // — bit-identical to DuckDB's list_cosine_similarity (the q_sim_cosine
    // basis); MAX over doubles is order-free; the argmin breaks ties on
    // vec_id (R1); the emitted score is roundz(6) + R8 display only — the
    // selection compares the RAW doubles on both engines.
    //
    // Plan shape (100 TB): k bounded driver fetches of ONE (vec_id,
    // embedding) row each (the Lloyd/PCA bounded-model pattern); each
    // round is one corpus scan scoring greatest-of-k literal vectors (k·N
    // codegen'd dot products, no shuffle) + TakeOrdered(1). The final
    // 8-row relation is driver-built. k stays a constant (8) — coverage
    // curves, not corpus-sized selections.
    GQ(
      "q_sample_coreset",
      (s, d) => {
        import org.apache.spark.sql.functions.typedLit
        val e = Tables.t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        // a corpus without the vec_id-0 seed (e.g. empty table) yields an
        // empty coreset report, not a NoSuchElementException (round-6
        // ADVICE — library-surface hardening; driver corpora always seed)
        val seedOpt = e.filter(col("vec_id") === 0L)
          .select(col("vec_id"), col("embedding")).take(1).headOption
        import s.implicits._
        val picks = scala.collection.mutable.ArrayBuffer[
          (Long, Long, Option[Double])]()
        seedOpt.foreach { seed =>
          var selected: Vector[(Long, Seq[Float])] =
            Vector((seed.getLong(0), seed.getSeq[Float](1)))
          picks += ((0L, seed.getLong(0), None))
          var r = 1L
          var exhausted = false
          while (r <= 7L && !exhausted) {
            val score = selected
              .map { case (_, v) =>
                graft.functions.vec.cosine(col("embedding"), typedLit(v))
              }
              .reduce((a, b) => greatest(a, b))
            // bounded 1-row driver fetch (Lloyd pattern); empty on toy
            // inputs with < 8 vectors — the oracle's empty p_k mirrors it
            val pick = e
              .filter(!col("vec_id").isInCollection(selected.map(_._1)))
              .select(col("vec_id"), col("embedding"), score.as("score"))
              .orderBy(col("score").asc, col("vec_id"))
              .limit(1).take(1)
            if (pick.isEmpty) exhausted = true
            else {
              selected :+= ((pick(0).getLong(0), pick(0).getSeq[Float](1)))
              picks += ((r, pick(0).getLong(0), Some(pick(0).getDouble(2))))
              r += 1
            }
          }
        }
        picks.toSeq.toDF("round", "vec_id", "max_sim")
          .select(col("round"), col("vec_id"),
            graft.functions.vec.roundz(col("max_sim"), 6).as("max_sim"))
          .orderBy(col("round"))
      },
      Some {
        def round(k: Int): String = {
          val prev = s"sel${k - 1}"
          s"""r$k AS MATERIALIZED (SELECT c.vec_id, c.embedding,
             |    MAX(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |      CAST(s.embedding AS DOUBLE[]))) AS score
             |  FROM embeddings c, $prev s
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
             |  GROUP BY 1, 2),
             |p$k AS MATERIALIZED (SELECT vec_id, embedding, score FROM r$k
             |  ORDER BY score ASC, vec_id LIMIT 1),
             |sel$k AS MATERIALIZED (SELECT vec_id, embedding FROM $prev
             |  UNION ALL SELECT vec_id, embedding FROM p$k)""".stripMargin
        }
        s"""WITH sel0 AS MATERIALIZED (SELECT vec_id, embedding
           |  FROM embeddings WHERE vec_id = 0),
           |${(1 to 7).map(round).mkString(",\n")}
           |SELECT * FROM (
           |  SELECT CAST(0 AS BIGINT) AS round, CAST(0 AS BIGINT) AS vec_id,
           |    CAST(NULL AS DOUBLE) AS max_sim
           |  ${(1 to 7).map(k =>
               s"UNION ALL SELECT $k, vec_id, (ROUND(score, 6) + 0.0) FROM p$k")
               .mkString("\n  ")}
           |) ORDER BY round""".stripMargin
      }
    )
  )
}
