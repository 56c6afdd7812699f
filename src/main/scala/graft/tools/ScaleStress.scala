package graft.tools

import java.nio.file.{Files, Paths}

import graft.Registry
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up stress: replicate the sf0.1 tables 10× (keys re-offset so they
  * stay distinct) into /tmp and time the queries whose cost curves could
  * bend — dedup pair generation, winnowing, ANN, the multiway join. This is
  * a perf probe only (inputs are synthetic replicas, not driver data — the
  * DuckDB gate still runs on the real sfDirs).
  *
  * Usage: runMain graft.tools.ScaleStress [copies]
  */
object ScaleStress {
  private val Scaled =
    Seq("documents", "embeddings", "lineitem", "orders", "customer", "events")
  private val Passthrough = Seq("region", "nation", "supplier", "part")

  private val Stressed = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_minhash_pairs",
    "q_dedup_jaccard_words", "q_dedup_jaccard_ngram", "q_dedup_simhash",
    "q_text_winnow", "q_dedup_winnow_pairs", "q_dedup_lsh_verify",
    "q_sim_cosine", "q_sim_ann_ivf",
    "q_sim_ann_lsh", "q_sim_ann_centroids", "q_agg_hash", "q_join_multiway",
    "q_window_rank", "q_topk_per_group", "q_sessionize", "q_join_interval",
    "q_text_rarity", "q_text_ngram_topk", "q_contamination",
    "q_sample_stratified", "q_text_pii_scrub",
    // round 4: the composed funnel (scan-dominated — must stay linear),
    // the iterative CC (rounds × cost growth), and the sessionized dedup
    "q_curation_pipeline", "q_dedup_components", "q_dedup_sessioned",
    // round 4, fourth batch: incremental dedup (asymmetric band join —
    // candidate volume must track new-batch size, not corpus²), PQ ANN
    // (encode is a scan projection — must stay linear), reservoir (one
    // WindowGroupLimit exchange), SCD2 (one dimension-key window)
    "q_dedup_incremental", "q_sim_ann_pq", "q_sample_reservoir",
    "q_scd2_history",
    // round 4, fifth batch: span dedup (span-keyed aggs — linear), the
    // k-NN join (within-cell pairs — cell-size bound), the salted join
    "q_dedup_spans", "q_knn_join", "q_join_skew_salted", "q_dedup_semantic",
    "q_multimodal_frames", "q_text_outliers",
    // round 4, sixth batch: CDC (per-word hash + doc window — linear),
    // KMV (16 rows/source regardless of corpus), TextRank + triangles
    // (vocab-bounded graph, corpus touched once), attribution (one
    // user-keyed window), MAD (two median aggs over a 2-long projection)
    "q_dedup_cdc", "q_set_overlap_kmv", "q_text_textrank",
    "q_graph_triangles", "q_events_attribution", "q_text_mad_outliers",
    "q_shuffle_shards",
    // round 4, eighth batch: PCA (one agg job/round over the persisted
    // quantized array — must stay scan-bound), the fused DQ report, the
    // QI-bounded k-anonymity agg, sliding windows (fixed ×2 explode),
    // CEP journeys (per-user string state — the skew-sensitive one)
    "q_embed_pca", "q_dq_checks", "q_dq_kanonymity", "q_time_sliding",
    "q_events_pattern",
    // round 4, ninth batch: PMI (vocab²-bounded pair agg), event trigrams
    // (one user window + tiny agg), time anomaly (time-bounded bucket
    // relation), histogram quantiles (bucket-bounded — THE percentile
    // scale path), containment (band-candidate-bounded verify), hybrid
    // RRF (two bounded top-100 sides — must stay corpus-scan-bound)
    "q_text_pmi", "q_events_ngrams", "q_time_anomaly", "q_quantile_hist",
    "q_dedup_containment", "q_retrieval_hybrid",
    // round 4, tenth batch: gini (two narrow aggs), markov (one user
    // window + tiny matrix), temperature mixing (source-bounded agg)
    "q_text_gini", "q_events_markov", "q_mix_temperature",
    // round 4, eleventh batch: chi² drift (grid-bounded), EWMA (one
    // window over the time-bounded bucket relation)
    "q_dq_drift", "q_time_ewma",
    // round 4, twelfth batch: BM25 (query-term-bounded postings — one
    // keyed corpus shuffle), entity resolution (blocked edge join +
    // CC rounds — part is a Passthrough table so edges stay constant,
    // probing only the framework overhead at scale), weighted sampling
    // (pure scan + top-k — must be flat-linear), BPE + perplexity
    // (vocab-bounded model tables, corpus touched once)
    "q_retrieval_bm25", "q_entity_resolution", "q_sample_weighted",
    "q_tokenize_bpe", "q_text_perplexity",
    // round 4, thirteenth batch: spatial (cell-bounded candidates — the
    // dense-cell risk), sketch tiles (ONE corpus agg + 256-row tail),
    // link prediction (hub-capped wedges — vocab-bounded), BFS depth
    // (rounds × verbatim-clique edge volume, the components caveat)
    "q_join_spatial", "q_sketch_rollup", "q_graph_linkpred", "q_graph_bfs",
    "q_tokenize_encode",
    // round 4, fourteenth batch: the declared streaming replays — state
    // is (window×type) / per-user-session bounded; AvailableNow paces
    // the 10× backfill in source-governed batches
    "q_stream_tumbling", "q_stream_sessions",
    // round 6: the sliding hop doubles the per-event state writes of
    // tumbling — (open windows × type) must stay bounded at any corpus
    "q_stream_sliding",
    // one-scan fused profile — must stay scan-bound
    "q_dq_profile",
    // round 5: k-core + PageRank (fixed rounds over the vocab-bounded
    // edge relation — loop cost must not scale with corpus), item-item
    // CF (basket-bounded self-join — THE pair-volume risk), NOT IN
    // (the NAAJ build side grows with the corpus — broadcast budget
    // probe), streaks (one user window over distinct days), the
    // day-bounded cusum/seasonal series, linreg (3-row moments agg),
    // l-diversity (QI-bounded), overlap chunking (scan-linear ×64/48),
    // Benford + readability (scan-side projections), and the two new
    // streaming replays (dedup state keys / join state both bounded)
    "q_graph_kcore", "q_graph_pagerank", "q_recs_itemcf", "q_join_not_in",
    "q_events_streak", "q_time_cusum", "q_time_seasonal", "q_stats_linreg",
    "q_dq_ldiversity", "q_chunk_overlap", "q_dq_benford",
    "q_text_readability", "q_stream_dedup", "q_stream_join",
    // round 5, second batch: Hilbert (scan-side integer recurrence —
    // must stay scan-bound like zorder), boolean retrieval (query-term-
    // bounded postings), int8 quantization (×64 explode, broadcast
    // codebook), DAU/MAU (≤×28 fan-out range join over (day, user))
    "q_layout_hilbert", "q_retrieval_boolean", "q_embed_quantize",
    "q_events_dau_mau",
    // round 5, third batch: phrase (query-term-bounded positional join),
    // RFM (user agg + 1-row quintiles), ACF (calendar-bounded series),
    // chi-squared (cell-bounded), RLE audit (one keyed window over the
    // corpus), Zipf (vocab-bounded log2 chain)
    "q_retrieval_phrase", "q_events_rfm", "q_time_acf", "q_stats_chisq",
    "q_compress_rle_audit", "q_text_zipf",
    // round 5, fourth batch: balanced sampling (per-class window),
    // Welch t + FD audit (moment/distinct aggs), assortativity
    // (model-sized edge relation)
    "q_sample_balanced", "q_stats_ttest", "q_dq_funcdep",
    "q_graph_assortativity", "q_dq_entropy", "q_text_rake",
    "q_funnel_windowed", "q_time_theilsen", "q_lm_coverage",
    "q_time_rolling_median", "q_text_llr", "q_text_burstiness",
    "q_intersect_all", "q_stats_corrmat", "q_text_lexdiv",
    "q_join_null_safe", "q_time_weekday_profile", "q_dq_freshness",
    "q_stats_moments", "q_stats_ks", "q_stats_mannwhitney",
    "q_sketch_quantile", "q_stats_bootstrap", "q_dq_referential",
    "q_events_concurrency", "q_sample_coreset", "q_dq_reconcile",
    "q_retrieval_queryexp", "q_embed_centroid", "q_dq_sequence",
    // round 5, fifth batch: map ops (two chained aggs, model-sized map
    // relation), label-prop community (|E|-bounded rounds on the persisted
    // vocab² edges), Poisson bootstrap (31-way scan-side explode, 31-group
    // agg — same shape as q_stats_bootstrap's 61)
    "q_map_ops", "q_graph_community", "q_stats_poissonboot",
    // Brown forecast: calendar-bounded series window, must stay scan-bound
    "q_time_holt",
    // round 6: the staged end-to-end run — two funnel-head scans, one
    // text-bearing persisted hand-off, band-bounded near-dup over the
    // deduped survivors: total cost must stay corpus-linear (its fixed
    // ~2-3 s composition overhead — codegen + AQE stage scheduling for
    // the 9-branch ledger — shrinks RELATIVE to data work as sf grows)
    "q_llm_pipeline",
    // round 7: the daily-run delta — batch-sized near-dup probe against
    // the index bands; cost must track the BATCH (10% of corpus), with
    // the index-state recompute the only corpus-sized term
    "q_llm_pipeline_incremental",
    // round 7: the oracle-graded two-level quantizer at its fixed 16-leaf
    // geometry — three linear assignment passes + a cell-bounded join
    "q_sim_ann_imi",
    // round 8: the declared write-then-serve pair — bucketed writes must
    // stay scan-bound; q_dedup_served's verify volume is band-bounded
    // (verbatim replicas inflate it quadratically per the standard caveat,
    // so it stays OUT of the ×100 risky tier)
    "q_retrieval_served", "q_dedup_served",
    // round 8: product-IMI serving + the reconciled mix/split successor +
    // the append-mode checkpoint restart
    "q_sim_ann_pimi", "q_llm_pipeline_mix", "q_stream_sliding_ckpt",
    // round 9: the ANN write-then-serve lifecycle — per-run train+write is
    // oracle-forced (the serve-only slopes are in BASELINE.md "Retired
    // instruments")
    "q_sim_ann_served", "q_knn_join_served", "q_dedup_semantic_served",
    // round 9: the MAINTAIN lifecycle (delta generations) + the remaining
    // two checkpoint-restart shapes; q_dedup_upsert shares q_dedup_served's
    // verbatim-replica caveat (candidate volume is copies²·texts by
    // construction), so like it, ×10 only — BASELINE.md's round-9
    // "maintain round" records its varied-vocab curve; the stream ckpt
    // shapes' join/session output is replica-correlated the same way
    "q_retrieval_upsert", "q_dedup_upsert", "q_sim_ann_upsert",
    "q_stream_sessions_ckpt", "q_stream_join_ckpt")

  /** The ×100 tier (round 8, VERDICT item 2): the ~30 queries whose scale
    * paths carry the most risk, runnable at 6M docs / 10M events / 60M
    * lineitem inside the sandbox. EXCLUDED BY DOCUMENTED OUTPUT PHYSICS
    * (not by algorithmic fear): every query whose RESULT is quadratic in
    * verbatim replicas — raw-corpus near-dup pair generation
    * (jaccard_words/ngram, minhash_pairs, winnow_pairs, lsh_verify,
    * containment, components, dedup_incremental — ~100 identical copies
    * of every text share all bands, so candidate volume is copies²·texts
    * BY CONSTRUCTION; the varied-vocab probes in BASELINE.md rounds 2-4
    * are the algorithmic-curve evidence for those) and the fixed-region spatial
    * join (same caveat, round 5). The LLM pipelines stay IN: their
    * near-dup stages run over exact-DEDUPED survivors, which collapse
    * the replicas — the scale path a real deployment runs. */
  private val RiskyX100 = Seq(
    // scan/agg/join spine
    "q_agg_hash", "q_join_multiway", "q_join_skew_salted", "q_join_not_in",
    "q_join_interval",
    // windows / events / time
    "q_window_rank", "q_topk_per_group", "q_sessionize", "q_scd2_history",
    "q_events_attribution", "q_events_dau_mau", "q_time_sliding",
    "q_time_cusum", "q_events_concurrency",
    // linear dedup paths (digest agg, per-word CDC, span aggs)
    "q_dedup_exact", "q_dedup_cdc", "q_dedup_spans", "q_dedup_minhash",
    // ANN — 200k vectors ⇒ k = 1600 cells ⇒ the TWO-LEVEL quantizer path
    // end-to-end including training (the round-7 rung under real load)
    "q_sim_cosine", "q_sim_ann_ivf", "q_sim_ann_centroids", "q_knn_join",
    "q_dedup_semantic", "q_sim_ann_pq", "q_sim_ann_lsh",
    // round 9: the served ANN twins — their in-run train+write is the
    // oracle-forced term (a serve-only probe separated it: ×10→×100
    // slopes 2.9/2.0/1.4, strongly sub-linear; BASELINE.md "Retired
    // instruments")
    "q_sim_ann_served", "q_knn_join_served",
    // retrieval (the round-6 slope offender, now index-backed; round 8
    // adds the write-then-serve declared pipeline) + pipelines
    "q_retrieval_bm25", "q_retrieval_queryexp", "q_retrieval_served",
    // round 9: the maintain paths — delta-sized writes + union serving
    // (retrieval) and main-prefix training + frozen-codebook delta
    // assignment (ANN) must both stay corpus-linear
    "q_retrieval_upsert", "q_sim_ann_upsert",
    "q_llm_pipeline", "q_llm_pipeline_incremental", "q_llm_pipeline_mix",
    // curation / sampling / text
    "q_curation_pipeline", "q_contamination", "q_sample_stratified",
    "q_shuffle_shards", "q_text_ngram_topk", "q_tokenize_bpe",
    // streaming at 10M events through the file source, incl. the round-8
    // append-mode checkpoint restart
    "q_stream_tumbling", "q_stream_sliding_ckpt", "q_stream_dedup",
    // vocab-bounded iterative graph — loop cost must not scale with corpus
    "q_graph_kcore")

  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 10
    // list selection: copies ≥ 100 defaults to the risky tier; a second
    // arg of "risky"/"full" forces it (risky-at-×10 gives the slope
    // denominators for the ×100 read)
    val listArg = if (args.length > 1) args(1)
                  else if (copies >= 100) "risky" else "full"
    val stressed = if (listArg == "risky") RiskyX100 else Stressed
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_scale_x$copies"
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // R5 time-basis contract: driver data is TIMESTAMP(MICROS) since round
    // 4, so this flag is usually a no-op — kept only for legacy
    // TIMESTAMP(NANOS) inputs (rounds 1–3), which a plain read refuses;
    // the replication below is schema-agnostic either way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // completion marker, not bare directory existence: a crashed build must
    // not be mistaken for a finished one on rerun
    val marker = Paths.get(dst, "_GRAFT_SCALE_COMPLETE")
    if (!Files.exists(marker)) {
      Files.createDirectories(Paths.get(dst))
      // ONE offset per KEY DOMAIN, derived from the data (a fixed constant
      // silently collides keys once a base key reaches it at larger SFs —
      // round-2 ADVICE). Crucially, a foreign key must be offset by ITS
      // REFERENCED domain's offset, not the owning table's: o_custkey moves
      // by the customer-key offset and l_orderkey by the order-key offset,
      // so copy i's orders still join copy i's customers and lineitems.
      def domainOffset(table: String, key: String): Long =
        spark.read.parquet(s"$src/$table.parquet")
          .agg(max(col(key))).head.getLong(0) + 1
      val orderOff = domainOffset("orders", "o_orderkey")
      val custOff = domainOffset("customer", "c_custkey")
      val userOff = domainOffset("events", "user_id")
      // (table, column -> domain offset); every keyed column listed
      val shifts: Map[String, Seq[(String, Long)]] = Map(
        "documents" -> Seq("doc_id" -> domainOffset("documents", "doc_id")),
        "embeddings" -> Seq("vec_id" -> domainOffset("embeddings", "vec_id")),
        "lineitem" -> Seq("l_orderkey" -> orderOff),
        "orders" -> Seq("o_orderkey" -> orderOff, "o_custkey" -> custOff),
        "customer" -> Seq("c_custkey" -> custOff),
        // distinct users per copy so per-user session/window state scales
        // with the data instead of deepening one user's history
        "events" -> Seq(
          "event_id" -> domainOffset("events", "event_id"),
          "user_id" -> userOff))
      for (t <- Scaled) {
        val base = spark.read.parquet(s"$src/$t.parquet")
        val fixed = (0 until copies).map { i =>
          shifts(t).foldLeft(base) { case (df, (c, off)) =>
            df.withColumn(c, col(c) + lit(i * off))
          }
        }.reduce(_ unionByName _)
        fixed.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
        println(s"[scale] built $t x$copies")
      }
      for (t <- Passthrough) {
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      }
      Files.createFile(marker)
    }

    // warmup (clearCache as in Bench: operator-internal persists are
    // per-plan-instance and would otherwise pile up across the sweep)
    stressed.foreach { n =>
      try Registry.byName(n).run(spark, dst).count()
      catch { case e: Throwable => println(s"[scale] $n FAILED: ${e.getMessage}") }
      spark.catalog.clearCache()
      graft.Caches.release(spark) // drain the tracked-persist registry too
    }
    val timings = stressed.flatMap { n =>
      val t0 = System.nanoTime()
      val r = try {
        val rows = Registry.byName(n).run(spark, dst).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $n%-24s rows=$rows%-8d ${sec}%.2fs")
        Some(n -> sec)
      } catch { case e: Throwable =>
        // a query failing only at scale is this tool's most important
        // signal — report it and keep timing the rest
        println(s"[scale] $n FAILED: ${e.getMessage}")
        None
      }
      spark.catalog.clearCache()
      graft.Caches.release(spark) // drain the tracked-persist registry too
      r
    }
    println(f"[scale] TOTAL ${timings.map(_._2).sum}%.1fs over ${timings.size}/${stressed.size} queries (list=$listArg, x$copies)")
    spark.stop()
  }
}
