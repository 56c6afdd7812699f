package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed golden results on MiniData for representative operators —
  * the values below were derived on paper from the fixture rows, so they
  * check semantics, not just reproducibility (SURVEY.md §5.2-2).
  */
class OperatorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = MiniData.dir

  private def rows(name: String): Seq[Seq[Any]] =
    Registry.byName(name).run(spark, dir).collect().toSeq.map(_.toSeq)

  test("q_agg_hash: TPC-H Q1 shape, exact decimal money math") {
    assert(rows("q_agg_hash") === Seq(
      Seq("A", "F", 36.0, 2000.0, 1800.0, 1L),
      Seq("A", "O", 55.0, 950.0, 864.5, 1L),
      Seq("N", "O", 43.0, 1600.0, 1599.0, 2L),
      Seq("R", "F", 56.0, 3000.0, 2870.0, 3L),
      Seq("R", "O", 29.0, 600.0, 564.0, 1L)))
  }

  test("set ops over customer/supplier nationkeys") {
    assert(rows("q_union_distinct") === Seq(Seq(0), Seq(1), Seq(2), Seq(3)))
    assert(rows("q_intersect") === Seq(Seq(1), Seq(3)))
    assert(rows("q_except") === Seq(Seq(0), Seq(2)))
    // bag intersection keeps min multiplicity: nations 1 and 3 each have
    // one supplier against 1 customer -> matched once apiece
    assert(rows("q_intersect_all") === Seq(Seq(1, 1L), Seq(3, 1L)))
  }

  test("join family: anti finds the orderless customer, semi the F-status ones") {
    assert(rows("q_join_anti") === Seq(Seq(5L)))
    assert(rows("q_join_semi") === Seq(Seq(1L), Seq(2L)))
    assert(rows("q_join_left_outer") === Seq(
      Seq(1L, 2L), Seq(2L, 2L), Seq(3L, 1L), Seq(4L, 1L), Seq(5L, 0L)))
    // ASIA has no nations -> absent from the inner broadcast join
    assert(rows("q_join_broadcast") === Seq(Seq("AFRICA", 2L), Seq("AMERICA", 2L)))
  }

  test("q_join_theta: equi key + range residual") {
    // qualifying (l_partkey, l_quantity) pairs: (1,17),(3,40),(1,8),(3,55)
    assert(rows("q_join_theta") === Seq(Seq("Brand#1", 4L)))
  }

  test("q_dedup_exact keeps min doc_id per distinct text") {
    assert(rows("q_dedup_exact") === Seq(Seq(1L), Seq(3L), Seq(4L), Seq(5L), Seq(6L)))
  }

  test("q_dedup_cluster: the duplicate pair forms one group with min-id canonical") {
    // sf corpora carry no exact duplicates (their q_dedup_cluster output is
    // legitimately empty and the oracle agrees); MiniData's docs 1/2 share
    // text, pinning the semantics here.
    assert(rows("q_dedup_cluster") === Seq(Seq(1L, 2L)))
  }

  test("q_sim_cosine: known geometry (parallel=1.0, orthogonal=0.0)") {
    assert(rows("q_sim_cosine") === Seq(
      Seq(5L, 1.0), Seq(2L, 0.707), Seq(4L, 0.216), Seq(1L, 0.0), Seq(3L, 0.0)))
  }

  test("q_dedup_jaccard_words: identical docs score jaccard 1.0 first") {
    assert(rows("q_dedup_jaccard_words").head === Seq(1L, 2L, 1.0))
  }

  test("q_time_tumbling: exact integer hour buckets over nanos") {
    assert(rows("q_time_tumbling") === Seq(
      Seq(1704067200L, "click", 1L, 0.25),
      Seq(1704067200L, "error", 1L, 1.5),
      Seq(1704067200L, "purchase", 1L, 185.22),
      Seq(1704070800L, "purchase", 1L, 99.99),
      Seq(1704070800L, "signup", 1L, 0.0),
      Seq(1704070800L, "view", 1L, 2.75)))
  }

  test("q_window_lag: per-user chain with null head") {
    assert(rows("q_window_lag") === Seq(
      Seq(10L, 1L, null), Seq(10L, 2L, 185.22), Seq(10L, 4L, 1.5),
      Seq(11L, 3L, null), Seq(11L, 6L, 0.25),
      Seq(12L, 5L, null)))
  }

  test("q_text_langid: marker argmax with en-first tie precedence") {
    val byDoc = rows("q_text_langid").map(r => r.head -> (r(1), r(2), r(3), r(4))).toMap
    assert(byDoc(1L) === ((1L, 0L, 0L, "en")))
    assert(byDoc(3L) === ((0L, 5L, 0L, "de")))
    assert(byDoc(4L) === ((0L, 0L, 6L, "es")))
    assert(byDoc(5L) === ((0L, 0L, 0L, "en"))) // all-zero tie -> en precedence
  }

  test("q_dedup_components: identical docs form one component, min id canonical") {
    import org.apache.spark.sql.Row
    // MiniData docs 1/2 share text verbatim (jaccard 1.0 edge); docs 3/6
    // share one 3-gram only (jaccard < 0.5 -> NOT an edge)
    val comps = Registry.byName("q_dedup_components").run(spark, dir)
      .collect().map { case Row(c: Long, n: Long) => (c, n) }
    assert(comps === Array((1L, 2L)))
  }

  test("q_dedup_sessioned: within-session first-of-type kept, hour gap splits") {
    // MiniData events: users 10/11 span both hour buckets (gap 1h > 30min
    // -> two sessions each); no session repeats an event type, so every
    // group keeps its sole event with zero drops — the hand-derivable
    // baseline; the sf oracles exercise real duplicate counts
    assert(rows("q_dedup_sessioned") === Seq(
      Seq(10L, 1L, "error", 2L, 0L),
      Seq(10L, 1L, "purchase", 1L, 0L),
      Seq(10L, 2L, "view", 4L, 0L),
      Seq(11L, 1L, "click", 3L, 0L),
      Seq(11L, 2L, "purchase", 6L, 0L),
      Seq(12L, 1L, "signup", 5L, 0L)))
  }

  test("q_funnel: only user 12 signs up, and converts no further") {
    // MiniData: signup = e5 (user 12), who has no later view/click/purchase
    assert(rows("q_funnel") === Seq(
      Seq("1_signup", 1L), Seq("2_view", 0L),
      Seq("3_click", 0L), Seq("4_purchase", 0L)))
  }

  test("q_cohort_retention: all three users cohort on day 19723, offset 0") {
    // 1704067200 s = day 19723 = week 2817; both hour buckets land in it
    assert(rows("q_cohort_retention") === Seq(Seq(2817L, 0L, 3L)))
  }

  test("q_time_gapfill: dense 2-hour grid, carry-forward fills the gaps") {
    // hours 473352/473353; click+error only in h0 (carried into h1),
    // signup+view only in h1 (leading gap stays null), purchase in both
    assert(rows("q_time_gapfill") === Seq(
      Seq("click", 1704067200L, 1L, 0.25),
      Seq("click", 1704070800L, 0L, 0.25),
      Seq("error", 1704067200L, 1L, 1.5),
      Seq("error", 1704070800L, 0L, 1.5),
      Seq("purchase", 1704067200L, 1L, 185.22),
      Seq("purchase", 1704070800L, 1L, 99.99),
      Seq("signup", 1704067200L, 0L, null),
      Seq("signup", 1704070800L, 1L, 0.0),
      Seq("view", 1704067200L, 0L, null),
      Seq("view", 1704070800L, 1L, 2.75)))
  }

  test("q_window_ignore_nulls: purchase-k carried forward and backward") {
    // purchases: e1 (user 10, k=7), e6 (user 11, k=3); all other ks null
    assert(rows("q_window_ignore_nulls") === Seq(
      Seq(10L, 1L, 7, 7), Seq(10L, 2L, 7, null), Seq(10L, 4L, 7, null),
      Seq(11L, 3L, null, 3), Seq(11L, 6L, 3, 3),
      Seq(12L, 5L, null, null)))
  }

  test("q_agg_stats: moments from exact decimal sums, stats from one IEEE tree") {
    // hand-derived moment sums per flag (quantity, discount):
    //   A: n=2 sx=91 sy=0.19 sxx=4321   sxy=8.55 syy=0.0181
    //   N: n=2 sx=43 sy=0.01 sxx=1609   sxy=0.03 syy=0.0001
    //   R: n=4 sx=85 sy=0.20 sxx=2155   sxy=3.77 syy=0.0114
    // expected values re-derived here through the SAME double-op tree the
    // query declares, from exact-sum literals — pins the formula, and any
    // accumulation-order drift in the engine would break the equality
    def stats(n: Double, sx: Double, sy: Double, sxx: Double, sxy: Double,
        syy: Double): Seq[Double] = {
      val (dxx, dyy, dxy) =
        (n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy)
      Seq(dxy / math.sqrt(dxx * dyy), dxy / (n * (n - 1)),
        math.sqrt(dxx / (n * (n - 1))), math.sqrt(dyy / (n * (n - 1))))
    }
    assert(rows("q_agg_stats") === Seq(
      Seq[Any]("A", 2L) ++ stats(2, 91, 0.19, 4321, 8.55, 0.0181),
      Seq[Any]("N", 2L) ++ stats(2, 43, 0.01, 1609, 0.03, 0.0001),
      Seq[Any]("R", 4L) ++ stats(4, 85, 0.20, 2155, 3.77, 0.0114)))
  }

  test("q_agg_median_mode: lowest-value mode tie-break, interpolated median") {
    // A: qtys {36,55} tie -> mode 36, median 45.5; N: {40,3} -> 3, 21.5;
    // R: {17,8,31,29} all once -> 8, median (17+29)/2 = 23
    assert(rows("q_agg_median_mode") === Seq(
      Seq("A", 36.0, 45.5), Seq("N", 3.0, 21.5), Seq("R", 8.0, 23.0)))
  }

  test("q_dsir_affinity: gram counts per doc, affinity is the exact ratio") {
    // bigram occurrence counts are hand-derivable (words-1, short doc -> 1):
    // docs 1..6 have 6,6,8,8,2,6 words -> 5,5,7,7,1,5 bigrams; affinity
    // must equal n_enriched/n_grams bit-exactly and sort descending
    // (enrichment itself depends on md5 bucket collisions — pinned by the
    // DuckDB oracle at the sf levels, not hand-derivable here)
    import org.apache.spark.sql.Row
    val out = Registry.byName("q_dsir_affinity").run(spark, dir).collect()
    val expectedGrams = Map(1L -> 5L, 2L -> 5L, 3L -> 7L, 4L -> 7L,
      5L -> 1L, 6L -> 5L)
    assert(out.map(_.getLong(0)).toSet === expectedGrams.keySet)
    out.foreach { case Row(id: Long, n: Long, e: Long, aff: Double) =>
      assert(n === expectedGrams(id))
      assert(e >= 0L && e <= n)
      assert(aff === e.toDouble / n.toDouble)
    }
    val affs = out.map(_.getDouble(3))
    assert(affs.zip(affs.tail).forall { case (x, y) => x >= y })
  }

  test("q_dedup_semantic: within-cell pairs only, ordered ids") {
    // MiniData's 4-dim vectors exercise the plan shape (value-level
    // correctness is the DuckDB oracle's job on the real 64-dim corpora):
    // every emitted pair must come from one shared cell with a_id < b_id
    import org.apache.spark.sql.Row
    val out = Registry.byName("q_dedup_semantic").run(spark, dir).collect()
    out.foreach { case Row(_, a: Long, b: Long, _) => assert(a < b) }
    assert(out.length <= 20)
  }

  test("q_pack_chunks: exact prefix-sum chunk spans per language stream") {
    // word counts: de docs 3,6 -> 8,6; en docs 1,2,5 -> 6,6,2; es doc 4 -> 8;
    // all streams far below the 512 cap -> every doc lands in chunk 0
    assert(rows("q_pack_chunks") === Seq(
      Seq("de", 3L, 8L, 0L, 0L), Seq("de", 6L, 6L, 0L, 0L),
      Seq("en", 1L, 6L, 0L, 0L), Seq("en", 2L, 6L, 0L, 0L),
      Seq("en", 5L, 2L, 0L, 0L),
      Seq("es", 4L, 8L, 0L, 0L)))
  }

  test("q_mix_weights: uniform token target, rate capped at 1") {
    // tokens: de=14 en=14 es=8, total=36 over 3 langs -> target 12.0;
    // expected values derived through the same fixed IEEE tree the query
    // declares (floor(toks*rate) rides the rounded double, not exact 12)
    val rDe = math.min(1.0, (36.0 / 3.0) / 14.0)
    val keptDe = math.floor(14.0 * rDe).toLong
    assert(rows("q_mix_weights") === Seq(
      Seq("de", 2L, 14L, rDe, keptDe),
      Seq("en", 3L, 14L, rDe, keptDe),
      Seq("es", 1L, 8L, 1.0, 8L)))
  }

  test("q_merge_upsert: matched key re-priced, unmatched base passes through") {
    // only key 105 is a multiple of 7 (update -> 'X', 750.75*1.1 = 825.825);
    // no key is a multiple of 97 (no inserts)
    assert(rows("q_merge_upsert") === Seq(
      Seq(100L, "F", 1000.50), Seq(101L, "O", 2000.25),
      Seq(102L, "F", 1500.00), Seq(103L, "P", 300.10),
      Seq(104L, "O", 1000.50), Seq(105L, "X", 825.825)))
  }

  test("componentLabels: empty edge set yields empty labels, no NPE") {
    // round-3 ADVICE: labelSum on an empty relation returned null and the
    // first compareTo threw — the coalesce-to-zero path must converge to
    // an empty result instead (the oracle emits zero rows there)
    import TestSpark.spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(graft.operators.Dedup.componentLabels(edges).collect().isEmpty)
  }

  test("componentLabels: deep chain and disjoint components (pointer jumping)") {
    import TestSpark.spark.implicits._
    // a 21-vertex path — worst-case diameter for its size; pointer jumping
    // must still converge (plain propagation needs 20 rounds, the 50-round
    // cap would pass either way; the round count for planted chains is
    // recorded in BASELINE.md round 4; here we pin correctness)
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = graft.operators.Dedup.componentLabels(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 21)
    assert(labels.forall(_._2 == 0L), "every chain vertex joins component 0")
    // two disjoint chains keep distinct min labels
    val two = ((0L until 5L).map(i => (i, i + 1)) ++
      (10L until 15L).map(i => (i, i + 1))).toDF("a_id", "b_id")
    val m = graft.operators.Dedup.componentLabels(two).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 5L).forall(m(_) == 0L) && (10L to 15L).forall(m(_) == 10L))
  }

  test("bfsHops: chain depths, star depths, and cycle shortcut from the root") {
    import TestSpark.spark.implicits._
    // 1-2-3-4-5 path (hops = position), a 3-leaf star at 10, and a
    // 20-21-22-23-20 cycle where both directions reach 22 in 2 hops
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      Seq((10L, 11L), (10L, 12L), (10L, 13L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L)))
      .toDF("a_id", "b_id")
    val out = graft.operators.Dedup.bfsHops(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((1L, 0L)) && out(2L) === ((1L, 1L)) &&
      out(3L) === ((1L, 2L)) && out(4L) === ((1L, 3L)) && out(5L) === ((1L, 4L)))
    assert(out(10L) === ((10L, 0L)) &&
      Seq(11L, 12L, 13L).forall(out(_) === ((10L, 1L))))
    assert(out(20L) === ((20L, 0L)) && out(21L) === ((20L, 1L)) &&
      out(22L) === ((20L, 2L)) && out(23L) === ((20L, 1L)))
  }

  test("q_tokenize_encode: token accounting brackets and merge effectiveness") {
    val out = Registry.byName("q_tokenize_encode").run(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 1 "the fast key order sort merge": 6 words, 24 letters
    val (w1, c1, t1, f1) = out(1L)
    assert(w1 === 6L && c1 === 24L)
    assert(t1 >= w1 && t1 < c1, s"5 merges must compress below chars: $t1")
    assert(f1 === t1.toDouble / w1)
    // merges can only help: every doc tokenizes at or below char level,
    // and the corpus as a whole strictly below (>=1 effective merge)
    assert(out.values.forall { case (w, c, t, _) => t >= w && t <= c })
    assert(out.values.map(_._3).sum < out.values.map(_._2).sum)
  }

  test("q_text_repetition: gram accounting with short-doc guard") {
    import org.apache.spark.sql.Row
    val rows = Registry.byName("q_text_repetition").run(spark, dir)
      .collect().map { case Row(id: Long, n: Long, d: Long, f: Double, s: Double) =>
        id -> ((n, d, f, s))
      }.toMap
    // doc 1: 6 words -> 4 grams, all distinct -> dup 0, top share 1/4
    assert(rows(1L) === ((4L, 4L, 0.0, 0.25)))
    // doc 5: "two words" (<3 words) -> single whole-text item
    assert(rows(5L) === ((1L, 1L, 0.0, 1.0)))
  }

  private def floats(xs: Float*): Column = array(xs.map(x => lit(x)): _*)

  test("native cosine_sim expression: null and zero-norm edges") {
    import graft.functions.vec
    val out = spark.range(1).select(
      vec.cosine(floats(0f, 0f), floats(1f, 2f)).as("zero_norm"),
      vec.cosine(lit(null).cast("array<float>"), floats(1f)).as("null_in"),
      vec.cosine(floats(1f, 2f), floats(1f, 2f)).as("same"))
      .collect().head
    assert(out.getDouble(0) === 0.0)
    assert(out.isNullAt(1))
    assert(math.abs(out.getDouble(2) - 1.0) < 1e-12)
  }

  test("cosine_sim yields NULL for mismatched lengths (round-3 ADVICE fix)") {
    // round 2 scored the common prefix (this pair evaluated to exactly 1.0
    // — a plausible-looking wrong answer); mismatched dims now surface as
    // NULL so external SQL callers can't silently mix 64-dim and 128-dim
    val out = spark.range(1).select(graft.functions.vec.cosine(
      floats(1f, 0f), floats(1f, 0f, 7f)).as("mismatch")).collect().head
    assert(out.isNullAt(0))
  }

  test("q_dedup_spans: duplicated whole-text spans flagged, unique docs clean") {
    // docs 1/2 share their (sub-10-word) text, so each one's single span
    // occurs in 2 distinct docs; every other doc's span is unique
    assert(rows("q_dedup_spans") === Seq(
      Seq(1L, 1L, 1L, 1.0), Seq(2L, 1L, 1L, 1.0),
      Seq(3L, 1L, 0L, 0.0), Seq(4L, 1L, 0L, 0.0),
      Seq(5L, 1L, 0L, 0.0), Seq(6L, 1L, 0L, 0.0)))
  }

  test("q_scd2_history: effective-dated versions, open-ended current row") {
    // hand-derived UTC epochs: 1995-03-15=795225600, 1996-07-01=836179200,
    // 1997-11-30=880848000, 1998-01-02=883699200, 1999-12-31=946598400;
    // each closed version's valid_to = successor's valid_from - 1
    assert(rows("q_scd2_history") === Seq(
      Seq(1L, 100L, 1000.50, 795225600L, 1L, 836179199L, false),
      Seq(1L, 101L, 2000.25, 836179200L, 2L, null, true),
      Seq(2L, 102L, 1500.00, 795225600L, 1L, 946598399L, false),
      Seq(2L, 105L, 750.75, 946598400L, 2L, null, true),
      Seq(3L, 103L, 300.10, 880848000L, 1L, null, true),
      Seq(4L, 104L, 1000.50, 883699200L, 1L, null, true)))
  }

  test("q_sample_reservoir: each stratum keeps min(n, k) docs, ranks contiguous") {
    val r = rows("q_sample_reservoir")
    // MiniData strata: en={1,2,5}, de={3,6}, es={4} — all below k=5, so the
    // sample is the whole stratum; what the query pins is the deterministic
    // hash-rank assignment (contiguous from 1, no duplicate ranks)
    val byLang = r.groupBy(_.head.asInstanceOf[String])
    assert(byLang.keySet === Set("en", "de", "es"))
    assert(byLang("en").map(_(2)).toSet === Set(1L, 2L, 3L))
    assert(byLang("de").map(_(2)).toSet === Set(1L, 2L))
    assert(byLang("es").map(_(2)) === Seq(1L))
    assert(byLang("en").map(_(1)).toSet === Set(1L, 2L, 5L))
  }

  test("q_dq_benford: first significant digits of the six order totals") {
    // totals 1000.50, 2000.25, 1500.00, 300.10, 1000.50, 750.75
    // → digits 1,2,1,3,1,7 → counts 1→3, 2→1, 3→1, 7→1 over 6
    assert(rows("q_dq_benford") === Seq(
      Seq(1, 3L, 3.0 / 6.0), Seq(2, 1L, 1.0 / 6.0),
      Seq(3, 1L, 1.0 / 6.0), Seq(7, 1L, 1.0 / 6.0)))
  }

  test("q_text_readability: hand-counted words/sentences/vowel-groups per doc") {
    // no sentence marks in any fixture doc → n_sents floors to 1
    def fk(w: Long, s: Long, y: Long): Double =
      0.39 * (w.toDouble / s.toDouble) + 11.8 * (y.toDouble / w.toDouble) - 15.59
    val expected = Seq(
      (1L, 6L, 8L),  // the(1) fast(1) key(1) order(2) sort(1) merge(2)
      (2L, 6L, 8L),  // identical text
      (3L, 8L, 9L),  // der hund und die katze(2) ist nicht hier
      (4L, 8L, 11L), // el perro(2) es una(2) casa(2) que la los
      (5L, 2L, 2L),  // two words
      (6L, 6L, 8L))  // die katze(2) ist nicht hier heute(2)
      .map { case (id, w, y) => Seq(id, w, 1L, y, fk(w, 1L, y)) }
    assert(rows("q_text_readability") === expected)
  }

  test("q_chunk_overlap: sub-48-token docs are exactly one whole-doc chunk") {
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String): Long =
      graft.functions.CdcChunks.h60(UTF8String.fromString(s))
    val texts = Map(
      1L -> "the fast key order sort merge",
      2L -> "the fast key order sort merge",
      3L -> "der hund und die katze ist nicht hier",
      4L -> "el perro es una casa que la los",
      5L -> "two words",
      6L -> "die katze ist nicht hier heute")
    val expected = Seq(1L, 2L, 3L, 4L, 5L, 6L).map { id =>
      val n = texts(id).split(" ", -1).length.toLong
      Seq(id, 0L, 0L, n, h(texts(id))) // one chunk: id 0, start 0, whole doc
    }
    assert(rows("q_chunk_overlap") === expected)
  }

  test("q_stream_dedup: (user, type, minute) activity keys of the six events") {
    val m0 = 1704067200L / 60 // 2024-01-01 00:00 UTC, minutes
    assert(rows("q_stream_dedup") === Seq(
      Seq(10L, "error", m0), Seq(10L, "purchase", m0), Seq(10L, "view", m0 + 60),
      Seq(11L, "click", m0), Seq(11L, "purchase", m0 + 60),
      Seq(12L, "signup", m0 + 60)))
  }

  test("q_graph_pagerank matches an independent sequential integer PageRank") {
    // hand-derived edge set (co-occurrence ≥ 2): docs 1+2 share all four
    // trigram bigram-pairs of "the fast key order sort merge"; docs 3+6
    // share the three of "die katze ist nicht hier" — two path components
    val edges = Seq(
      ("fast key", "the fast"), ("fast key", "key order"),
      ("key order", "order sort"), ("order sort", "sort merge"),
      ("die katze", "katze ist"), ("ist nicht", "katze ist"),
      ("ist nicht", "nicht hier"))
    val sym = edges ++ edges.map(_.swap)
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank: Map[String, Long] = deg.map { case (n, _) => n -> 1000000L }
    for (_ <- 1 to 5) {
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) * 17 / (20 * deg(src)) }.sum
      }
      rank = rank.map { case (n, _) => n -> (150000L + contrib.getOrElse(n, 0L)) }
    }
    val expected = rank.toSeq.sortBy { case (n, r) => (-r, n) }
      .map { case (n, r) => Seq(n, r) }
    assert(rows("q_graph_pagerank") === expected)
  }

  test("q_stats_linreg: OLS per returnflag matches the closed-form moments") {
    // expected replicates the query's exact IEEE tree over hand-summed
    // integer moments (all < 2^53, so the doubles are exact) — two-point
    // groups A and N must come out with r2 = 1.0 exactly
    def ols(n: Long, sx: Double, sy: Double, sxx: Double, sxy: Double,
        syy: Double): Seq[Any] = {
      val nD = n.toDouble
      val covn = nD * sxy - sx * sy
      val varx = nD * sxx - sx * sx
      val vary = nD * syy - sy * sy
      val slope = covn / varx
      def r6(v: Double) =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0
      Seq(n, r6(slope), r6((sy - slope * sx) / nD),
        r6(covn * covn / (varx * vary)))
    }
    assert(rows("q_stats_linreg") === Seq(
      "A" +: ols(2, 91, 2950, 4321, 124250, 4902500),
      "N" +: ols(2, 43, 1600, 1609, 60300, 2260000),
      "R" +: ols(4, 85, 3600, 2155, 78000, 3440000)))
  }

  test("q_time_seasonal: single-day fixture has no day-7 ancestor -> empty") {
    assert(rows("q_time_seasonal") === Seq())
  }

  test("q_dq_ldiversity: every 1-customer class violates l=3; bands exact") {
    // cents +10^6 div 10^5 - 10: 100.25->0, -50.10->-1, 0.00->0,
    // 999.99->0, 10.00->0; all five (nation, segment) classes are
    // singletons -> flagged; total row carries 5 members at risk
    assert(rows("q_dq_ldiversity") === Seq(
      Seq(-1L, "__total__", 5L, 5L),
      Seq(0L, "AUTOMOBILE", 1L, 1L),
      Seq(0L, "BUILDING", 1L, 1L),
      Seq(1L, "AUTOMOBILE", 1L, 1L),
      Seq(2L, "BUILDING", 1L, 1L),
      Seq(3L, "MACHINERY", 1L, 1L)))
  }

  test("q_events_streak: one active day per user -> three streaks of 1") {
    val day = 1704067200L / 86400
    assert(rows("q_events_streak") === Seq(
      Seq(10L, 1L, day, day), Seq(11L, 1L, day, day), Seq(12L, 1L, day, day)))
  }

  test("q_graph_kcore: fixture path components peel to nothing at the k=2 floor") {
    // the 7-edge fixture graph (pagerank spec) has meandeg 14 div 9 = 1,
    // so the adaptive k floors at 2; path components have no 2-core
    // (leaves peel, exposing new leaves, until nothing remains)
    assert(rows("q_graph_kcore") === Seq())
  }

  test("q_join_not_in: parts with a qty>=48 shipment are excluded") {
    // only lineitem qty >= 48 is the 55 on partkey 3 -> parts 1 and 2 stay
    assert(rows("q_join_not_in") === Seq(
      Seq(1L, "ivory part"), Seq(2L, "azure part")))
  }

  test("q_time_cusum: single-day series has cusum 0 and flags itself") {
    assert(rows("q_time_cusum") === Seq(Seq(19723L, 6L, 0L, true)))
  }

  test("q_events_dau_mau: single active day -> dau = mau, stickiness 1000") {
    assert(rows("q_events_dau_mau") === Seq(Seq(19723L, 3L, 3L, 1000L)))
  }

  test("q_recs_itemcf: the one co-purchased pair recommends both ways") {
    // baskets {1,2},{3},{1,2},{3},{1},{2}: only pair (1,2) with n_ab=2,
    // deg(1)=deg(2)=3 -> cosine 2/3; part 3 never co-occurs -> absent
    assert(rows("q_recs_itemcf") === Seq(
      Seq(1L, 1L, 2L, 2L, 0.666667), Seq(2L, 1L, 1L, 2L, 0.666667)))
  }

  test("q_retrieval_boolean: only the key-order-sort docs conjoin; no slow") {
    // docs 1/2 contain all of {key, order, sort} once each (tf 3); no
    // fixture doc contains 'slow'
    assert(rows("q_retrieval_boolean") === Seq(Seq(1L, 3L), Seq(2L, 3L)))
  }

  test("q_embed_quantize: hand-quantized 4-dim codes (min-max per dim)") {
    // dim0 range [0,2], dims1-3 [0,1]; codes floor((v-mn)*255/(mx-mn))
    // with float->double cast: 0.2f -> 25, 0.5 -> 63 (dim0) / 127 (dim1),
    // 0.1f -> 25, 0.9f -> 229; saturated = codes hitting 0 or 255
    assert(rows("q_embed_quantize") === Seq(
      Seq(0L, 0, 127L, 3L), Seq(1L, 1, 255L, 4L), Seq(2L, 2, 190L, 2L),
      Seq(3L, 3, 510L, 4L), Seq(4L, 4, 279L, 1L), Seq(5L, 5, 255L, 4L)))
  }

  test("q_sim_ann_pq: full top-3 per query, exact rescore distances sorted and finite") {
    // round 7: output is (query_id, neighbor_id, approx_d2, exact_d2, rn)
    // and ranks on the EXACT rescored d² — the ADC approx_d2 rides along
    // for observability and need not ascend (that is the point of the
    // rescore: ADC ordering is approximate)
    val r = rows("q_sim_ann_pq")
    assert(r.length === 5 * 3)
    val byQ = r.groupBy(_.head.asInstanceOf[Long])
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    for ((q, rs) <- byQ) {
      assert(rs.map(_(4)) === Seq(1L, 2L, 3L), s"query $q rank sequence")
      val ex = rs.map(_(3).asInstanceOf[Double])
      assert(ex === ex.sorted, s"query $q exact distances must ascend")
      assert(ex.forall(x => x >= 0.0 && !x.isNaN), s"query $q exact distances sane")
      val ad = rs.map(_(2).asInstanceOf[Double])
      assert(ad.forall(x => x >= 0.0 && !x.isNaN), s"query $q ADC distances sane")
      assert(!rs.map(_(1)).contains(q), s"query $q must exclude itself")
    }
  }

  test("q_retrieval_phrase: adjacency, not co-occurrence") {
    // docs 1/2 contain BOTH query terms ("fast" at pos 2, "order" at pos 4)
    // but never adjacently — a bag-of-words AND would return them; the
    // positional intersection must return nothing
    assert(rows("q_retrieval_phrase") === Seq())
  }

  test("q_events_rfm: two purchasers, same day, split by monetary quintiles") {
    // purchases: user 10 (185.22), user 11 (99.99), both on day 19723.
    // rec/freq cuts all tie -> rq=fq=1; monetary cuts (2 users,
    // percentile_disc cume>=p): m2=m4=99.99, m6=m8=185.22 -> user 10
    // scores 1+2 strict-greater hits = 3, user 11 scores 1
    assert(rows("q_events_rfm") === Seq(
      Seq(1L, 1L, 1L, 1L, 99.99), Seq(1L, 1L, 3L, 1L, 185.22)))
  }

  test("q_time_acf: single aligned pair has zero variance -> NULL r") {
    // hourly counts: only purchase occurs in BOTH hours (h0 and h1), one
    // pair at lag 1; n=1 makes varX=0 so acf is NULL by contract; every
    // other (type, lag) has no aligned pair and drops out
    assert(rows("q_time_acf") === Seq(Seq("purchase", 1L, 1L, null)))
  }

  test("q_stats_chisq: hand-computed cell contributions on 6 orders") {
    // cells (priority, status, o): (1-URGENT,F,2) (2-HIGH,O,2)
    // (3-MEDIUM,O,1) (5-LOW,P,1); N=6; contribution (oN-rc)^2/(rcN):
    // 64/24, 36/36, 9/18, 25/6
    assert(rows("q_stats_chisq") === Seq(
      Seq("1-URGENT", "F", 2L, 2.666667),
      Seq("2-HIGH", "O", 2L, 1.0),
      Seq("3-MEDIUM", "O", 1L, 0.5),
      Seq("5-LOW", "P", 1L, 4.166667)))
  }

  test("q_compress_rle_audit: hand-counted runs under the per-order window") {
    // 8 rows; runs per order summed: returnflag 7 (order 100 breaks R->A),
    // linestatus 6 (never breaks inside an order), quantity 8 (all differ)
    assert(rows("q_compress_rle_audit") === Seq(
      Seq("l_linestatus", 8L, 6L, 1.333333),
      Seq("l_quantity", 8L, 8L, 1.0),
      Seq("l_returnflag", 8L, 7L, 1.142857)))
  }

  test("q_text_zipf: BigInt-replayed dyadic-log2 OLS on the 25-word fixture") {
    // 11 words at freq 2, 14 at freq 1; expected values replayed with the
    // identical integer recurrence (e = bitlen-1, 10 mantissa squarings)
    // outside Spark, then the same IEEE moment tree
    assert(rows("q_text_zipf") === Seq(Seq(25L, -0.3328, 1.553867)))
  }

  test("q_sample_balanced: min class (es, 1 doc) caps every language at 1") {
    // h60('bal:'||doc_id) replayed outside Spark picks doc 3 (de), doc 1
    // (en), doc 4 (es); chars/h_first are those docs' values
    assert(rows("q_sample_balanced") === Seq(
      Seq("de", 1L, 38L, 928987367076988962L),
      Seq("en", 1L, 30L, 2348465831355491L),
      Seq("es", 1L, 31L, 481964563842313904L)))
  }

  test("q_stats_ttest: hand-computed Welch t; single-order status P -> NULL") {
    // F {1000.50, 1500.00} vs O {2000.25, 1000.50, 750.75}: means differ
    // by -0.25 against se sqrt(62375.0625 + 145729.1875) -> -0.000548;
    // P has n=1 (no sample variance) so both its pairs are NULL
    assert(rows("q_stats_ttest") === Seq(
      Seq("F", "O", 2L, 3L, -0.000548),
      Seq("F", "P", 2L, 1L, null),
      Seq("O", "P", 3L, 1L, null)))
  }

  test("q_dq_funcdep: the unique-key FD holds exactly, soft FDs report rates") {
    // hand-derived: custkeys 1,2 order at two priorities (2/4 violate);
    // order 100 mixes returnflags R,A (1/6); nation 0 mixes segments (1/4);
    // o_orderkey is unique so its FD holds with rate 0
    assert(rows("q_dq_funcdep") === Seq(
      Seq("c_nationkey->c_mktsegment", 4L, 1L, 0.25),
      Seq("l_orderkey->l_returnflag", 6L, 1L, 1.0 / 6.0),
      Seq("o_custkey->o_orderpriority", 4L, 2L, 0.5),
      Seq("o_orderkey->o_orderstatus", 6L, 0L, 0.0)))
  }

  test("q_dq_entropy: dyadic-log2 entropy replayed by hand on the fixture") {
    // per-column value counts hand-tallied; hq = Σ c·log2q(N/c) replayed
    // with the integer recurrence outside Spark (lang [2,3,1] → 8965,
    // source [3,3] → 6144 = exactly 1.0 bit, event_type [1,1,2,1,1] →
    // 13834, o_orderpriority [2,2,1,1] → 11786); bits = hq/(N·1024)
    assert(rows("q_dq_entropy") === Seq(
      Seq("documents.lang", 6L, 3L, 8965.0 / (6 * 1024.0)),
      Seq("documents.source", 6L, 2L, 1.0),
      Seq("events.event_type", 6L, 5L, 13834.0 / (6 * 1024.0)),
      Seq("orders.o_orderpriority", 6L, 4L, 11786.0 / (6 * 1024.0))))
  }

  test("q_funnel_windowed: only the signup stage fires on the fixture") {
    // user 12 signs up but never views; users 10/11 view/click/purchase
    // without any signup — every later stage requires a signup within 24h
    assert(rows("q_funnel_windowed") === Seq(
      Seq("1_signup", 1L), Seq("2_view", 0L),
      Seq("3_click", 0L), Seq("4_purchase", 0L)))
  }

  test("q_text_rake matches a sequential replay on the fixture corpus") {
    // RAKE recomputed outside Spark: phrases split at {the, a, is, of},
    // degree = sum of phrase lengths containing the word, score = deg/freq
    val texts = Seq(
      "the fast key order sort merge", "the fast key order sort merge",
      "der hund und die katze ist nicht hier",
      "el perro es una casa que la los", "two words",
      "die katze ist nicht hier heute")
    val stops = Set("the", "a", "is", "of")
    val words = texts.flatMap { t =>
      // split into stopword-delimited phrases, keep (word, phraseLen)
      val phrases = t.split(" ").foldLeft(List(List.empty[String])) {
        case (acc, w) if stops(w) => Nil :: acc
        case (h :: rest, w) => (w :: h) :: rest
        case (Nil, _) => Nil // unreachable
      }.filter(_.nonEmpty)
      phrases.flatMap(p => p.map(w => (w, p.size.toLong)))
    }
    val expected = words.groupBy(_._1).map { case (w, occ) =>
      val freq = occ.size.toLong
      val degree = occ.map(_._2).sum
      (w, freq, degree, degree.toDouble / freq.toDouble)
    }.toSeq.sortBy { case (w, f, _, sc) => (-sc, -f, w) }.take(20)
      .map { case (w, f, dg, sc) => Seq[Any](w, f, dg, sc) }
    assert(rows("q_text_rake") === expected)
  }

  test("q_time_theilsen: a single-day series has no pairs -> NULL trend") {
    // all six fixture events fall on day 19723; zero pairwise slopes, so
    // both medians are NULL by the percentile-over-empty contract
    assert(rows("q_time_theilsen") === Seq(Seq(1L, 0L, null, null)))
  }

  test("q_lm_coverage: doc 3 is the only held-out doc; 4 of its 7 bigrams trained") {
    // h60('cov:'||id) % 10 sends only doc 3 to test; doc 6 trains
    // 'die katze','katze ist','ist nicht','nicht hier' -> 4/7 covered
    assert(rows("q_lm_coverage") === Seq(Seq("de", 7L, 4L, 4.0 / 7.0)))
  }

  test("q_time_rolling_median: single-day types report their own count") {
    // every fixture event falls on day 19723; each type's window is the
    // one observation, purchase has two events that day
    assert(rows("q_time_rolling_median") === Seq(
      Seq("click", 19723L, 1L, 1L), Seq("error", 19723L, 1L, 1L),
      Seq("purchase", 19723L, 2L, 2L), Seq("signup", 19723L, 1L, 1L),
      Seq("view", 19723L, 1L, 1L)))
  }

  test("q_text_llr: no fixture bigram reaches the k11 >= 5 evidence floor") {
    // max bigram count on MiniData is 2 (the duplicated doc pair) — the
    // candidate filter keeps LLR off micro-evidence by design
    assert(rows("q_text_llr") === Seq())
  }

  test("q_text_burstiness: no fixture word reaches the df >= 5 evidence floor") {
    // max document frequency on MiniData is 2 (the duplicated doc pair) —
    // VMR on micro-evidence is noise, the floor keeps it out by design
    assert(rows("q_text_burstiness") === Seq())
  }

  test("q_stats_corrmat matches an exact-decimal moment replay on the fixture") {
    // the 8 lineitem rows' (qty, price, discount, tax); moments replayed
    // in BigDecimal (exact, like the engine's DECIMAL sums) then the same
    // IEEE tree per pair
    val fx = Seq(
      (17.0, 1000.00, 0.05, 0.02), (36.0, 2000.00, 0.10, 0.03),
      (40.0, 1500.00, 0.00, 0.05), (8.0, 800.00, 0.07, 0.01),
      (31.0, 1200.00, 0.02, 0.04), (55.0, 950.00, 0.09, 0.06),
      (3.0, 100.00, 0.01, 0.00), (29.0, 600.00, 0.06, 0.02))
    val cols = Seq(
      "l_discount" -> fx.map(_._3), "l_extendedprice" -> fx.map(_._2),
      "l_quantity" -> fx.map(_._1), "l_tax" -> fx.map(_._4))
      .map { case (n, vs) => n -> vs.map(BigDecimal(_).setScale(2)) }
    def s(vs: Seq[BigDecimal]) = vs.sum.toDouble
    def sp(a: Seq[BigDecimal], b: Seq[BigDecimal]) =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble
    val n = fx.size.toDouble
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val expected = for {
      (na, va) <- cols; (nb, vb) <- cols if na < nb
    } yield {
      val cov = n * sp(va, vb) - s(va) * s(vb)
      val vA = n * sp(va, va) - s(va) * s(va)
      val vB = n * sp(vb, vb) - s(vb) * s(vb)
      Seq[Any](na, nb, fx.size.toLong, r6(cov / math.sqrt(vA * vB)))
    }
    assert(rows("q_stats_corrmat") === expected)
  }

  test("q_text_lexdiv: hand-tallied TTR and hapax rates per language") {
    // en: 14 tokens / 8 types / 2 hapax (two, words); de: 14/9/4
    // (der, hund, und, heute); es is one doc of 8 distinct words
    assert(rows("q_text_lexdiv") === Seq(
      Seq("de", 14L, 9L, 4L, 9.0 / 14.0, 4.0 / 9.0),
      Seq("en", 14L, 8L, 2L, 8.0 / 14.0, 0.25),
      Seq("es", 8L, 8L, 8L, 1.0, 1.0)))
  }

  test("q_join_null_safe: the NULL group survives — the row plain = would drop") {
    // purchases (ids 1 odd, 6 even) NULLIF to NULL on both halves; no
    // other type appears on both sides, so the null-safe inner join's
    // ONLY row is the NULL-matches-NULL one
    assert(rows("q_join_null_safe") === Seq(Seq(null, 1L, 1L)))
  }

  test("q_time_weekday_profile: every fixture event lands on Monday (dow 1)") {
    // 2024-01-01 is a Monday; (19723 + 4) % 7 = 1 under the 0=Sunday map
    assert(rows("q_time_weekday_profile") === Seq(
      Seq("click", 1L, 1L, 1.0), Seq("error", 1L, 1L, 1.0),
      Seq("purchase", 1L, 2L, 1.0), Seq("signup", 1L, 1L, 1.0),
      Seq("view", 1L, 1L, 1.0)))
  }

  test("q_dq_freshness: staleness vs the corpus max, exact to the microsecond") {
    // corpus max = event 6 (purchase, h1+3ns); click/error last fired in
    // h0 -> exactly 3600s stale after the sub-us nanos truncate; all six
    // events sit inside the trailing 24h window
    val h0us = 1704067200000000L
    val h1us = h0us + 3600L * 1000000
    assert(rows("q_dq_freshness") === Seq(
      Seq("click", h0us, 3600000000L, 1L, 1L),
      Seq("error", h0us, 3600000000L, 1L, 1L),
      Seq("purchase", h1us, 0L, 2L, 2L),
      Seq("signup", h1us, 0L, 1L, 1L),
      Seq("view", h1us, 0L, 1L, 1L)))
  }

  test("q_stats_moments matches an exact cents-integer replay on the fixture") {
    // the engine's scheme replayed: exact integer cents power sums, one
    // double cast + de-scale each, then the identical raw-moment trees
    val fx = Map(
      "A" -> Seq(2000.00, 950.00),
      "N" -> Seq(1500.00, 100.00),
      "R" -> Seq(1000.00, 800.00, 1200.00, 600.00))
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val expected = fx.toSeq.sortBy(_._1).map { case (flag, prices) =>
      val c = prices.map(p => BigInt((p * 100).round))
      val n = c.size.toDouble
      val s1 = c.sum.toDouble / 1e2
      val s2 = c.map(v => v * v).sum.toDouble / 1e4
      val s3 = c.map(v => v * v * v).sum.toDouble / 1e6
      val s4 = c.map(v => v * v * v * v).sum.toDouble / 1e8
      val mu = s1 / n
      val m2 = s2 / n - mu * mu
      val m3 = s3 / n - 3.0 * mu * s2 / n + 2.0 * mu * mu * mu
      val m4 = s4 / n - 4.0 * mu * s3 / n + 6.0 * mu * mu * s2 / n -
        3.0 * mu * mu * mu * mu
      Seq[Any](flag, c.size.toLong, r6(mu),
        r6(m3 / (m2 * math.sqrt(m2))), r6(m4 / (m2 * m2) - 3.0))
    }
    assert(rows("q_stats_moments") === expected)
  }

  test("q_stats_ks: hand-computed sup-norm distances on the order fixture") {
    // cents per status — F: {100050, 150000} (n=2), O: {200025, 100050,
    // 75075} (n=3), P: {30010} (n=1). Per pair, |k1·n2 − k2·n1| walked
    // over the pooled sorted values by hand:
    //   (F,O): 75075→2, 100050→1, 150000→2, 200025→0 ⇒ dmax 2 first at
    //          75075, D = 2/6
    //   (F,P): 30010→2, 100050→1, 150000→0 ⇒ D = 2/2 = 1.0 at 30010
    //   (O,P): 30010→3, 75075→2, 100050→1, 200025→0 ⇒ D = 3/3 = 1.0
    assert(rows("q_stats_ks") === Seq(
      Seq("F", "O", 2L, 3L, 0.333333, 75075L),
      Seq("F", "P", 2L, 1L, 1.0, 30010L),
      Seq("O", "P", 3L, 1L, 1.0, 30010L)))
  }

  test("q_stats_mannwhitney: hand-ranked U and tie-corrected z on the order fixture") {
    // (F,O): pooled ranks 75075→1, 100050→2.5 (tie), 150000→4, 200025→5;
    //   R1 = 2.5+4 = 6.5, U1 = 6.5 − 3 = 3.5; one tie of size 2 ⇒
    //   z = 0.5 / sqrt(6·(120−6)/240) = 0.296174
    // (F,P): R1 = 2+3 = 5, U1 = 2; z = 1/sqrt(2·24/72) = sqrt(3/2) = 1.224745
    // (O,P): R1 = 2+3+4 = 9, U1 = 3; z = 1.5/sqrt(3·60/144) = 1.341641
    val got = rows("q_stats_mannwhitney")
    assert(got.map(_.take(5)) === Seq(
      Seq("F", "O", 2L, 3L, 3.5),
      Seq("F", "P", 2L, 1L, 2.0),
      Seq("O", "P", 3L, 1L, 3.0)))
    def z(u1: Double, a: Double, nn: Double, tie: Double) = {
      val vr = a * ((nn * nn * nn - nn) - tie) / (12.0 * nn * (nn - 1.0))
      BigDecimal((2 * u1 - a) / 2.0 / math.sqrt(vr))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    assert(got.map(_(5)) === Seq(
      z(3.5, 6.0, 5.0, 6.0), z(2.0, 2.0, 3.0, 0.0), z(3.0, 3.0, 4.0, 0.0)))
  }

  test("q_sketch_quantile: hand-walked dyadic envelopes contain the exact elements") {
    // cents per flag — A: {200000→b17, 95000→b16}, N: {150000→b17,
    //   10000→b13}, R: {100000, 80000, 120000→b16, 60000→b15}; the
    //   quantile bucket is the first with cum·100 ≥ p·n, the exact value
    //   is the percentile_disc element — contained must hold everywhere
    assert(rows("q_sketch_quantile") === Seq(
      Seq("A", 50L, 16L, 65536L, 131071L, 95000L, true),
      Seq("A", 90L, 17L, 131072L, 262143L, 200000L, true),
      Seq("A", 99L, 17L, 131072L, 262143L, 200000L, true),
      Seq("N", 50L, 13L, 8192L, 16383L, 10000L, true),
      Seq("N", 90L, 17L, 131072L, 262143L, 150000L, true),
      Seq("N", 99L, 17L, 131072L, 262143L, 150000L, true),
      Seq("R", 50L, 16L, 65536L, 131071L, 80000L, true),
      Seq("R", 90L, 16L, 65536L, 131071L, 120000L, true),
      Seq("R", 99L, 16L, 65536L, 131071L, 120000L, true)))
  }

  test("q_stats_bootstrap: sequential replay of the 60 hash-bit half-samples") {
    import org.apache.spark.unsafe.types.UTF8String
    val prices = Map(100L -> "1000.50", 101L -> "2000.25", 102L -> "1500.00",
      103L -> "300.10", 104L -> "1000.50", 105L -> "750.75")
    def h(k: Long) =
      graft.functions.CdcChunks.h60(UTF8String.fromString(s"boot:$k"))
    // replicate b keeps orders whose b-th hash bit is set; empty
    // replicates are excluded by contract
    val means = (0 until 60).flatMap { b =>
      val kept = prices.collect {
        case (k, v) if ((h(k) >> b) & 1L) == 1L => BigDecimal(v)
      }
      if (kept.isEmpty) None
      else Some(kept.sum.toDouble / kept.size.toDouble)
    }
    val sorted = means.sorted
    // percentile_disc: first element with cume_dist >= p (1-based ceil)
    def pd(p: Double) = sorted(math.ceil(p * sorted.size).toInt - 1)
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val full = prices.values.map(BigDecimal(_)).sum.toDouble / 6.0
    assert(rows("q_stats_bootstrap") === Seq(Seq(
      6L, r6(full), means.size.toLong, r6(pd(0.05)), r6(pd(0.95)))))
  }

  test("q_dq_referential: every fixture FK edge is orphan-free with exact counts") {
    assert(rows("q_dq_referential") === Seq(
      Seq("customer.c_nationkey->nation", 5L, 0L, 0L, 0L, 0.0),
      Seq("lineitem.l_orderkey->orders", 8L, 0L, 0L, 0L, 0.0),
      Seq("lineitem.l_partkey->part", 8L, 0L, 0L, 0L, 0.0),
      Seq("lineitem.l_suppkey->supplier", 8L, 0L, 0L, 0L, 0.0),
      Seq("nation.n_regionkey->region", 4L, 0L, 0L, 0L, 0.0),
      Seq("orders.o_custkey->customer", 6L, 0L, 0L, 0L, 0.0)))
  }

  test("q_events_concurrency: hand-swept peak on the two-bucket fixture") {
    // all six fixture sessions are instantaneous and land on day 19723 at
    // two microseconds: A (=h0, 2 starts+ends) and B (=h1, 3 starts+ends);
    // cand(A) = 0+2, cand(B) = 0+3 ⇒ peak 3 at B, no carry
    assert(rows("q_events_concurrency") === Seq(
      Seq(19723L, 0L, 5L, 3L, 1704070800000000L)))
  }

  test("q_sample_coreset: greedy farthest-first replay on the 6-vector fixture") {
    // replays the native cosine's exact op order (left-to-right double
    // accumulation, sqrt(nx)*sqrt(ny) denominator) through the greedy
    // argmin-of-max-sim selection; 6 vectors exhaust after 5 rounds
    val vs: Map[Long, Array[Float]] = Map(
      0L -> Array(1.0f, 0.0f, 0.0f, 0.0f),
      1L -> Array(0.0f, 1.0f, 0.0f, 0.0f),
      2L -> Array(0.5f, 0.5f, 0.0f, 0.0f),
      3L -> Array(0.0f, 0.0f, 1.0f, 1.0f),
      4L -> Array(0.2f, 0.1f, 0.9f, 0.0f),
      5L -> Array(2.0f, 0.0f, 0.0f, 0.0f))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y
      }
      val den = math.sqrt(nx) * math.sqrt(ny)
      if (den == 0.0) 0.0 else dot / den
    }
    var sel = Vector(0L)
    val expect = scala.collection.mutable.ArrayBuffer[Seq[Any]](
      Seq(0L, 0L, null))
    for (r <- 1L to 5L) {
      val scored = vs.keys.filterNot(sel.contains).toSeq
        .map(c => (c, sel.map(s0 => cos(vs(c), vs(s0))).max))
      val (pick, sc) = scored.minBy { case (id, s) => (s, id) }
      sel :+= pick
      expect += Seq(r, pick,
        BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0)
    }
    assert(rows("q_sample_coreset") === expect.toSeq)
  }

  test("q_dq_reconcile: hand-computed header-vs-line-sum gaps on the fixture") {
    // per-order exact decimal line totals: 100→2823.00, 101→1575.00,
    // 102→1974.48, 103→916.37, 104→99.00, 105→575.28; gaps vs headers:
    // 1822.50, 425.25, 474.48, 616.27, 901.50, 175.47 — none exact, none
    // within 1%; mean = 4415.47/6
    assert(rows("q_dq_reconcile") === Seq(
      Seq(6L, 6L, 0L, 0L, 0L, 1822.5, 735.911667)))
  }

  test("q_embed_centroid: typed-Aggregator state replays the floor-quantized sums") {
    val vs: Map[Int, Array[Float]] = Map(
      0 -> Array(1.0f, 0.0f, 0.0f, 0.0f),
      1 -> Array(0.0f, 1.0f, 0.0f, 0.0f),
      2 -> Array(0.5f, 0.5f, 0.0f, 0.0f),
      3 -> Array(0.0f, 0.0f, 1.0f, 1.0f),
      4 -> Array(0.2f, 0.1f, 0.9f, 0.0f),
      5 -> Array(2.0f, 0.0f, 0.0f, 0.0f))
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val expected = vs.toSeq.sortBy(_._1).map { case (label, v) =>
      val q = v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
      Seq[Any](label, 1L, q.sum) ++
        (0 to 3).map(j => r6(q(j).toDouble / (1.0 * 1048576.0)))
    }
    assert(rows("q_embed_centroid") === expected)
  }

  test("q_dq_sequence: the contiguous fixture keyspace is one island, no gaps") {
    assert(rows("q_dq_sequence") === Seq(
      Seq(6L, 100L, 105L, 0L, 1L, null)))
  }

  test("q_graph_assortativity matches a sequential replay on the 7-edge fixture") {
    // same hand-derived edge set as the pagerank spec; expected replays
    // degree joins + the exact IEEE moment tree sequentially
    val edges = Seq(
      ("fast key", "the fast"), ("fast key", "key order"),
      ("key order", "order sort"), ("order sort", "sort merge"),
      ("die katze", "katze ist"), ("ist nicht", "katze ist"),
      ("ist nicht", "nicht hier"))
    val sym = edges ++ edges.map(_.swap)
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val pts = sym.map { case (m, n) => (deg(m), deg(n)) }
    val ne = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val syy = pts.map(p => p._2 * p._2).sum.toDouble
    val r = (ne * sxy - sx * sy) /
      math.sqrt((ne * sxx - sx * sx) * (ne * syy - sy * sy))
    val r6 = BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble + 0.0
    assert(rows("q_graph_assortativity") === Seq(Seq(9L, 14L, r6)))
  }

  test("q_map_ops: per-flag status maps derived by hand from the 8-row lineitem") {
    // (flag, status) counts: A-F:1, A-O:1, N-O:2, R-F:3, R-O:1 (the
    // q_agg_hash groups); n_major counts statuses with c*3 > total
    assert(rows("q_map_ops") === Seq(
      Seq("A", 2L, "F,O", 1L, 2L, 2L),
      Seq("N", 1L, "O", 2L, 2L, 1L),
      Seq("R", 2L, "F,O", 1L, 4L, 1L)))
  }

  test("q_graph_community: 4 synchronous LPA rounds hand-walked on the two fixture paths") {
    // Both fixture components are PATHS with uniform weight 2 (pagerank
    // spec's edge set), so every multi-neighbor argmax ties and the min
    // label wins; synchronous updates then oscillate 2-colorings — the
    // behavior the query documents as the fixed-round contract. Walked by
    // hand: round 4 lands T,K,S->"key order" / F,O->"fast key" on the
    // 5-path and D,I->"die katze" / Kz,N->"katze ist" on the 4-path.
    assert(rows("q_graph_community") === Seq(
      Seq("key order", 3L),
      Seq("die katze", 2L),
      Seq("fast key", 2L),
      Seq("katze ist", 2L)))
  }

  test("q_time_holt: single-day fixture has no lag history -> zero forecast") {
    // every type has one day (19723), all 24 lags NULL->0, so the Brown
    // forecast is 0.0 and the backtest error is the count itself
    assert(rows("q_time_holt") === Seq(
      Seq("click", 19723L, 1L, 0.0, 1.0),
      Seq("error", 19723L, 1L, 0.0, 1.0),
      Seq("purchase", 19723L, 2L, 0.0, 2.0),
      Seq("signup", 19723L, 1L, 0.0, 1.0),
      Seq("view", 19723L, 1L, 0.0, 1.0)))
  }

  test("q_stats_poissonboot: sequential replay of the 30 Poisson-weight replicates") {
    import org.apache.spark.unsafe.types.UTF8String
    val prices = Map(100L -> "1000.50", 101L -> "2000.25", 102L -> "1500.00",
      103L -> "300.10", 104L -> "1000.50", 105L -> "750.75")
    val ts = graft.operators.Stats.poisThresholds
    val p = (1L << 31) - 1
    // one digest per order; replicate b's uniform is the multiplicative
    // universal hash u_b = (a_b * hm) mod p over GF(2^31-1)
    def k(key: Long, b: Int): Long = {
      val hm = graft.functions.CdcChunks.h60(
        UTF8String.fromString(s"pois:$key")) % p
      val a = ((b + 1) * 2654435761L) % p
      val u = (a * hm) % p
      ts.count(u >= _).toLong
    }
    // replicate b weighs each order by its Poisson(1) inverse-CDF copy
    // count; all-zero replicates drop out (nb = 0 -> no group)
    val means = (0 until 30).flatMap { b =>
      val w = prices.toSeq.map { case (key, v) => (k(key, b), BigDecimal(v)) }
      val nb = w.map(_._1).sum
      if (nb == 0L) None
      else Some(w.map { case (c, v) => v * c }.sum.toDouble / nb.toDouble)
    }
    val sorted = means.sorted
    def pd(p: Double) = sorted(math.ceil(p * sorted.size).toInt - 1)
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val full = prices.values.map(BigDecimal(_)).sum.toDouble / 6.0
    assert(rows("q_stats_poissonboot") === Seq(Seq(
      6L, r6(full), means.size.toLong, r6(pd(0.05)), r6(pd(0.95)))))
  }
}
