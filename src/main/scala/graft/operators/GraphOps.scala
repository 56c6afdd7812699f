package graft.operators

import graft.{GQ, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph analytics over the word co-occurrence graph (round 4) — the third
  * graph operator family beside `q_dedup_components` (connectivity) and
  * `q_text_textrank` (centrality). The reference has no graph surface; these
  * generalize its P1/P2 projection class the same way the dedup family does:
  * corpus-derived relations processed with scale-bounded joins.
  */
object GraphOps {

  /** The family's shared edge generator (round 13): one row per
    * overlapping-bigram pair `(g1, g2)` inside each corpus trigram, self
    * pairs dropped — the input of every weighted-bigram edge aggregate
    * below. One codegen'd scan-side expression
    * ([[graft.functions.KGramPairs]]) replaces the round-4..12
    * `kgrams(text, 3)` → `split` → 2×`concat_ws` chain, which built every
    * trigram string only to re-split it and re-join its halves (guide
    * §1.2 step 2; A/B in OPTIMIZATION_r13.md — emitted rows are
    * byte-identical, the oracle SQL is untouched). */
  private[graft] def bigramPairEdges(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs.select(explode(graft.functions.KGramPairs.col(col("text"), 2)).as("z"))
      .select(col("z.g1").as("g1"), col("z.g2").as("g2"))
      .filter(col("g1") =!= col("g2"))
  }

  /** Synchronous fixed-round k-core peel over a symmetrized edge list
    * `(m, n)`: each round recomputes induced degrees and drops every
    * node with degree < k in parallel, returning the surviving edges.
    * Converged rounds are no-ops (peel is monotone), so `rounds` past
    * the fixpoint yields the exact k-core.
    *
    * Each round references the previous round's edges THREE times
    * (degree agg + two semi-joins) — without plan truncation the logical
    * tree grows 3^rounds (the componentLabels lesson); lazy
    * localCheckpoint flattens each round to its materialized RDD,
    * keeping analysis cost linear in rounds. */
  private[graft] def kcoreSurvivors(
      sym: org.apache.spark.sql.DataFrame, k: Int, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    var e = sym.localCheckpoint(false)
    // peel is MONOTONE-DELETING: a round either strictly shrinks the edge
    // set or is the fixpoint, so an unchanged edge COUNT between two
    // checkpoints proves an unchanged edge SET — every later round is a
    // no-op by the same monotonicity that makes fixed-rounds exact. The
    // count rides the just-materialized checkpoint RDD (near-free).
    //
    // Round 12 (VERDICT item 1 — first stage profile of this query): the
    // round-5 every-2nd-round cadence measured ~1 s/round at sf0.1 on a
    // 53k-row edge relation, and the profile attributes that to REDUNDANT
    // RECOMPUTATION, not data volume: `keep` fed two broadcast semi-joins,
    // so its degree agg (a full shuffle of e) built TWICE per round, and a
    // 2-round lazy segment compounds to 9 references of the last
    // checkpoint — each re-executing the agg + joins of the uncheckpointed
    // round. Now each round persists the MODEL-SIZED keep set (≤ |V| rows
    // — the surviving nodes; the one relation here that is cacheable at
    // any corpus scale) so the agg shuffle runs once per round, and
    // truncates + convergence-checks EVERY round: per round exactly one
    // materialization job (agg → cached keep → two broadcast semi-joins,
    // all in the checkpoint job) plus a free RDD count — and the early
    // exit fires one round after the fixpoint instead of up to two rounds
    // later (measured at sf0.1: fixpoint after round 1, so 2 rounds run
    // instead of 4; peel wall 4.2 s → ~1 s). The rounds-8 ≡ rounds-10 law
    // stays spec-pinned (PropertySpec).
    var prev = e.count()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val keep = graft.Caches.persist(
        e.groupBy(col("m")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("m").as("kp")))
      e = e.join(keep, col("m") === col("kp"), "left_semi")
        .join(keep, col("n") === col("kp"), "left_semi")
        .localCheckpoint(false)
      val now = e.count()
      if (now == prev) done = true
      prev = now
      r += 1
    }
    e
  }

  /** q_graph_kcore's pre-peel state — the persisted weighted-bigram edge
    * relation, its symmetrized view, and the adaptive k (one bounded 1-row
    * driver fetch) — exposed for the stage profiler (round 12, VERDICT
    * item 1: this query had never been stage-profiled). Construction is
    * verbatim the declared query's. */
  private[graft] final case class KcoreState(pj: org.apache.spark.sql.DataFrame,
      sym: org.apache.spark.sql.DataFrame, k: Int)

  private[graft] def kcoreState(
      s: org.apache.spark.sql.SparkSession, d: String): KcoreState = {
    val tg = bigramPairEdges(Tables.t(s, d, "documents"))
    val pj = graft.Caches.persist(tg
      .select(least(col("g1"), col("g2")).as("a"),
        greatest(col("g1"), col("g2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2).select(col("a"), col("b")))
    val sym = pj.select(col("a").as("m"), col("b").as("n"))
      .union(pj.select(col("b").as("m"), col("a").as("n")))
    // bounded driver fetch (1 row): |sym| and |V| for the adaptive k
    val st = sym
      .agg(count(lit(1)).as("e2"), countDistinct(col("m")).as("v"))
      .head()
    val k = math.max(2L, (st.getLong(0) / math.max(1L, st.getLong(1)))
      * 2 / 3)
    KcoreState(pj, sym, k.toInt)
  }

  val queries: Seq[GQ] = Seq(
    // Triangle participation counts (top-10 words) over the word
    // co-occurrence graph — the classic clustering-structure probe (a
    // word's triangles measure how interconnected its context is; on a
    // document/link graph the same query finds tightly-knit communities).
    //
    // Algorithm: DEGREE-ORDERED ORIENTATION (Cohen 2009; the MapReduce
    // standard) — orient each undirected edge from the endpoint with the
    // smaller (degree, word) to the larger, enumerate wedges only between
    // out-neighbors, and close each wedge against the oriented edge list.
    // Every triangle is found exactly once, at its minimum vertex under
    // the total order, and the wedge count is bounded by O(m^1.5) instead
    // of Σ deg² — the difference between a hub word generating deg²
    // wedges and the same hub generating none (all its edges point IN).
    //
    // Determinism: counts of exact set constructions — no FP at all; ties
    // in the top-10 break on word (R1).
    //
    // Plan shape (100 TB): one corpus scan → distinct canonical edge agg;
    // degrees from one edge-keyed agg; orientation is a projection; the
    // wedge self-join and the closing join are both equi-joins keyed on a
    // word — no shuffle carries more than the oriented edge relation
    // (vocab²-bounded, corpus-size-independent).
    GQ(
      "q_graph_triangles",
      (s, d) => {
        // persisted: the distinct edge relation (vocab²-bounded) feeds the
        // degree agg and both withDeg joins — each consumer would re-run
        // the corpus shingling AND the distinct shuffle (ScanAudit catch)
        val pj = graft.Caches.persist(
          Grams.wordPairRows(Tables.t(s, d, "documents"))
            .filter(col("w1") =!= col("w2"))
            .select(least(col("w1"), col("w2")).as("a"),
              greatest(col("w1"), col("w2")).as("b"))
            .distinct())
        val deg = pj.select(col("a").as("word"))
          .union(pj.select(col("b").as("word")))
          .groupBy(col("word")).agg(count(lit(1)).as("deg"))
        val withDeg = pj
          .join(deg.select(col("word").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("word").as("b"), col("deg").as("db")), "b")
          .withColumn("ka", struct(col("da").as("dg"), col("a").as("wd")))
          .withColumn("kb", struct(col("db").as("dg"), col("b").as("wd")))
        // orient: src = smaller (deg, word); total order ⇒ no 2-cycles
        val ord = graft.Caches.persist(withDeg.select(
          when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
          when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
          when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("dstk")))
        val wedges = ord.select(col("src"), col("dst").as("v"), col("dstk").as("vk"))
          .join(ord.select(col("src"), col("dst").as("w"), col("dstk").as("wk")),
            "src")
          .filter(col("vk") < col("wk"))
        val tri = wedges.join(
          ord.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
        tri.select(explode(array(col("src"), col("v"), col("w"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n_tri"))
          .orderBy(col("n_tri").desc, col("word"))
          .limit(10)
      },
      Some("""WITH dd AS (SELECT string_split(text, ' ') AS ws FROM documents),
             |pj AS (SELECT unnest(list_transform(range(1, len(ws)),
             |    i -> ws[i] || ' ' || ws[i+1])) AS p FROM dd WHERE len(ws) >= 2),
             |e0 AS (SELECT DISTINCT
             |    least(string_split(p, ' ')[1], string_split(p, ' ')[2]) AS a,
             |    greatest(string_split(p, ' ')[1], string_split(p, ' ')[2]) AS b
             |  FROM pj WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
             |dg AS (SELECT word, COUNT(*) AS deg FROM (
             |    SELECT a AS word FROM e0 UNION ALL SELECT b AS word FROM e0)
             |  GROUP BY word),
             |wd AS (SELECT e0.a, e0.b, x.deg AS da, y.deg AS db FROM e0
             |  JOIN dg x ON x.word = e0.a JOIN dg y ON y.word = e0.b),
             |ord AS (SELECT
             |    CASE WHEN (da, a) < (db, b) THEN a ELSE b END AS src,
             |    CASE WHEN (da, a) < (db, b) THEN b ELSE a END AS dst,
             |    CASE WHEN (da, a) < (db, b) THEN db ELSE da END AS ddeg
             |  FROM wd),
             |wedge AS (SELECT x.src, x.dst AS v, x.ddeg AS vdeg,
             |    y.dst AS w, y.ddeg AS wdeg
             |  FROM ord x JOIN ord y ON x.src = y.src
             |  WHERE (x.ddeg, x.dst) < (y.ddeg, y.dst)),
             |tri AS (SELECT wedge.src, wedge.v, wedge.w FROM wedge
             |  JOIN ord z ON z.src = wedge.v AND z.dst = wedge.w)
             |SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
             |  SELECT src AS word FROM tri
             |  UNION ALL SELECT v AS word FROM tri
             |  UNION ALL SELECT w AS word FROM tri)
             |GROUP BY word ORDER BY n_tri DESC, word LIMIT 10""".stripMargin)
    ),
    // PageRank (round 5) — the canonical iterative graph centrality, on
    // the same sparse bigram co-occurrence graph as q_graph_linkpred
    // (edges = overlapping trigram bigrams, co-occurrence ≥ 2,
    // symmetrized). Five power-iteration rounds with damping 0.85 in
    // EXACT INTEGER FIXED-POINT: ranks scaled ×10⁶, each round
    //   rank'(v) = 150000 + Σ_{m→v} (rank(m)·17) div (20·outdeg(m))
    // — 17/20 = 0.85 and floor division is identical in Spark (`div`)
    // and DuckDB (`//`) on positive BIGINTs, so five rounds stay
    // bit-exact cross-engine with NO floating point anywhere (R7 has no
    // division to worry about: the only IEEE op is none). TextRank
    // (Retrieval.scala) is the sentence-similarity variant with
    // FP-lattice accounting; this is the plain directed-contribution
    // form a pipeline runs on entity/link graphs, exact by construction.
    //
    // Plan shape (100 TB): edges aggregate once (vocab²-bounded,
    // persisted — they feed outdeg and all 5 rounds); each round is ONE
    // join (ranks × adjacency on the source key) + ONE dst-keyed sum —
    // the alternating two-shuffle pattern every distributed PageRank
    // (Pregel, GraphX) runs, here on a model-sized relation. Fixed 5
    // rounds ⇒ no convergence driver-collect at all; plan depth is
    // statically bounded, so no checkpoint truncation is needed.
    GQ(
      "q_graph_pagerank",
      (s, d) => {
        val tg = bigramPairEdges(Tables.t(s, d, "documents"))
        val pj = tg
          .select(least(col("g1"), col("g2")).as("a"),
            greatest(col("g1"), col("g2")).as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2).select(col("a"), col("b"))
        val sym = graft.Caches.persist(
          pj.select(explode(array(
            struct(col("a").as("m"), col("b").as("n")),
            struct(col("b").as("m"), col("a").as("n")))).as("e"))
            .select(col("e.m").as("m"), col("e.n").as("n")))
        val deg = sym.groupBy(col("m")).agg(count(lit(1)).as("deg"))
        val adj = graft.Caches.persist(sym.join(deg, "m"))
        var ranks = deg.select(col("m").as("node"), lit(1000000L).as("rank"))
        for (_ <- 1 to 5) {
          ranks = adj.join(ranks, col("m") === col("node"))
            .select(col("n"),
              expr("(rank * 17) div (20 * deg)").as("contrib"))
            .groupBy(col("n").as("node"))
            .agg((lit(150000L) + sum(col("contrib"))).as("rank"))
        }
        ranks.orderBy(col("rank").desc, col("node")).limit(20)
      },
      Some {
        def round(prev: String, cur: String) =
          s"""$cur AS (SELECT s.n AS node,
             |    150000 + CAST(SUM((r.rank * 17) // (20 * d.deg)) AS BIGINT)
             |      AS rank
             |  FROM sym s JOIN $prev r ON r.node = s.m
             |  JOIN dg d ON d.m = s.m GROUP BY s.n)""".stripMargin
        s"""WITH dd AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |tg AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
           |    i -> [ws[i] || ' ' || ws[i+1], ws[i+1] || ' ' || ws[i+2]])) AS gs
           |  FROM dd WHERE len(ws) >= 3),
           |e0 AS (SELECT least(gs[1], gs[2]) AS a, greatest(gs[1], gs[2]) AS b
           |  FROM tg WHERE gs[1] <> gs[2]
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |sym AS (SELECT a AS m, b AS n FROM e0
           |  UNION ALL SELECT b, a FROM e0),
           |dg AS (SELECT m, COUNT(*) AS deg FROM sym GROUP BY m),
           |r0 AS (SELECT m AS node, CAST(1000000 AS BIGINT) AS rank FROM dg),
           |${round("r0", "r1")},
           |${round("r1", "r2")},
           |${round("r2", "r3")},
           |${round("r3", "r4")},
           |${round("r4", "r5")}
           |SELECT node, rank FROM r5
           |ORDER BY rank DESC, node LIMIT 20""".stripMargin
      }
    ),
    // Link prediction by common-neighbor counting (round 4; node domain
    // rescaled round 5) — the second-order similarity primitive: nodes
    // NOT linked in the graph that share many neighbors (on a user/item
    // graph the same query is collaborative-filtering candidate
    // generation). Top-20 non-edges by shared-neighbor count.
    //
    // Nodes are BIGRAMS, edges join the two overlapping bigrams inside
    // each trigram ("w1 w2" ↔ "w2 w3", co-occurrence ≥ 2). Round-4 used
    // single words — but the ~31-word test vocabulary makes that graph
    // near-COMPLETE (450 of 465 possible pairs are edges at sf0.1), so
    // every capped-midpoint neighbor pair was already an edge and the
    // anti-join emitted ZERO rows at bench scale (round-4 verdict's one
    // weak component): all the wedge work, no signal. The bigram domain
    // is |vocab|²-sized (≈900 nodes here), the graph is sparse at every
    // SF (26.7k edges / 427k possible at sf0.1), and node degree is
    // STRUCTURALLY bounded by 2·|vocab| (a bigram "x y" only neighbors
    // bigrams "y ·" and "· x") — so predictions are non-empty and the
    // wedge volume stays model-sized by construction.
    //
    // Algorithm: full wedge enumeration per midpoint — every common
    // neighbor m of (v, w) is exactly one wedge v-m-w, keyed by its
    // midpoint, so wedge counting needs NO dedup (unlike triangles,
    // where the degree-ordered orientation exists to kill the 3×
    // overcount; out-out wedges alone would UNDERCOUNT here — a midpoint
    // ranked above an endpoint contributes no oriented wedge but is
    // still a common neighbor). The cost is Σ deg² over midpoints; the
    // HUB CAP (midpoint degree > 1024 excluded BY CONTRACT) remains the
    // guard for pathological inputs, though the structural 2·|vocab|
    // degree bound keeps real data far below it (max deg 60 at sf0.1).
    //
    // Determinism: exact set construction + integer counts, no FP;
    // ties → (word_a, word_b) (R1).
    //
    // Plan shape (100 TB): vocab⁴-bounded edge agg → symmetrized
    // adjacency joined once on the midpoint key; the wedge relation is
    // Σ_{deg ≤ cap} deg² — model-sized, corpus-size-independent; one
    // (v, w) hash agg + broadcast-able anti-join + top-k. The edge
    // relation is PERSISTED (it feeds the adjacency twice and the
    // anti-join once — without it the corpus kgram scan runs twice);
    // an integer-id node dictionary was measured and REJECTED: at this
    // model size the extra dict/broadcast stages cost more than the
    // narrower wedge shuffle saves (5.0 s vs 2.5 s warm at sf0.1).
    GQ(
      "q_graph_linkpred",
      (s, d) => {
        // Round 13: a hashed-wedge rewrite (xxhash64 node proxies through
        // the Σ deg² self-join + pair agg, strings re-attached at the
        // top-k boundary — guide §2.3/§8) was built and MEASURED SLOWER
        // (3.7-4.7 s vs 1.6-2.1 s warm at sf0.1): with the round-13 GC fix
        // the string wedge agg's apparent 32 task-seconds deflated to ~10
        // (most was GC time charged to the tasks), and the rewrite's extra
        // persist barrier + threshold/dictionary joins cost more than the
        // narrower keys save at this model size — the same verdict as the
        // round-5 dense-id dictionary. At a vocabulary where the wedge
        // exchange dominates, the proxy shape is the known fallback.
        val tg = bigramPairEdges(Tables.t(s, d, "documents"))
        val pj = graft.Caches.persist(tg
          .select(least(col("g1"), col("g2")).as("a"),
            greatest(col("g1"), col("g2")).as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2).select(col("a"), col("b")))
        val sym = pj.select(col("a").as("m"), col("b").as("n"))
          .union(pj.select(col("b").as("m"), col("a").as("n")))
        val deg = sym.groupBy(col("m")).agg(count(lit(1)).as("deg"))
        val adj = graft.Caches.persist(
          sym.join(deg.filter(col("deg") <= 1024), "m").select(col("m"), col("n")))
        val cn = adj.select(col("m"), col("n").as("v"))
          .join(adj.select(col("m"), col("n").as("w")), "m")
          .filter(col("v") < col("w"))
          .groupBy(col("v").as("word_a"), col("w").as("word_b"))
          .agg(count(lit(1)).as("cn"))
        cn.join(broadcast(pj),
            col("word_a") === col("a") && col("word_b") === col("b"),
            "left_anti")
          .orderBy(col("cn").desc, col("word_a"), col("word_b"))
          .limit(20)
      },
      Some("""WITH dd AS (SELECT string_split(text, ' ') AS ws FROM documents),
             |tg AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
             |    i -> [ws[i] || ' ' || ws[i+1], ws[i+1] || ' ' || ws[i+2]])) AS gs
             |  FROM dd WHERE len(ws) >= 3),
             |e0 AS (SELECT least(gs[1], gs[2]) AS a, greatest(gs[1], gs[2]) AS b
             |  FROM tg WHERE gs[1] <> gs[2]
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
             |sym AS (SELECT a AS m, b AS n FROM e0
             |  UNION ALL SELECT b, a FROM e0),
             |dg AS (SELECT m, COUNT(*) AS deg FROM sym GROUP BY m),
             |adj AS (SELECT sym.m, sym.n FROM sym
             |  JOIN dg ON dg.m = sym.m WHERE dg.deg <= 1024),
             |cn AS (SELECT x.n AS word_a, y.n AS word_b,
             |    CAST(COUNT(*) AS BIGINT) AS cn
             |  FROM adj x JOIN adj y ON x.m = y.m AND x.n < y.n
             |  GROUP BY 1, 2)
             |SELECT word_a, word_b, cn FROM cn
             |WHERE NOT EXISTS (SELECT 1 FROM e0
             |  WHERE e0.a = cn.word_a AND e0.b = cn.word_b)
             |ORDER BY cn DESC, word_a, word_b LIMIT 20""".stripMargin)
    ),
    // k-core decomposition (round 5) — the density-peeling primitive the
    // other three graph queries lack: repeatedly delete every node whose
    // degree in the SURVIVING subgraph is < k until a fixpoint; what
    // remains is the k-core (Seidman 1983), the standard "dense kernel"
    // extractor for community seeding and spam/botnet isolation. Same
    // bigram-node graph as q_graph_pagerank/q_graph_linkpred (overlapping
    // trigram bigrams, co-occurrence ≥ 2, symmetrized).
    //
    // k is DATA-ADAPTIVE: k = max(2, (2·meandeg) div 3), meandeg =
    // |sym| div |V| in exact integer division. A fixed k cannot track
    // this graph across SFs — its density roughly quadruples from
    // sf0.001 (meandeg 15) to sf0.1 (meandeg 57), so any constant
    // either peels nothing at bench scale or empties the small SFs.
    // Measured with the adaptive k: sf0.001 peels 83 of 903 nodes
    // (k=10, 5 rounds), sf0.01 peels 137 (k=10, 7 rounds), sf0.1 peels
    // 25 of 925 (k=38, 2 rounds) — real peeling AND a non-empty core at
    // every SF. The two scalars come from ONE bounded driver fetch (a
    // 1-row agg — the Lloyd/PCA bounded-model pattern) because k gates
    // every round's HAVING.
    //
    // SYNCHRONOUS fixed-round peel: 8 rounds, each recomputing induced
    // degrees and dropping sub-k nodes IN PARALLEL (the Montresor et al.
    // 2013 distributed formulation); observed convergence ≤ 7 rounds,
    // so 8 reaches the fixpoint with margin (a round past it is a no-op
    // — peel is monotone), and the rounds-8 ≡ rounds-10 law is
    // spec-pinned on the real corpus (PropertySpec). Output: top-20
    // core members by induced degree.
    //
    // Determinism: exact set construction + integer degrees and integer
    // k, no FP; ties → node (R1). The oracle computes the identical k
    // in a scalar CTE and replays the identical 8 synchronous rounds.
    //
    // Plan shape (100 TB): the corpus is touched ONCE (the persisted
    // vocab²-bounded edge agg); every peel round is one hash agg + two
    // semi-joins on that model-sized relation — corpus-size-independent,
    // and the 8-round plan depth is static (no convergence
    // driver-collect); kcoreSurvivors truncates lineage every second
    // round, trading 3²-ref segments for half the materialization jobs.
    GQ(
      "q_graph_kcore",
      (s, d) => {
        val st = kcoreState(s, d)
        kcoreSurvivors(st.sym, st.k, rounds = 8)
          .groupBy(col("m").as("node")).agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("node")).limit(20)
      },
      Some {
        // MATERIALIZED is load-bearing: each round references the prior
        // round's edge set 3× (the scan + both semi-joins); DuckDB's
        // default CTE inlining would expand 8 rounds into a 3^8-leaf
        // plan that re-opens the parquet thousands of times (observed:
        // fd exhaustion at the 20k ulimit)
        def peel(prev: String, cur: String) =
          s"""k$cur AS MATERIALIZED (SELECT m FROM e$prev GROUP BY m
             |  HAVING COUNT(*) >= (SELECT k FROM kv)),
             |e$cur AS MATERIALIZED (SELECT e.m, e.n FROM e$prev e
             |  JOIN k$cur x ON x.m = e.m JOIN k$cur y ON y.m = e.n)""".stripMargin
        s"""WITH dd AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |tg AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
           |    i -> [ws[i] || ' ' || ws[i+1], ws[i+1] || ' ' || ws[i+2]])) AS gs
           |  FROM dd WHERE len(ws) >= 3),
           |e0p AS (SELECT least(gs[1], gs[2]) AS a, greatest(gs[1], gs[2]) AS b
           |  FROM tg WHERE gs[1] <> gs[2]
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |e0 AS MATERIALIZED (SELECT a AS m, b AS n FROM e0p
           |  UNION ALL SELECT b, a FROM e0p),
           |kv AS MATERIALIZED (SELECT GREATEST(2,
           |    ((COUNT(*) // COUNT(DISTINCT m)) * 2) // 3) AS k FROM e0),
           |${peel("0", "1")},
           |${peel("1", "2")},
           |${peel("2", "3")},
           |${peel("3", "4")},
           |${peel("4", "5")},
           |${peel("5", "6")},
           |${peel("6", "7")},
           |${peel("7", "8")}
           |SELECT m AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e8
           |GROUP BY m ORDER BY deg DESC, node LIMIT 20""".stripMargin
      }
    ),
    // Community detection via synchronous label propagation (round 5) —
    // Raghavan et al. 2007's near-linear community extractor, the
    // MODULARITY-side complement of the structural family: components
    // answers "connected?", k-core "dense?", this answers "which
    // cluster?" — the partitioner a curation pipeline runs to group a
    // corpus into topical buckets before per-community sampling. Same
    // bigram co-occurrence graph as kcore/pagerank/linkpred, with the
    // co-occurrence count kept as the edge WEIGHT.
    //
    // FOUR SYNCHRONOUS rounds from singleton labels: each node adopts
    // the label with the greatest total incident edge weight among its
    // neighbors, ties broken by MIN label. Asynchronous/randomized LPA
    // (the paper's default) is banned by the determinism contract;
    // synchronous + fixed rounds + total tie order makes the output a
    // pure function of the edge set. Fixed rounds is also the honest
    // contract — synchronous LPA may oscillate on bipartite structures
    // rather than converge, so "rounds = 4" IS the semantics (observed:
    // label mass stabilizes by round 3 on all three SFs; round-4 ≡
    // round-6 does NOT hold in general and is deliberately not claimed).
    //
    // Determinism: integer weight sums, string min tie-break, final
    // ORDER BY (members DESC, community) — community is unique after
    // the group-by, so the order is total (R1).
    //
    // Plan shape (100 TB): the corpus is touched ONCE (the persisted
    // vocab²-bounded weighted edge relation); every round is one
    // |E|-row join + hash agg + a per-node window that WindowGroupLimit
    // cuts to 1 row map-side; labels chain LINEARLY (one ref per
    // round), so no 3^rounds lineage blowup and no checkpoint needed.
    // Nothing wider than |E| ever shuffles, corpus-size-independent.
    GQ(
      "q_graph_community",
      (s, d) => {
        val tg = bigramPairEdges(Tables.t(s, d, "documents"))
        val pj = tg.select(least(col("g1"), col("g2")).as("a"),
            greatest(col("g1"), col("g2")).as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
        val sym = graft.Caches.persist(
          pj.select(col("a").as("m"), col("b").as("n"), col("w"))
            .union(pj.select(col("b").as("m"), col("a").as("n"), col("w"))))
        val byMass = org.apache.spark.sql.expressions.Window
          .partitionBy(col("m")).orderBy(col("sw").desc, col("label"))
        var labels = sym.select(col("m")).distinct()
          .select(col("m"), col("m").as("label"))
        // One exchange per round, not two (round 12): the label-mass agg
        // keys by (m, label) and the argmax window by m, so left alone
        // each round pays Exchange(m, label) + Exchange(m). The join is a
        // BROADCAST join — no shuffle; Spark picks which side to build
        // (the committed after-plan broadcasts labels in rounds 1-2 and
        // the persisted sym relation in rounds 3-4) — so forcing the
        // post-join distribution to hash(m) serves BOTH consumers:
        // HashPartitioning(m) satisfies ClusteredDistribution(m, label)
        // for the agg and ClusteredDistribution(m) for the window — and
        // the round runs join → one Exchange(m) → partial+final agg →
        // WindowGroupLimit → window, all in one stage after the shuffle.
        // The bytes moved are the raw |E|-row join output instead of the
        // partially-agged (m, label) pairs — early rounds compact little
        // (labels are ~distinct per node), so the volume is the same
        // class; the saved exchange + stage barrier is the win (guide
        // §2.4; A/B in plans/r12/q_graph_community_{before,after}.txt).
        // Skew caveat (round-12 ADVICE): keying the exchange by m alone
        // also drops the map-side partial agg / partial WindowGroupLimit
        // that the (m, label) exchange ran before shuffling, so a
        // high-degree node's raw |E| join rows now land unaggregated on
        // one hash(m) partition. Fine at the vocab-bounded degrees
        // measured here; if the edge relation's degree distribution grows
        // a heavy tail, the (m, label)-keyed two-exchange form is the
        // skew-safe fallback.
        for (_ <- 1 to 4)
          labels = sym.as("e")
            .join(labels.as("l"), col("l.m") === col("e.n"))
            .repartition(col("e.m"))
            .groupBy(col("e.m").as("m"), col("l.label").as("label"))
            .agg(sum(col("e.w")).as("sw"))
            .withColumn("rn", row_number().over(byMass))
            .filter(col("rn") === 1)
            .select(col("m"), col("label"))
        labels.groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("members"))
          .orderBy(col("members").desc, col("community"))
          .limit(20)
      },
      Some {
        // one round: argmax-by-weight with min-label ties; MATERIALIZED
        // because sym is referenced every round and each round references
        // the prior labels (the kcore fd-exhaustion lesson)
        def prop(prev: String, cur: String) =
          s"""l$cur AS MATERIALIZED (SELECT m, label FROM (
             |  SELECT e.m, l.label, SUM(e.w) AS sw,
             |    row_number() OVER (PARTITION BY e.m
             |      ORDER BY SUM(e.w) DESC, l.label) AS rn
             |  FROM sym e JOIN l$prev l ON l.m = e.n
             |  GROUP BY e.m, l.label) WHERE rn = 1)""".stripMargin
        s"""WITH dd AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |tg AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
           |    i -> [ws[i] || ' ' || ws[i+1], ws[i+1] || ' ' || ws[i+2]])) AS gs
           |  FROM dd WHERE len(ws) >= 3),
           |e0p AS (SELECT least(gs[1], gs[2]) AS a, greatest(gs[1], gs[2]) AS b,
           |    COUNT(*) AS w
           |  FROM tg WHERE gs[1] <> gs[2]
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |sym AS MATERIALIZED (SELECT a AS m, b AS n, w FROM e0p
           |  UNION ALL SELECT b, a, w FROM e0p),
           |l0 AS MATERIALIZED (SELECT DISTINCT m, m AS label FROM sym),
           |${prop("0", "1")},
           |${prop("1", "2")},
           |${prop("2", "3")},
           |${prop("3", "4")}
           |SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS members
           |FROM l4 GROUP BY label
           |ORDER BY members DESC, community LIMIT 20""".stripMargin
      }
    ),
    // Degree assortativity (round 5) — Newman 2002's mixing coefficient:
    // the Pearson correlation of (deg(m), deg(n)) over the directed edge
    // set of the symmetrized bigram co-occurrence graph. r > 0 means hubs
    // attach to hubs (social-network-like), r < 0 means hubs attach to
    // leaves (star/hub-and-spoke — typical of text co-occurrence);
    // alongside q_graph_triangles/kcore it completes the structural
    // fingerprint a graph pipeline reports before committing to a
    // partitioning strategy.
    //
    // Determinism: degrees are exact set-construction counts; the five
    // moment sums widen to DECIMAL(38,0) vs HUGEINT BEFORE multiplying
    // (R10 — Σ deg² over edges passes 2^63 once E·deg² ≳ 10¹⁹, reachable
    // at web-scale vocabularies; 128-bit holds essentially forever), then
    // ONE IEEE tree with correctly-rounded sqrt, roundz(6) + R8 (r is
    // signed). Zero variance (regular graph) → NULL by contract.
    //
    // Plan shape (100 TB): corpus touched ONCE (the persisted
    // vocab²-bounded edge agg); degrees are one hash agg over it; the two
    // degree joins and the 1-row moment agg run on the model-sized edge
    // relation — corpus-size-independent forever.
    GQ(
      "q_graph_assortativity",
      (s, d) => {
        val tg = bigramPairEdges(Tables.t(s, d, "documents"))
        val pj = graft.Caches.persist(tg
          .select(least(col("g1"), col("g2")).as("a"),
            greatest(col("g1"), col("g2")).as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2).select(col("a"), col("b")))
        val sym = pj.select(col("a").as("m"), col("b").as("n"))
          .union(pj.select(col("b").as("m"), col("a").as("n")))
        val dg = sym.groupBy(col("m")).agg(count(lit(1)).as("deg"))
        val nv = dg.agg(count(lit(1)).as("n_nodes"))
        val wide = DecimalType(38, 0)
        val e = sym
          .join(dg.select(col("m"), col("deg").as("dx")), "m")
          .join(dg.select(col("m").as("n"), col("deg").as("dy")), "n")
        val mo = e.agg(count(lit(1)).as("ne"),
          sum(col("dx").cast(wide)).as("sx"),
          sum(col("dy").cast(wide)).as("sy"),
          sum(col("dx").cast(wide) * col("dy")).as("sxy"),
          sum(col("dx").cast(wide) * col("dx")).as("sxx"),
          sum(col("dy").cast(wide) * col("dy")).as("syy"))
        def dbl(c: String) = col(c).cast(DoubleType)
        val nD = col("ne").cast(DoubleType)
        val covN = nD * dbl("sxy") - dbl("sx") * dbl("sy")
        val varX = nD * dbl("sxx") - dbl("sx") * dbl("sx")
        val varY = nD * dbl("syy") - dbl("sy") * dbl("sy")
        mo.crossJoin(broadcast(nv))
          .select(col("n_nodes"), col("ne").as("n_edges"),
            when(varX > 0 && varY > 0,
              graft.functions.vec.roundz(covN / sqrt(varX * varY), 6))
              .as("assortativity"))
      },
      Some(s"""WITH dd AS (SELECT string_split(text, ' ') AS ws FROM documents),
              |tg AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
              |    i -> [ws[i] || ' ' || ws[i+1], ws[i+1] || ' ' || ws[i+2]])) AS gs
              |  FROM dd WHERE len(ws) >= 3),
              |e0p AS (SELECT least(gs[1], gs[2]) AS a, greatest(gs[1], gs[2]) AS b
              |  FROM tg WHERE gs[1] <> gs[2]
              |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
              |e0 AS (SELECT a AS m, b AS n FROM e0p
              |  UNION ALL SELECT b, a FROM e0p),
              |dg AS (SELECT m, COUNT(*) AS deg FROM e0 GROUP BY m),
              |mo AS (SELECT COUNT(*) AS ne,
              |    SUM(CAST(x.deg AS HUGEINT)) AS sx,
              |    SUM(CAST(y.deg AS HUGEINT)) AS sy,
              |    SUM(CAST(x.deg AS HUGEINT) * y.deg) AS sxy,
              |    SUM(CAST(x.deg AS HUGEINT) * x.deg) AS sxx,
              |    SUM(CAST(y.deg AS HUGEINT) * y.deg) AS syy
              |  FROM e0 JOIN dg x ON x.m = e0.m JOIN dg y ON y.m = e0.n),
              |nv AS (SELECT COUNT(*) AS n_nodes FROM dg)
              |SELECT nv.n_nodes, mo.ne AS n_edges,
              |  CASE WHEN CAST(ne AS DOUBLE) * CAST(sxx AS DOUBLE)
              |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
              |      AND CAST(ne AS DOUBLE) * CAST(syy AS DOUBLE)
              |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
              |    THEN (ROUND((CAST(ne AS DOUBLE) * CAST(sxy AS DOUBLE)
              |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              |      / sqrt((CAST(ne AS DOUBLE) * CAST(sxx AS DOUBLE)
              |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |        * (CAST(ne AS DOUBLE) * CAST(syy AS DOUBLE)
              |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0)
              |  END AS assortativity
              |FROM mo CROSS JOIN nv""".stripMargin)
    )
  )
}
