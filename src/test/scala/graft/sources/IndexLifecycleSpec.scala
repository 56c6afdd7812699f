package graft.sources

import graft.{Registry, Tables, TestSpark}
import graft.operators.Dedup
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 write-then-serve lifecycle pins (VERDICT item 4): the index
  * artifacts are written BUCKETED once, and serving consumes the layout —
  * proved from the physical plans, and from byte-equality of the served
  * output against the oracle-matched declared query.
  */
class IndexLifecycleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(collectPlan)
  }

  /** [[collectPlan]], additionally descending into cached plans (round 11:
    * the served BM25 rounds persist the query-term-bounded tf relation, so
    * the bucketed index scan now lives INSIDE an InMemoryRelation — the
    * bucketed-scan anchor must see through the cache). The OFFENDER check
    * deliberately keeps the shallow walker: cached relations here are
    * query-bounded (a query's posting lists, the ≤ |q|+5-term q2), so an
    * exchange inside a cache build is a one-off model-sized materialization,
    * not a per-round index re-shuffle. */
  private def collectPlanDeep(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case other => other.children
    }
    p +: kids.flatMap(collectPlanDeep)
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collectPlan(p).collect { case s: ShuffleExchangeExec => s }

  private def hasBucketedScan(p: SparkPlan): Boolean =
    collectPlanDeep(p).exists {
      case f: FileSourceScanExec => f.bucketedScan
      case _ => false
    }

  test("written dedup index serves the incremental probes with ZERO exchanges") {
    val docs = Tables.t(spark, sf, "documents").filter(col("doc_id") >= 4)
    val idxCorpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
      .select(col("doc_id"), col("text"))
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      .select(col("doc_id"), col("text"))
    IndexLifecycle.writeDedupIndex(spark, idxCorpus, "ilc_idx", 4)
    IndexLifecycle.writeDedupIndex(spark, batch, "ilc_batch", 4)

    // broadcast disabled: the shuffle-free property can only come from the
    // bucketed layout (the WarehouseSpec pattern)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val cand = IndexLifecycle.servedNearDupCandidates(spark, "ilc_idx", "ilc_batch")
      val exact = IndexLifecycle.servedExactNew(spark, "ilc_idx", "ilc_batch")

      // plan pins: zero shuffle exchanges on EITHER probe — the write-time
      // bucketing is the only exchange this state ever pays
      val candGot = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactGot = exact.collect().map(_.getLong(0)).toSet
      assert(shuffles(cand.queryExecution.executedPlan).isEmpty,
        s"near-dup candidate probe shuffled:\n${cand.queryExecution.executedPlan}")
      assert(shuffles(exact.queryExecution.executedPlan).isEmpty,
        s"exact-dedup probe shuffled:\n${exact.queryExecution.executedPlan}")
      assert(hasBucketedScan(cand.queryExecution.executedPlan))
      assert(hasBucketedScan(exact.queryExecution.executedPlan))

      // served results equal the in-memory (recompute-from-raw) path
      val blIdx = Dedup.bandRows(Dedup.signaturesOf(Dedup.shingleItemsOf(idxCorpus)))
      val blNew = Dedup.bandRows(Dedup.signaturesOf(Dedup.shingleItemsOf(batch)))
      val candWant = blNew.as("n")
        .join(blIdx.as("i"),
          col("n.bpos") === col("i.bpos") && col("n.bkey") === col("i.bkey"))
        .select(col("n.doc_id"), col("i.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(candGot === candWant)
      val exactWant = batch
        .join(idxCorpus.select(col("text")), Seq("text"), "left_anti")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(exactGot === exactWant)
      assert(exactGot.nonEmpty && candGot.nonEmpty, "degenerate fixture")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("servedClassification: all three branches fire on a planted fixture") {
    // the driver corpora contain no exact duplicate straddling the batch
    // split, so q_dedup_served's dup_exact branch can only be proven here:
    // batch doc 10 is byte-identical to index doc 1, doc 11 near-dups
    // index doc 2 (shares most 3-shingles), doc 12 is unrelated.
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")   // 30 words
    val near = ((1 to 28).map(i => s"w$i") ++ Seq("x1", "x2")).mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    val idx = Seq((1L, base), (2L, base + " tail1 tail2")).toDF("doc_id", "text")
    val batch = Seq((10L, base), (11L, near), (12L, other)).toDF("doc_id", "text")
    IndexLifecycle.writeDedupIndex(spark, idx, "ilc_cls_idx", 2)
    IndexLifecycle.writeDedupIndex(spark, batch, "ilc_cls_new", 2)
    val got = graft.operators.Dedup
      .servedClassification(spark, "ilc_cls_idx", "ilc_cls_new")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(10L) === "dup_exact", s"byte-identical text must classify dup_exact: $got")
    assert(got(11L) === "neardup", s"shared-shingle text must classify neardup: $got")
    assert(got(12L) === "new", s"unrelated text must classify new: $got")
  }

  test("written postings serve BOTH BM25 rounds: no word-keyed exchange over index lineage; output = q_retrieval_queryexp") {
    val docs = Tables.t(spark, sf, "documents")
    IndexLifecycle.writeTextIndex(
      spark, docs.filter(col("doc_id") =!= 0), "ilc_qe", 4)
    val qterms = docs.filter(col("doc_id") === 0)
      .select(explode(split(col("text"), " ")).as("word")).distinct()

    val served = IndexLifecycle.servedQueryExpansion(spark, "ilc_qe", qterms)
    val got = served.collect().map(_.toSeq)
    // byte-equality against the oracle-matched declared query: the written
    // index serves the identical relation the per-run recompute produces
    val want = Registry.byName("q_retrieval_queryexp").run(spark, sf)
      .collect().map(_.toSeq)
    graft.Caches.release(spark)
    assert(got.toSeq === want.toSeq)

    // plan pin: the index's own key NEVER re-shuffles — no ShuffleExchange
    // hash-keyed on `word` may sit over bucketed-scan lineage (the per-doc
    // score aggregations and tiny query-side relations are the only
    // allowed exchanges)
    val plan = served.queryExecution.executedPlan
    val offenders = shuffles(plan).filter { ex =>
      val wordKeyed = ex.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.references.exists(_.name == "word"))
        case _ => false
      }
      wordKeyed && hasBucketedScan(ex.child)
    }
    assert(offenders.isEmpty,
      s"word-keyed exchange over the bucketed index:\n$plan")
    assert(hasBucketedScan(plan), s"no bucketed scan in the served plan:\n$plan")

    // round-11 ADVICE: the offender check's shallow walker rests on the
    // prose argument that cached relations here are query-bounded —
    // machine-check it. Any cached relation that scans the BUCKETED
    // postings must embed the broadcast query-term join (the cache then
    // holds a query's posting lists, never the corpus-sized index): a
    // regression that caches an unjoined index scan — or re-shuffles the
    // index inside a cache build — now fails the spec instead of hiding
    // from the shallow walker.
    val cachedOverPostings = collectPlanDeep(plan).collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        m.relation.cachedPlan
    }.distinct.filter(cp => collectPlanDeep(cp).exists {
      case f: FileSourceScanExec => f.bucketedScan
      case _ => false
    })
    assert(cachedOverPostings.nonEmpty,
      s"expected the per-round tf caches over the bucketed postings:\n$plan")
    cachedOverPostings.foreach { cp =>
      val qtermBounded = collectPlanDeep(cp).exists {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
        case _ => false
      }
      assert(qtermBounded,
        s"cached postings scan without the query-term broadcast join " +
          s"(a corpus-sized cache):\n$cp")
    }
  }

  test("written ANN index: rebuilt quantizer bit-identical, zero retraining, cid never re-shuffles") {
    // round 9 (VERDICT item 3): the ANN third of the lifecycle
    import graft.operators.Ann
    IndexLifecycle.writeAnnIndex(spark, sf, "ilc_ann", 4)

    // the codebook round-trips BIT-IDENTICALLY (flat tier at driver SFs —
    // floats survive parquet exactly), so serving never retrains
    val trained = Ann.quantizerFor(spark, sf).asInstanceOf[Ann.FlatQuantizer]
    val rebuilt = IndexLifecycle.readAnnQuantizer(spark, "ilc_ann")
      .asInstanceOf[Ann.FlatQuantizer]
    assert(rebuilt.cents.map(_._1) === trained.cents.map(_._1))
    assert(rebuilt.cents.zip(trained.cents).forall {
      case ((_, x), (_, y)) => x.sameElements(y) })

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def cidKeyed(p: SparkPlan): Seq[ShuffleExchangeExec] =
        shuffles(p).filter(_.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == "cid"))
          case _ => false
        })
      // SemDeDup serving: bucketed self-join + global top-20
      // TakeOrderedAndProject ⇒ ZERO exchanges anywhere in the plan
      val sem = IndexLifecycle.servedSemanticDedup(spark, "ilc_ann")
      assert(sem.collect().length === 20)
      assert(shuffles(sem.queryExecution.executedPlan).isEmpty,
        s"served SemDeDup shuffled:\n${sem.queryExecution.executedPlan}")
      assert(hasBucketedScan(sem.queryExecution.executedPlan))
      // kNN join serving: the ONLY exchanges are the per-vector ranking
      // window + the declared output ordering — never the cid pair join
      val knn = IndexLifecycle.servedKnnJoin(spark, "ilc_ann")
      assert(knn.collect().nonEmpty)
      val knnPlan = knn.queryExecution.executedPlan
      assert(cidKeyed(knnPlan).isEmpty,
        s"served kNN join re-shuffled on cid:\n$knnPlan")
      assert(shuffles(knnPlan).size <= 2,
        s"served kNN join: beyond window+order exchanges:\n$knnPlan")
      assert(hasBucketedScan(knnPlan))
      // query serving from the rebuilt quantizer + cells artifact equals
      // the oracle-matched declared query byte-for-byte
      val served = IndexLifecycle.servedAnnSearch(spark, "ilc_ann", 5, 4)
      val got = served.collect().map(_.toSeq)
      assert(cidKeyed(served.queryExecution.executedPlan)
        .forall(ex => !hasBucketedScan(ex.child) ||
          // the probe side may shuffle TO the bucketed layout; the cells
          // side itself must not re-shuffle

          !ex.child.toString.contains("ilc_ann_ann_cells")),
        s"served search re-shuffled the cells artifact:\n" +
          served.queryExecution.executedPlan)
      val want = Registry.byName("q_sim_ann_ivf").run(spark, sf)
        .collect().map(_.toSeq)
      graft.Caches.release(spark)
      assert(got.toSeq === want.toSeq)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("postings upsert: delta generation + compaction both serve the full-corpus answer") {
    // round 9 (MAINTAIN): serving main ∪ delta must equal the from-scratch
    // full-corpus query, and folding the generations (compactPostings)
    // must not move a byte — BM25's corpus state (df, N, avgdl) is
    // additive over disjoint doc sets, so any drift is a lifecycle bug.
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") =!= 0)
    val qterms = docs.filter(col("doc_id") === 0)
      .select(explode(split(col("text"), " ")).as("word")).distinct()
    IndexLifecycle.writePostings(spark,
      corpus.filter(pmod(col("doc_id"), lit(7L)) =!= 3L), "ilu_qe_main", 4)
    IndexLifecycle.upsertPostings(spark,
      corpus.filter(pmod(col("doc_id"), lit(7L)) === 3L), "ilu_qe_d1", 4)
    val merged = IndexLifecycle.servedQueryExpansionFrom(
      spark, Seq("ilu_qe_main", "ilu_qe_d1"), qterms)
    val got = merged.collect().map(_.toSeq)
    graft.Caches.release(spark)
    val want = Registry.byName("q_retrieval_queryexp").run(spark, sf)
      .collect().map(_.toSeq)
    graft.Caches.release(spark)
    assert(got.toSeq === want.toSeq,
      "upsert serving diverged from the full-corpus computation")
    IndexLifecycle.compactPostings(spark,
      Seq("ilu_qe_main", "ilu_qe_d1"), "ilu_qe_c", 4)
    val compacted = IndexLifecycle
      .servedQueryExpansion(spark, "ilu_qe_c", qterms)
      .collect().map(_.toSeq)
    graft.Caches.release(spark)
    assert(compacted.toSeq === want.toSeq,
      "compaction moved the served answer")
  }

  test("dedup upsert: accepted docs grow the index, rejected docs never enter it") {
    // round 9 (MAINTAIN): the growth laws a stale or over-merged index
    // would break. Batch 2: doc 10 near-dups the index (REJECTED), docs
    // 11/12 are fresh (ACCEPTED). Batch 3 then probes main ∪ delta:
    //  - 20 re-sends doc 10's exact text — 'neardup', NOT 'dup_exact':
    //    its only byte-identical twin was rejected, so it must match via
    //    the index anchor, not a digest hit (over-merging flips this);
    //  - 21 near-dups ACCEPTED doc 11 — 'neardup' (a stale index that
    //    never folded the delta in says 'new');
    //  - 22 re-sends ACCEPTED doc 12's exact text — 'dup_exact' via the
    //    DELTA digest generation;
    //  - 23 shares nothing — 'new'.
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 28).map(i => s"w$i") ++ Seq("x1", "x2")).mkString(" ")
    val fresh = (1 to 30).map(i => s"z$i").mkString(" ")
    val nearFresh = ((1 to 28).map(i => s"z$i") ++ Seq("y1", "y2")).mkString(" ")
    val fresh2 = (1 to 30).map(i => s"v$i").mkString(" ")
    val other = (1 to 30).map(i => s"q$i").mkString(" ")
    IndexLifecycle.writeDedupIndex(spark,
      Seq((1L, base)).toDF("doc_id", "text"), "ilu_dd_idx", 4)
    IndexLifecycle.writeDedupIndex(spark,
      Seq((10L, near), (11L, fresh), (12L, fresh2)).toDF("doc_id", "text"),
      "ilu_dd_b2", 4)
    val cls2 = Dedup.servedClassification(spark, Seq("ilu_dd_idx"), "ilu_dd_b2")
    val got2 = cls2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 === Map(10L -> "neardup", 11L -> "new", 12L -> "new"))
    IndexLifecycle.upsertDedupIndex(spark, "ilu_dd_b2",
      cls2.filter(col("status") === "new").select(col("doc_id")),
      "ilu_dd_d1", 4)
    IndexLifecycle.writeDedupIndex(spark,
      Seq((20L, near), (21L, nearFresh), (22L, fresh2), (23L, other))
        .toDF("doc_id", "text"),
      "ilu_dd_b3", 4)
    val got3 = Dedup
      .servedClassification(spark, Seq("ilu_dd_idx", "ilu_dd_d1"), "ilu_dd_b3")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got3 === Map(20L -> "neardup", 21L -> "neardup",
      22L -> "dup_exact", 23L -> "new"))
    // compaction moves no byte: folding main + delta into one generation
    // classifies batch 3 identically
    IndexLifecycle.compactDedupIndex(spark,
      Seq("ilu_dd_idx", "ilu_dd_d1"), "ilu_dd_c", 4)
    val gotC = Dedup
      .servedClassification(spark, Seq("ilu_dd_c"), "ilu_dd_b3")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotC === got3, "dedup-index compaction changed the classification")
  }

  test("ANN upsert: delta assigned through the stored codebook equals the in-memory main-trained serve") {
    // round 9 (MAINTAIN): the storage round trip may not move a byte —
    // write(main) → upsert(delta via read-back codebook) → serve(union)
    // must equal the same math with the main-trained quantizer held in
    // memory and never written.
    import graft.operators.Ann
    val e = Tables.t(spark, sf, "embeddings")
    val m = 4L * e.count() / 5L
    val main = e.filter(col("vec_id") < m)
    val delta = e.filter(col("vec_id") >= m)
    IndexLifecycle.writeAnnIndexFor(spark, main, "ilu_ann", 4)
    IndexLifecycle.upsertAnnCells(spark, delta, "ilu_ann", "ilu_ann_d1", 4)
    val got = IndexLifecycle.servedAnnSearchFrom(spark, "ilu_ann",
      Seq("ilu_ann", "ilu_ann_d1"), 5, 4).collect().map(_.toSeq)
    val qz = Ann.quantizerOn(spark, main)
    val cells = qz.assign(spark, main).unionByName(qz.assign(spark, delta))
    val q = qz.probe(spark, e.filter(col("vec_id") < 5), 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cid"))
    val cand = cells.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("cid"))
    val want = Ann.annSearchFrom(q, cand).collect().map(_.toSeq)
    assert(got.toSeq === want.toSeq,
      "the codebook/cells round trip drifted the served answer")
  }

  test("ANN compaction: retrain-flip over main+delta serves the from-scratch answer byte-for-byte") {
    // round 10 (VERDICT item 4): the ANN family's compaction analog —
    // periodic retrain-and-rebuild into a fresh generation — was a
    // scaladoc claim; this pins it as a law. write(main) →
    // upsert(delta) → compact(main ∪ delta → g2, retraining the
    // quantizer on the union corpus read from the CELLS artifacts) must
    // serve exactly what a from-scratch writeAnnIndexFor build of the
    // full corpus serves, and the generation flip must refuse to write
    // onto an input (the requireFreshOut data-loss guard).
    import graft.operators.Ann
    val e = Tables.t(spark, sf, "embeddings")
    val m = 4L * e.count() / 5L
    IndexLifecycle.writeAnnIndexFor(spark, e.filter(col("vec_id") < m),
      "ilk_ann", 4)
    IndexLifecycle.upsertAnnCells(spark, e.filter(col("vec_id") >= m),
      "ilk_ann", "ilk_ann_d1", 4)
    val ex = intercept[IllegalArgumentException] {
      IndexLifecycle.compactAnnIndex(spark,
        Seq("ilk_ann", "ilk_ann_d1"), "ilk_ann", 4)
    }
    assert(ex.getMessage.contains("fresh prefix"),
      s"compact-onto-input must fail loudly, got: ${ex.getMessage}")
    IndexLifecycle.compactAnnIndex(spark,
      Seq("ilk_ann", "ilk_ann_d1"), "ilk_ann_g2", 4)
    IndexLifecycle.writeAnnIndexFor(spark, e, "ilk_ann_ref", 4)
    val got = IndexLifecycle.servedAnnSearch(spark, "ilk_ann_g2", 5, 4)
      .collect().map(_.toSeq)
    val want = IndexLifecycle.servedAnnSearch(spark, "ilk_ann_ref", 5, 4)
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === want.toSeq,
      "post-flip serving drifted from the from-scratch build")
    // the flipped codebook itself is bit-equal to the from-scratch one
    val cbG2 = spark.table("ilk_ann_g2_ann_codebook")
      .orderBy(col("part"), col("idx"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Float](2)))
    val cbRef = spark.table("ilk_ann_ref_ann_codebook")
      .orderBy(col("part"), col("idx"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Float](2)))
    assert(cbG2.toSeq === cbRef.toSeq,
      "retrained codebook drifted from the from-scratch codebook")
  }

  test("ANN codebook round-trips bit-identically on the two-level and product tiers too") {
    // round 9 (review): quantizerOn routes the maintain path into all
    // three tiers, but only the flat tier had a write/read round-trip
    // pin — a serialization regression in the top/sub or a/b model rows
    // would otherwise surface only as wrong ×100 stress candidates.
    import graft.operators.Ann
    val e = Tables.t(spark, sf, "embeddings")
    val two = Ann.trainTwoLevelOn(spark, e, 16)
    IndexLifecycle.writeAnnArtifacts(spark, two, e, "ilu_ann_two", 4)
    IndexLifecycle.readAnnQuantizer(spark, "ilu_ann_two") match {
      case r: Ann.TwoLevelQuantizer =>
        assert(r.top === two.top && r.sub === two.sub && r.subK === two.subK)
      case other => fail(s"two-level codebook read back as $other")
    }
    val prod = Ann.trainProductOn(spark, e, 16)
    IndexLifecycle.writeAnnArtifacts(spark, prod, e, "ilu_ann_prod", 4)
    IndexLifecycle.readAnnQuantizer(spark, "ilu_ann_prod") match {
      case r: Ann.ProductQuantizer =>
        assert(r.a === prod.a && r.b === prod.b)
      case other => fail(s"product codebook read back as $other")
    }
  }
}
