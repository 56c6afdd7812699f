package graft

import org.apache.spark.sql.{Column, NativeColumn}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic laws the engine's semantics must uphold (SURVEY.md §5.2-3).
  *
  * Uses scalacheck generators sampled under fixed seeds (no scalatestplus
  * bridge in the offline cache), so failures are reproducible and each law
  * runs a bounded number of Spark jobs.
  */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.generated

  /** A native expression over the `embedding` column, as a Column. */
  private def onEmbedding(build: Expression => Expression): Column =
    NativeColumn(build(NativeColumn.expression(col("embedding"))))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("union-distinct is idempotent and commutative (reference C2 law)") {
    val lists = Gen.listOfN(30, Gen.chooseNum(-5, 5))
    for ((a, b) <- samples(lists, 5).zip(samples(lists, 5).reverse)) {
      val da = a.toDF("k")
      val db = b.toDF("k")
      val ab = da.union(db).distinct().as[Int].collect().sorted.toSeq
      val ba = db.union(da).distinct().as[Int].collect().sorted.toSeq
      val abTwice = da.union(db).distinct().distinct().as[Int].collect().sorted.toSeq
      assert(ab === (a ++ b).distinct.sorted)
      assert(ab === ba)
      assert(ab === abTwice)
    }
  }

  test("cast-all-to-string is total and preserves row count (reference P7 law)") {
    val rowGen = Gen.zip(
      Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.oneOf(Gen.const(Double.NaN), Gen.const(Double.PositiveInfinity),
        Gen.chooseNum(-1e18, 1e18)),
      Gen.asciiPrintableStr)
    for (rs <- samples(Gen.listOfN(20, rowGen), 5)) {
      val df = rs.toDF("a", "b", "c")
      val cast = df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)
      assert(cast.count() === rs.size.toLong)
      assert(cast.schema.fields.forall(_.dataType.typeName == "string"))
    }
  }

  test("exact-dedup output is a fixpoint and a subset (NS dedup law)") {
    val texts = Gen.listOfN(25, Gen.oneOf("x", "y y", "z z z", "w", "v v"))
    for (ts <- samples(texts, 5)) {
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def dedup(in: org.apache.spark.sql.DataFrame) =
        in.groupBy("text").agg(min("doc_id").as("doc_id"))
      val once = dedup(df).select("doc_id", "text")
      val twice = dedup(once).select("doc_id", "text")
      val a = once.collect().map(_.toSeq).toSet
      assert(a === twice.collect().map(_.toSeq).toSet)
      assert(a.subsetOf(df.select("doc_id", "text").collect().map(_.toSeq).toSet))
    }
  }

  test("decimal money math matches BigDecimal regardless of partitioning (R2)") {
    val cents = Gen.listOfN(40, Gen.chooseNum(-100000L, 100000L))
    for (cs <- samples(cents, 5)) {
      val doubles = cs.map(c => c.toDouble / 100.0)
      val expected = cs.map(BigDecimal(_)).sum / 100
      for (parts <- Seq(1, 3)) {
        val got = doubles.toDF("v").repartition(parts)
          .agg(C.sumDec2(col("v")).as("s")).as[Double].collect().head
        assert(BigDecimal(got) === expected, s"parts=$parts")
      }
    }
  }

  test("top-k is stable under input shuffling (R1 determinism)") {
    val rowGen = Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(0, 999))
    for (rs <- samples(Gen.listOfN(30, rowGen), 5)) {
      val df = rs.distinct.toDF("k", "v") // distinct rows => unique tie-break
      def top(in: org.apache.spark.sql.DataFrame) =
        in.orderBy(col("v").desc, col("k")).limit(5).collect().map(_.toSeq).toSeq
      assert(top(df) === top(df.repartition(7)))
    }
  }

  /** Random word-soup documents over a small vocabulary (forces overlap),
    * including engineered near-dup pairs. */
  private def randomDocs(seedBase: Long, n: Int): Seq[(Long, String)] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "kappa", "sigma",
      "omega", "zeta", "theta", "iota")
    val docGen = Gen.chooseNum(3, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val base = (1 to n).flatMap(i =>
      docGen.apply(Gen.Parameters.default, Seed(seedBase + i))).toVector
    // plant exact and near duplicates so the ≥ 0.5 band is populated
    val planted = base.take(3) ++ base.take(3).map(_ + " omega")
    (base ++ planted).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("prefix-filter blocked Jaccard equals the brute-force quadratic (candidate-recall law)") {
    // The PPJoin prefix theorem is the one piece of round-2 machinery whose
    // failure mode is a silently MISSING pair — check it against an
    // in-memory brute force on random corpora, same τ=0.5 / top-20 contract.
    for (s <- Seq(100L, 200L, 300L)) {
      val docs = randomDocs(s, 25)
      val dir = TestSpark.jvmTempDir("jacprop-")
      docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Registry.byName("q_dedup_jaccard_words").run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
      val brute = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size.toDouble
        j = inter / (sa.size + sb.size - inter) if j >= 0.5
      } yield (a, b, j)).toSeq
        .sortBy { case (a, b, j) => (-j, a, b) }.take(20)
      assert(got === brute, s"seed $s")
    }
  }

  test("winnowing guarantee: any shared run of ≥ w+k-1 words yields a shared fingerprint") {
    // MOSS theorem (k=3, w=4): two documents sharing a contiguous run of at
    // least w+k-1 = 6 words must share at least one winnowed fingerprint.
    val run = "sigma kappa delta beta gamma alpha" // 6 shared words
    for (s <- Seq(400L, 500L)) {
      val noise = randomDocs(s, 6).map(_._2)
      val docs = Seq(
        (1L, s"${noise(0)} $run ${noise(1)}"),
        (2L, s"${noise(2)} $run"),
        (3L, noise(3)), (4L, noise(4))) // controls without the run
      val dir = TestSpark.jvmTempDir("winprop-")
      docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val pairs = Registry.byName("q_dedup_winnow_pairs").run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)),
        s"seed $s: planted shared run must produce a shared fingerprint")
    }
  }

  test("PqEncode: interpreted eval equals the codegen path on random vectors") {
    // the one-kernel rule every native expression follows (SURVEY §7.3):
    // nullSafeEval and the generated code both call the companion's static
    // kernel, so the two paths must agree. Random float vectors + a random
    // codebook; the generated path must agree with direct interpreted eval.
    import graft.functions.PqEncode
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1.0f, 1.0f))
    val cb: Vector[Vector[Float]] =
      samples(vecGen, 8).map(_.toVector).toVector
    val rows: Seq[Seq[Float]] = samples(vecGen, 40).map(_.toSeq)
    val viaCodegen = generated(rows.toDF("embedding"), onEmbedding(PqEncode(_, cb, 4, 1e12)))
      .map(_.getSeq[Int](0).toVector).toSeq
    val direct = rows.map { v =>
      PqEncode(org.apache.spark.sql.catalyst.expressions.Literal(0), cb, 4, 1e12)
        .nullSafeEval(new GenericArrayData(v.toArray))
        .asInstanceOf[GenericArrayData].toIntArray().toVector
    }
    assert(viaCodegen === direct)
  }

  test("CosineSimilarity: interpreted eval equals the codegen path; mismatched lengths are NULL") {
    import graft.functions.CosineSimilarity
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vs = samples(Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f)), 40)
    // every 5th pair has a 7-long right side; a zero vector scores 0.0
    val rows: Seq[(Seq[Float], Seq[Float])] =
      vs.zip(vs.reverse).zipWithIndex.map { case ((x, y), i) =>
        if (i % 5 == 0) (x, y.take(7)) else (x, y)
      } :+ ((Seq.fill(8)(0.0f), vs.head))
    val cos = NativeColumn(CosineSimilarity(
      NativeColumn.expression(col("x")), NativeColumn.expression(col("y"))))
    val viaCodegen = generated(rows.toDF("x", "y"), cos)
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    val direct = rows.map { case (x, y) =>
      Option(CosineSimilarity(Literal(0), Literal(0))
        .nullSafeEval(new GenericArrayData(x.toArray), new GenericArrayData(y.toArray)))
        .map(_.asInstanceOf[Double])
    }
    assert(viaCodegen === direct)
    assert(rows.zip(viaCodegen).forall { case ((x, y), got) => got.isEmpty == (x.size != y.size) })
    assert(viaCodegen.last === Some(0.0))
  }

  test("PqAdcMulti: interpreted eval equals the codegen path; an out-of-range qidx fails alike") {
    import graft.functions.PqAdcMulti
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val m = 4; val ks = 6; val nQ = 3
    val lut = samples(Gen.chooseNum(0L, 1L << 40), nQ * m * ks).toVector
    val rows: Seq[(Seq[Int], Int)] =
      samples(Gen.listOfN(m, Gen.chooseNum(0, ks - 1)), 40).zipWithIndex
        .map { case (codes, i) => (codes, i % nQ) }
    val factory = PqAdcMulti.broadcastOf(spark, lut, m, ks, nQ)
    val adc = NativeColumn(factory(
      NativeColumn.expression(col("codes")), NativeColumn.expression(col("qidx"))))
    def direct(codes: Seq[Int], qidx: Int): Any =
      factory(Literal(0), Literal(0)).nullSafeEval(new GenericArrayData(codes.toArray), qidx)
    val viaCodegen = generated(rows.toDF("codes", "qidx"), adc).map(_.getLong(0)).toSeq
    assert(viaCodegen === rows.map { case (codes, q) => direct(codes, q) })
    assert(viaCodegen === rows.map { case (codes, q) =>
      codes.indices.map(i => lut(q * m * ks + i * ks + codes(i))).sum
    })
    for (bad <- Seq(nQ, -1)) {
      val want = intercept[IllegalArgumentException](direct(rows.head._1, bad)).getMessage
      assert(want === s"pq_adc_multi: query index $bad outside stacked LUT ($nQ slabs of ${m * ks} entries)")
      val e = intercept[Exception](generated(Seq((rows.head._1, bad)).toDF("codes", "qidx"), adc))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(want))), e)
    }
  }

  test("q_dedup_incremental: planted near-dup reports new->index, never the reverse") {
    // MiniData has no doc_id divisible by 10, so the incremental query's
    // semantics need a planted corpus: doc 10 (NEW batch, id % 10 == 0)
    // near-duplicates indexed doc 3; doc 20 is new and unique. The query
    // must report exactly (10 -> 3) — the new doc is the one dropped, the
    // indexed corpus is never reported, and unique new docs pass through.
    import spark.implicits._
    val shared = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (3L, shared, "en", "src0"),
      (10L, shared + " tail", "en", "src0"),
      (20L, (1 to 30).map(i => s"u$i").mkString(" "), "en", "src0"),
      (7L, (1 to 30).map(i => s"v$i").mkString(" "), "en", "src0"))
    val dir = TestSpark.jvmTempDir("incprop-")
    docs.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("q_dedup_incremental").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((10L, 3L)),
      s"planted duplicate must surface as new->index exactly once: ${out.toSeq}")
  }

  test("bfsHops: node ids >= 2^42 survive the monotone state sum under ANSI mode") {
    // round 6 (VERDICT r5 item 4): pin the round-4 ADVICE fix — comp casts
    // to DECIMAL(38,0) BEFORE the *2^20 multiply in stateSum; a LongType
    // comp*2^20 product overflows for ids >= 2^42 (ANSI-on -> throw, the
    // default in every run here). Two components, one with huge ids.
    import spark.implicits._
    val big = 1L << 50
    val edges = Seq(
      (big, big + 1L), (big + 1L, big + 2L), // a 3-chain at huge ids
      (7L, 9L)) // a small pair
      .toDF("a_id", "b_id")
    val out = graft.operators.Dedup.bfsHops(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set(
      (big, big, 0L), (big + 1L, big, 1L), (big + 2L, big, 2L),
      (7L, 7L, 0L), (9L, 7L, 1L)),
      s"bfs state over huge ids must stay exact: $out")
  }

  test("digest-clustered exact dedup: planted duplicate groups resolve on TEXT, not digest") {
    // round 6 — q_dedup_exact/cluster group on (xxhash64(text), text): the
    // digest narrows the exchange key, the in-partition text comparison is
    // the equality confirm. Planted corpus: two verbatim-duplicate groups
    // (ids {5,9,2} and {11,4}) among unique docs — survivors must be the
    // per-TEXT min ids, cluster sizes the per-TEXT counts. An engine that
    // trusted the digest alone would pass this too (xxhash64 collisions
    // can't be planted), so the law this pins is the digest layer being
    // TRANSPARENT: outputs bit-equal to plain groupBy(text) on the same
    // fixture, computed here inline as the reference.
    import spark.implicits._
    val dupA = (1 to 40).map(i => s"a$i").mkString(" ")
    val dupB = (1 to 25).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (5L, dupA), (9L, dupA), (2L, dupA), (11L, dupB), (4L, dupB),
      (7L, "solo one"), (3L, "solo two"))
    val dir = TestSpark.jvmTempDir("dedupexact-")
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Registry.byName("q_dedup_exact").run(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(2L, 3L, 4L, 7L), s"survivors: $kept")
    val clusters = Registry.byName("q_dedup_cluster").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(clusters === Seq((2L, 3L), (4L, 2L)), s"clusters: $clusters")
  }

  test("q_llm_pipeline: each gate drops its planted victim; splits partition s5 exactly") {
    // round 6 (VERDICT r5 item 5): a planted corpus where every stage has a
    // designated victim — a 2-word doc (quality), a verbatim copy (exact),
    // a last-word-changed copy (near-dup: 1 of 39 shingles differs,
    // jaccard 37/39 ≈ 0.95 — band collision certain for these fixed
    // hashes), and a doc quoting a benchmark 3-gram (decontam). The ledger
    // must account: pinned survivor counts s0→s4, monotone tokens, the
    // chunk column = ceil(tokens/512) on every row, and the split rows
    // partitioning the released corpus exactly (counts/tokens add up,
    // content fingerprints XOR to s5's — which holds only if every s5 doc
    // lands in EXACTLY one split).
    import spark.implicits._
    def words(tag: String, n: Int): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val qualityA = words("a", 40)
    val nearDup = words("a", 39) + " zz" // differs from qualityA in word 40 only
    val docs: Seq[(Long, String, String)] =
      Seq( // benchmark slice (doc_id < 4)
        (0L, "b1 b2 b3 b4 b5", "en"),
        (1L, "p q r", "en"), (2L, "s t u", "en"), (3L, "v w x", "en"),
        // corpus: the four victims
        (4L, "tiny doc", "en"), // dies at s1 (2 words)
        (5L, qualityA, "en"), (6L, qualityA, "en"), // 6 dies at s2
        (7L, nearDup, "en"), // dies at s3 (verified pair (5,7), larger id)
        (8L, words("c", 37) + " b1 b2 b3", "en") // dies at s4 (bench gram)
      ) ++ // clean survivors: disjoint vocab, two imbalanced langs
        (9L to 16L).map(i => (i, words(s"d${i}w", 40), "en")) ++
        (17L to 20L).map(i => (i, words(s"d${i}w", 30), "xx"))
    val dir = TestSpark.jvmTempDir("llmpipe-")
    docs.map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("q_llm_pipeline").run(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val funnel = Seq("s0_corpus", "s1_quality", "s2_exact", "s3_neardup",
      "s4_decontam", "s5_mix")
    assert(funnel.take(5).map(out(_)._1) === Seq(17L, 16L, 15L, 14L, 13L),
      s"each gate must drop exactly its planted victim: $out")
    for (Seq(a, b) <- funnel.sliding(2))
      assert(out(b)._2 <= out(a)._2, s"$b tokens grew past $a: $out")
    for ((st, (_, tok, ch, _)) <- out)
      assert(ch === (tok + 511) / 512, s"$st chunk capacity law: $out")
    val (d5, t5, _, f5) = out("s5_mix")
    assert(d5 > 0 && d5 <= 13, s"mix gate range: $out")
    val splits = out.keys.filter(_.startsWith("s6_")).toSeq
    assert(splits.map(out(_)._1).sum === d5, s"split docs != s5: $out")
    assert(splits.map(out(_)._2).sum === t5, s"split tokens != s5: $out")
    assert(splits.map(out(_)._4).reduce(_ ^ _) === f5, s"split fps != s5: $out")
  }

  test("rankBounded equals the global row_number on every random multiset (window-free rank law)") {
    // round 6: rankBounded is the banned-global-window replacement for
    // top-k rank assignment (hybrid RRF, textrank top-20). Its contract is
    // BIT-equality with row_number() over the same total order — proven
    // here on random data with heavy ties, under both sort directions,
    // with the unique key breaking ties.
    import org.apache.spark.sql.expressions.Window
    val rows = Gen.listOfN(40, Gen.chooseNum(0, 5)) // few values -> many ties
    for ((vals, desc) <- samples(rows, 3).zip(Seq(true, false, true))) {
      val df = vals.zipWithIndex.map { case (v, i) => (v.toLong, i.toLong) }
        .toDF("v", "k")
      val got = graft.C.rankBounded(df, "r", ("v", desc), ("k", false))
        .orderBy(col("k")).select(col("k"), col("r"))
        .as[(Long, Long)].collect().toSeq
      val ord = if (desc) Window.orderBy(col("v").desc, col("k").asc)
        else Window.orderBy(col("v").asc, col("k").asc)
      val want = df.select(col("k"), row_number().over(ord).cast("long").as("r"))
        .orderBy(col("k")).as[(Long, Long)].collect().toSeq
      assert(got === want, s"desc=$desc vals=$vals")
    }
  }

  test("digestClustered grouping equals direct text grouping (8-byte exchange-key law)") {
    // round 6: exact dedup exchanges on xxhash64(text) and confirms with
    // the in-partition (h, text) compound key. The law: min-id-per-text
    // through the digest path is IDENTICAL to grouping on raw text — the
    // compound key makes the result collision-proof by construction, and
    // the digest is only ever a routing key.
    val texts = Gen.listOfN(60,
      Gen.oneOf("alpha beta", "gamma", "delta epsilon zeta", "eta", "theta i"))
    for (ts <- samples(texts, 3)) {
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup.digestClustered(df)
        .groupBy(col("h"), col("text"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("text"), col("doc_id"))
        .as[(String, Long)].collect().toSeq.sorted
      val want = df.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .as[(String, Long)].collect().toSeq.sorted
      assert(got === want)
    }
  }

  test("TopCells: plan size is independent of the codebook size (broadcast handle, not literals)") {
    // round 6 (VERDICT r5 item 2 done-criterion): with k = N/125 centroids,
    // an expression that serializes the matrix into the plan grows linearly
    // with N — the banned unbounded-driver-artifact shape. The broadcast
    // form must print/carry an opaque handle: a 32x-larger codebook may not
    // grow the analyzed plan text beyond incidental id-width noise.
    import graft.functions.TopCells
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f))
    def planLen(k: Int): Int = {
      val cents = samples(vecGen, k).map(_.toVector).toVector
      val factory = TopCells.broadcastOf(spark, cents, 3, 1e12)
      Seq(Seq.fill(8)(0.1f)).toDF("embedding")
        .select(onEmbedding(factory).as("c"))
        .queryExecution.analyzed.toString.length
    }
    val small = planLen(8)
    val big = planLen(256)
    assert(math.abs(big - small) <= 64,
      s"plan text grew with the codebook: k=8 -> $small chars, k=256 -> $big")
  }

  test("TopCells: interpreted eval equals the codegen path on random vectors") {
    // same dual-path law for the IVF cell selector, including the ordering
    // contract: (quantized cosine DESC, cid ASC)
    import graft.functions.TopCells
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f))
    val cents: Vector[Vector[Float]] =
      samples(vecGen, 12).map(_.toVector).toVector
    val rows: Seq[Seq[Float]] = samples(vecGen, 40).map(_.toSeq)
    val factory = TopCells.broadcastOf(spark, cents, 3, 1e12)
    val viaCodegen = generated(rows.toDF("embedding"), onEmbedding(factory))
      .map(_.getSeq[Int](0).toVector).toSeq
    val direct = rows.map { v =>
      factory(org.apache.spark.sql.catalyst.expressions.Literal(0))
        .nullSafeEval(new GenericArrayData(v.toArray))
        .asInstanceOf[GenericArrayData].toIntArray().toVector
    }
    assert(viaCodegen === direct)
    // ranking sanity against a scala-side reference ordering
    for ((v, got) <- rows.zip(direct)) {
      def cos(c: Vector[Float]): Double = {
        var dot = 0.0; var nx = 0.0; var ny = 0.0
        for (i <- v.indices) {
          dot += v(i).toDouble * c(i).toDouble
          nx += v(i).toDouble * v(i).toDouble
          ny += c(i).toDouble * c(i).toDouble
        }
        val den = math.sqrt(nx) * math.sqrt(ny)
        if (den == 0.0) 0.0 else dot / den
      }
      val want = cents.indices
        .map(i => (math.floor(cos(cents(i)) * 1e12).toLong, i))
        .sortBy { case (q, i) => (-q, i) }.take(3).map(_._2).toVector
      assert(got === want)
    }
  }

  test("ProductCells: plan size is independent of the grid size (two broadcast handles)") {
    // the round-8 product-IMI quantizer inherits the round-6 done-criterion:
    // kA·kB leaves must not grow the plan — both half-space codebooks
    // travel as broadcasts
    import graft.functions.ProductCells
    val halfGen = Gen.listOfN(4, Gen.chooseNum(-1.0f, 1.0f))
    def planLen(kSide: Int): Int = {
      val a = samples(halfGen, kSide).map(_.toVector).toVector
      val b = samples(halfGen, kSide).map(_.toVector).toVector
      val factory = ProductCells.broadcastOf(spark, a, b, 3, 3, 1e12)
      Seq(Seq.fill(8)(0.1f)).toDF("embedding")
        .select(onEmbedding(factory).as("c"))
        .queryExecution.analyzed.toString.length
    }
    val small = planLen(3)
    val big = planLen(48)
    assert(math.abs(big - small) <= 64,
      s"plan text grew with the grid: 9 leaves -> $small chars, 2304 -> $big")
  }

  test("ProductCells: interpreted == codegen == scala reference (product frontier law)") {
    // dual-path law plus the full selection contract: per-half rankings
    // (quantized d² ASC, id ASC), candidates = pSide×pSide frontier,
    // ranked (exact integer half-sum ASC, cid = a·kB + b ASC); and the
    // assignment special case (pSide = 1, topN = 1) must equal the EXACT
    // brute-force argmin over the whole kA·kB grid — the decomposition
    // property the product quantizer's correctness rests on.
    import graft.functions.ProductCells
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val halfGen = Gen.listOfN(4, Gen.chooseNum(-1.0f, 1.0f))
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f))
    val kA = 5; val kB = 4
    val a: Vector[Vector[Float]] = samples(halfGen, kA).map(_.toVector).toVector
    val b: Vector[Vector[Float]] = samples(halfGen, kB).map(_.toVector).toVector
    val rows: Seq[Seq[Float]] = samples(vecGen, 40).map(_.toSeq)
    def d2q(v: Seq[Float], c: Vector[Float], off: Int): Long = {
      var acc = 0.0
      for (i <- c.indices) {
        val d = v(off + i).toDouble - c(i).toDouble
        acc += d * d
      }
      math.floor(acc * 1e12).toLong
    }
    for ((pSide, topN) <- Seq((1, 1), (3, 4), (2, 9))) {
      val mk = { // direct expression instance for the interpreted path
        val aBc = spark.sparkContext.broadcast(a.flatten.map(_.toDouble).toArray)
        val bBc = spark.sparkContext.broadcast(b.flatten.map(_.toDouble).toArray)
        (child: org.apache.spark.sql.catalyst.expressions.Expression) =>
          ProductCells(child, aBc, bBc, kA, kB, 8, pSide, topN, 1e12)
      }
      val viaCodegen = generated(rows.toDF("embedding"), onEmbedding(mk))
        .map(_.getSeq[Int](0).toVector).toSeq
      val direct = rows.map { v =>
        mk(org.apache.spark.sql.catalyst.expressions.Literal(0))
          .nullSafeEval(new GenericArrayData(v.toArray))
          .asInstanceOf[GenericArrayData].toIntArray().toVector
      }
      assert(viaCodegen === direct, s"dual-path split at pSide=$pSide topN=$topN")
      for ((v, got) <- rows.zip(direct)) {
        val aBest = (0 until kA).map(i => (d2q(v, a(i), 0), i))
          .sorted.take(math.min(pSide, kA))
        val bBest = (0 until kB).map(i => (d2q(v, b(i), 4), i))
          .sorted.take(math.min(pSide, kB))
        val want = (for { (qa, ai) <- aBest; (qb, bi) <- bBest }
          yield (qa + qb, ai * kB + bi))
          .sorted.take(topN).map(_._2).toVector
        assert(got === want, s"frontier law broke at pSide=$pSide topN=$topN")
        if (pSide == 1 && topN == 1) {
          // exact-argmin decomposition: the two independent half argmins
          // ARE the global grid argmin under summed quantized L2
          val brute = (for { ai <- 0 until kA; bi <- 0 until kB }
            yield (d2q(v, a(ai), 0) + d2q(v, b(bi), 4), ai * kB + bi))
            .min._2
          assert(got === Vector(brute))
        }
      }
    }
  }

  test("q_llm_pipeline_incremental: full run = fold of doc_id-ordered incremental runs") {
    // THE round-7 reconciliation law (VERDICT item 4): partition the corpus
    // into doc_id-ordered batches, ingest them through incrementalLedger
    // one at a time (run i's index = batches 1..i-1), and the folded deltas
    // must equal the full q_llm_pipeline ledger EXACTLY — counts and token
    // sums add, membership fingerprints XOR. Stage by stage: d0/d1 fold to
    // s0/s1 trivially (disjoint scans); d2 folds because min-id-per-text
    // respects doc_id order across ordered batches; d3 folds because every
    // full-run drop partner a < b lives in b's batch or an earlier one, and
    // the batch rule (any-index partner OR smaller in-batch partner)
    // coincides exactly under ordered batches; d4 is a per-doc gate. The
    // last run's c2_corpus must equal the full run's s2 state, and every
    // run must self-reconcile (c2 = i2 ⊕ d2).
    import graft.operators.LlmPipeline
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") >= 4)
    val bench = docs.filter(col("doc_id") < 4)
    val cuts = Seq(4L, 170L, 340L, Long.MaxValue)
    type Led = Map[String, (Long, Long, Long)]
    def toMapLed(rows: Array[org.apache.spark.sql.Row]): Led =
      rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    val runs: Seq[Led] = (0 until 3).map { i =>
      val led = toMapLed(LlmPipeline.incrementalLedger(
        spark,
        corpus.filter(col("doc_id") < cuts(i + 1)),
        col("doc_id") >= cuts(i),
        bench).collect())
      graft.Caches.release(spark)
      led
    }
    // every batch must be non-trivial for the law to mean anything
    assert(runs.forall(_("d0_batch")._1 > 0), s"degenerate batch split: $runs")
    // self-reconciliation inside each run: c2 = i2 (+, XOR) d2
    for (r <- runs) {
      assert(r("c2_corpus")._1 === r("i2_index")._1 + r("d2_exact")._1)
      assert(r("c2_corpus")._2 === r("i2_index")._2 + r("d2_exact")._2)
      assert(r("c2_corpus")._3 === (r("i2_index")._3 ^ r("d2_exact")._3))
    }
    def fold(stage: String): (Long, Long, Long) =
      runs.map(_(stage)).reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 ^ b._3))
    val full = toMapLed(Registry.byName("q_llm_pipeline").run(spark, sf).collect())
    graft.Caches.release(spark)
    assert(fold("d0_batch") === full("s0_corpus"))
    assert(fold("d1_quality") === full("s1_quality"))
    assert(fold("d2_exact") === full("s2_exact"))
    assert(fold("d3_neardup") === full("s3_neardup"))
    assert(fold("d4_decontam") === full("s4_decontam"))
    // the post-ingest state after the last batch IS the full s2 corpus
    assert(runs.last("c2_corpus") === full("s2_exact"))
  }

  test("reconciledMix: successor stages after the last ordered batch = the full run's s3..s6") {
    // round-8 law (VERDICT item 5): mix/split thresholds are global state,
    // so the daily run recomputes them over the reconciled corpus
    // c2 = i2 ∪ d2. Under doc_id-ordered batches the last run's c2 equals
    // the full run's s2 EXACTLY (the round-7 fold law), and since
    // reconciledMix routes c2 through the SAME successorsOf machinery the
    // full pipeline uses, every successor row — near-dup, decontam, mix,
    // and all three splits — must equal the full run's, fingerprints
    // included: the daily run and the from-scratch run ship the identical
    // release.
    import graft.operators.LlmPipeline
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.t(spark, sf, "documents")
    val mix = LlmPipeline.reconciledMix(
      spark,
      docs.filter(col("doc_id") >= 4),
      col("doc_id") >= 340, // the last ordered batch; index = ids before it
      docs.filter(col("doc_id") < 4)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    graft.Caches.release(spark)
    val full = Registry.byName("q_llm_pipeline").run(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    graft.Caches.release(spark)
    assert(mix("c2_corpus") === full("s2_exact"))
    assert(mix("m3_neardup") === full("s3_neardup"))
    assert(mix("m4_decontam") === full("s4_decontam"))
    assert(mix("m5_mix") === full("s5_mix"))
    for (split <- Seq("train", "val", "test"))
      assert(mix(s"m6_$split") === full(s"s6_$split"),
        s"split $split diverged between the daily and from-scratch runs")
  }

  test("TwoLevelCells: plan size is independent of the codebook size (two broadcast handles)") {
    // the round-7 IMI quantizer inherits TopCells' round-6 done-criterion:
    // k leaves must not grow the plan — both matrices travel as broadcasts
    import graft.functions.TwoLevelCells
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f))
    def planLen(kTop: Int, subK: Int): Int = {
      val top = samples(vecGen, kTop).map(_.toVector).toVector
      val sub = samples(vecGen, kTop * subK).map(_.toVector).toVector
      val factory = TwoLevelCells.broadcastOf(spark, top, sub, subK, 3, 3, 1e12)
      Seq(Seq.fill(8)(0.1f)).toDF("embedding")
        .select(onEmbedding(factory).as("c"))
        .queryExecution.analyzed.toString.length
    }
    val small = planLen(3, 3)
    val big = planLen(16, 16)
    assert(math.abs(big - small) <= 64,
      s"plan text grew with the leaf count: 9 -> $small chars, 256 -> $big")
  }

  test("TwoLevelCells: interpreted == codegen == scala reference (probe order law)") {
    // dual-path law plus the full selection contract: candidates are the
    // sub-codebooks of the pTop best top cells, ranked globally
    // (quantized cosine DESC, leaf cid ASC) — the explicit (q, cid)
    // comparator must break CROSS-top-cell ties toward the smaller cid
    // even though candidates arrive in top-cell quality order.
    import graft.functions.TwoLevelCells
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f))
    val kTop = 4; val subK = 3; val pTop = 2; val topN = 4
    val top: Vector[Vector[Float]] = samples(vecGen, kTop).map(_.toVector).toVector
    val sub: Vector[Vector[Float]] =
      samples(vecGen, kTop * subK).map(_.toVector).toVector
    val rows: Seq[Seq[Float]] = samples(vecGen, 40).map(_.toSeq)
    val factory = TwoLevelCells.broadcastOf(spark, top, sub, subK, pTop, topN, 1e12)
    val viaCodegen = generated(rows.toDF("embedding"), onEmbedding(factory))
      .map(_.getSeq[Int](0).toVector).toSeq
    val direct = rows.map { v =>
      factory(org.apache.spark.sql.catalyst.expressions.Literal(0))
        .nullSafeEval(new GenericArrayData(v.toArray))
        .asInstanceOf[GenericArrayData].toIntArray().toVector
    }
    assert(viaCodegen === direct)
    def qcos(v: Seq[Float], c: Vector[Float]): Long = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- v.indices) {
        dot += v(i).toDouble * c(i).toDouble
        nx += v(i).toDouble * v(i).toDouble
        ny += c(i).toDouble * c(i).toDouble
      }
      val den = math.sqrt(nx) * math.sqrt(ny)
      math.floor((if (den == 0.0) 0.0 else dot / den) * 1e12).toLong
    }
    for ((v, got) <- rows.zip(direct)) {
      val probedTops = (0 until kTop)
        .map(t => (qcos(v, top(t)), t)).sortBy { case (q, t) => (-q, t) }
        .take(pTop).map(_._2)
      val want = probedTops
        .flatMap(t => (t * subK until (t + 1) * subK))
        .map(cid => (qcos(v, sub(cid)), cid))
        .sortBy { case (q, cid) => (-q, cid) }
        .take(topN).map(_._2).toVector
      assert(got === want)
    }
  }

  /** Write a planted documents corpus and return its dir (the
    * q_dedup_incremental pattern, shared by the round-4 planted-law tests). */
  private def plantDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = TestSpark.jvmTempDir("plantprop-")
    rows.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_dedup_cdc: boundaries re-align after an edit where fixed spans cannot") {
    // THE content-defined-chunking law: insert one word near the front of a
    // copy — chunks after the edit's chunk re-align (shared), while the
    // fixed 10-word grid of q_dedup_spans shifts every span, sharing none.
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val edited = "xx " + base
    val dir = plantDocs(Seq(
      (1L, base, "en", "src0"),
      (2L, edited, "en", "src0"),
      (3L, (1 to 60).map(i => s"u$i").mkString(" "), "en", "src0")))
    val cdc = Registry.byName("q_dedup_cdc").run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cdc(1L) > 0 && cdc(2L) > 0,
      s"edited near-copy must share re-aligned chunks: $cdc")
    assert(cdc(3L) === 0, s"unrelated doc must share nothing: $cdc")
    val spans = Registry.byName("q_dedup_spans").run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(spans(1L) === 0 && spans(2L) === 0,
      s"fixed grid shares no span after a 1-word shift (the contrast CDC exists for): $spans")
  }

  test("q_text_textrank: hub of a planted star ranks first; mass is conserved") {
    // star graph: 'hub' co-occurs with every spoke, spokes only with hub —
    // the highest-centrality node must rank #1; quantized PR mass can only
    // shrink (floor losses), never exceed the initial 1e9.
    val dir = plantDocs((1 to 10).map(i =>
      (i.toLong, s"hub s$i", "en", "src0")))
    val out = Registry.byName("q_text_textrank").run(spark, dir).collect()
    assert(out.head.getString(1) === "hub",
      s"star hub must rank first: ${out.map(_.getString(1)).toSeq}")
    val mass = out.map(_.getLong(2)).sum
    assert(mass > 0L && mass <= 1000000000L,
      s"quantized PR mass must stay within the initial budget: $mass")
  }

  test("q_set_overlap_kmv: identical sources estimate 1.0, disjoint 0.0") {
    val texts = (1 to 5).map(k => (1 to 12).map(i => s"t${k}x$i").mkString(" "))
    val other = (1 to 5).map(k => (1 to 12).map(i => s"z${k}y$i").mkString(" "))
    val dir = plantDocs(
      texts.zipWithIndex.map { case (t, i) => (i + 1L, t, "en", "src0") } ++
        texts.zipWithIndex.map { case (t, i) => (i + 101L, t, "en", "src1") } ++
        other.zipWithIndex.map { case (t, i) => (i + 201L, t, "en", "src2") })
    val est = Registry.byName("q_set_overlap_kmv").run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(est(("src0", "src1")) === 1.0, s"identical shingle sets: $est")
    assert(est(("src0", "src2")) === 0.0 && est(("src1", "src2")) === 0.0,
      s"disjoint shingle sets: $est")
  }

  test("q_graph_triangles: planted triangle found once; open path contributes none") {
    // docs induce edges a-b, b-c, a-c (one triangle) and x-y, y-z (a path:
    // wedge at y must NOT close) — each triangle vertex counts exactly 1.
    val dir = plantDocs(Seq(
      (1L, "ta tb", "en", "src0"), (2L, "tb tc", "en", "src0"),
      (3L, "ta tc", "en", "src0"), (4L, "xx yy", "en", "src0"),
      (5L, "yy zz", "en", "src0")))
    val out = Registry.byName("q_graph_triangles").run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(out.toSet === Set("ta" -> 1L, "tb" -> 1L, "tc" -> 1L),
      s"exactly the triangle's vertices, once each: $out")
  }

  test("q_graph_linkpred: planted skip-gram pair predicted; adjacent bigrams are edges, not predictions") {
    // Bigram-node graph: doc "pa pb pc pd" (twice, clearing the >=2 floor)
    // yields edges (pa pb)-(pb pc) and (pb pc)-(pc pd). The non-overlapping
    // pair ((pa pb), (pc pd)) shares midpoint (pb pc) and can NEVER be an
    // edge (edges require overlap), so it must be predicted with cn=1;
    // the adjacent pairs are edges and must NOT appear.
    val dir = plantDocs(Seq(
      (1L, "pa pb pc pd", "en", "src0"), (2L, "pa pb pc pd", "en", "src0")))
    val out = Registry.byName("q_graph_linkpred").run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    assert(out.toSeq === Seq(("pa pb", "pc pd") -> 1L),
      s"exactly the skip-gram pair via its one midpoint: ${out.toSeq}")
  }

  test("q_graph_linkpred: non-empty at bench scale (sf0.1)") {
    // Round-4 verdict: the word-node graph was near-complete on the ~31-word
    // test vocabulary, so the anti-join emitted ZERO rows at sf0.1 — all the
    // wedge work, no signal. The bigram-node domain keeps the graph sparse;
    // this pins the fix at the scale where it degenerated.
    val n = Registry.byName("q_graph_linkpred")
      .run(spark, "/root/testdata/sf0.1").count()
    assert(n === 20L, s"bench-scale output must be a full top-20, got $n")
  }

  test("q_events_attribution: purchase takes the latest preceding click, else NULL") {
    val dir = TestSpark.jvmTempDir("attrprop-")
    // (event_id, ts_ns, user_id, type): user 1 has click→view→click→purchase
    // (latest click 5 wins); user 2 purchases with no prior click (NULL).
    Seq((1L, 100000L, 1L, "click", 1.0, "{}"),
      (2L, 200000L, 1L, "view", 1.0, "{}"),
      (5L, 300000L, 1L, "click", 1.0, "{}"),
      (6L, 500000L, 1L, "purchase", 9.0, "{}"),
      (7L, 400000L, 2L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_events_attribution").run(spark, dir).collect()
    val byId = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))).toMap
    assert(byId(6L) === Some((5L, 200L)),
      s"latest preceding click (id 5, gap 200us) must win: $byId")
    assert(byId(7L) === None, s"clickless purchase is organic/NULL: $byId")
  }

  test("q_text_mad_outliers: MAD flags the monster doc; zero MAD degrades to NULLs") {
    val spread = (1 to 9).map(i =>
      (i.toLong, (1 to (7 + i)).map(j => s"w$j").mkString(" "), "en", "src0"))
    val monster = Seq((99L, (1 to 500).map(j => s"m$j").mkString(" "), "en", "src0"))
    val out = Registry.byName("q_text_mad_outliers")
      .run(spark, plantDocs(spread ++ monster)).collect()
    assert(out.head.getLong(0) === 99L, "monster doc must rank first")
    // tokens {8..16, 500}: median 12.5, devs sorted give MAD 2.5,
    // monster dev 487.5 -> score exactly 195.0
    assert(out.head.getDouble(3) === 195.0,
      s"hand-computed dev/mad: ${out.head.getDouble(3)}")
    // degenerate corpus: >=half the docs at the median -> MAD 0 -> NULL scores
    val flat = (1 to 6).map(i => (i.toLong, "a b c", "en", "src0"))
    val deg = Registry.byName("q_text_mad_outliers")
      .run(spark, plantDocs(flat)).collect()
    assert(deg.forall(_.isNullAt(3)), "zero MAD must yield NULL scores, not a blowup")
    assert(deg.map(_.getLong(0)).toSeq === (1L to 6L).toSeq, "NULLs rank last, id order")
  }

  test("q_dq_checks: planted violations are counted exactly, clean checks pass") {
    val dir = TestSpark.jvmTempDir("dqprop-")
    val ts = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    // customer 9 missing (orphan custkey), one NULL acctbal; orderkey 70
    // duplicated (PK); status 'X' out of domain; qty 99 out of range;
    // lineitem orderkey 999 dangling
    Seq((1L, "a", 1, Some(10.0), "BUILDING"), (2L, "b", 1, None, "AUTOMOBILE"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((70L, 1L, "F", 10.0, ts, "1-URGENT"), (70L, 1L, "O", 11.0, ts, "5-LOW"),
      (71L, 9L, "X", 12.0, ts, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((70L, 1L, 1L, 1, 99.0, 1.0, 0.0, 0.0, "N", "O", ts),
      (999L, 1L, 1L, 1, 5.0, 1.0, 0.0, 0.0, "N", "O", ts))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Registry.byName("q_dq_checks").run(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out("customer_acctbal_nonnull") === ((1L, false)))
    assert(out("lineitem_orderkey_fk") === ((1L, false)))
    assert(out("lineitem_qty_range") === ((1L, false)))
    assert(out("orders_custkey_fk") === ((1L, false)))
    assert(out("orders_pk_unique") === ((1L, false)))
    assert(out("orders_status_domain") === ((1L, false)))
  }

  test("q_time_sliding: every 2h window is the sum of its two tumbling hours") {
    val dir = "/root/testdata/sf0.001"
    val tumb = Registry.byName("q_time_tumbling").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val slide = Registry.byName("q_time_sliding").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(slide.nonEmpty)
    for (((w, t), c) <- slide) {
      val want = tumb.getOrElse((w, t), 0L) + tumb.getOrElse((w + 3600L, t), 0L)
      assert(c === want, s"window ($w, $t): sliding $c != tumbling parts $want")
    }
  }

  test("q_embed_pca: a planted dominant axis is recovered; extremes rank by |projection|") {
    val dir = TestSpark.jvmTempDir("pcaprop-")
    // variance lives almost entirely in dim 7: vectors are ±spread along it
    // plus per-dim noise elsewhere; the two largest-|spread| vectors must
    // top the extreme list, symmetric pairs adjacent
    val rows = (1 to 20).map { i =>
      val spread = (if (i % 2 == 0) 1f else -1f) * (0.2f + 0.03f * i)
      val v = Array.tabulate(64)(j =>
        if (j == 7) spread else 0.001f * ((i * 31 + j) % 7 - 3))
      (i.toLong, v.toSeq, i % 10)
    }
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Registry.byName("q_embed_pca").run(spark, dir).collect()
    assert(out.length === 10)
    // ids 20 and 19 carry the largest |spread| (0.8, 0.77)
    assert(Set(out(0).getLong(0), out(1).getLong(0)) === Set(19L, 20L),
      s"largest-spread vectors must be the extremes: ${out.map(_.getLong(0)).toSeq}")
    // |projection| must be non-increasing down the list
    val absProj = out.map(r => math.abs(r.getLong(1)))
    assert(absProj.zip(absProj.tail).forall { case (a, b) => a >= b },
      s"extremes must rank by |projection|: ${absProj.toSeq}")
  }

  test("q_events_pattern: planted journeys count the behavioral regex exactly") {
    val dir = TestSpark.jvmTempDir("patprop-")
    // user 1: s c v p           -> 1 match
    // user 2: s e p             -> 0 (error breaks the pattern)
    // user 3: s p s c p         -> 2 (non-overlapping matches)
    val ev = Seq(
      (1L, 1L, "signup"), (2L, 1L, "click"), (3L, 1L, "view"), (4L, 1L, "purchase"),
      (5L, 2L, "signup"), (6L, 2L, "error"), (7L, 2L, "purchase"),
      (8L, 3L, "signup"), (9L, 3L, "purchase"), (10L, 3L, "signup"),
      (11L, 3L, "click"), (12L, 3L, "purchase"))
    ev.map { case (id, u, t) => (id, id * 1000000L, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_events_pattern").run(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) === (("scvp", 1L)), s"journey + one match: $out")
    assert(out(2L) === (("sep", 0L)), s"error breaks the pattern: $out")
    assert(out(3L) === (("spscp", 2L)), s"two non-overlapping matches: $out")
  }

  test("q_dq_kanonymity: only sub-k classes surface, with an exact risk total") {
    // lang/source classes: (en,a)=2 docs (violates k=5), (en,b)=6 (passes),
    // (fr,a)=1 (violates) -> rows for the two violators + total 3 at risk
    val dir = plantDocs(
      (1 to 2).map(i => (i.toLong, s"t $i", "en", "a")) ++
        (11 to 16).map(i => (i.toLong, s"t $i", "en", "b")) ++
        Seq((21L, "t 21", "fr", "a")))
    val out = Registry.byName("q_dq_kanonymity").run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("__total__", "__total__") -> 3L, ("en", "a") -> 2L, ("fr", "a") -> 1L),
      s"exactly the violating classes + risk total: $out")
  }

  test("q_shuffle_shards: output is a permutation with consistent shard math") {
    val dir = plantDocs((1 to 40).map(i =>
      (i.toLong, s"doc body $i", "en", s"src${i % 3}")))
    val out = Registry.byName("q_shuffle_shards").run(spark, dir).collect()
    assert(out.length === 40)
    assert(out.map(_.getLong(2)).toSet === (1L to 40L).toSet,
      "every doc appears exactly once")
    // positions are 1..count(shard) within each shard — a dense ranking
    out.groupBy(_.getLong(0)).foreach { case (shard, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to rows.length).toSeq,
        s"dense positions in shard $shard")
    }
  }

  test("q_text_pmi: a planted exclusive collocation out-lifts frequent fillers") {
    // 10 docs of exactly "alpha beta" (the pair never apart) + 5 filler
    // docs "the x the y the x the y": N = 60 words.
    // lift(alpha,beta) = 10*60/(10*10) = 6.0;
    // lift(the,x) = 10*60/(20*10) = 3.0 — exclusivity wins over frequency.
    val dir = plantDocs(
      (1 to 10).map(i => (i.toLong, "alpha beta", "en", "a")) ++
        (11 to 15).map(i => (i.toLong, "the x the y the x the y", "en", "a")))
    val out = Registry.byName("q_text_pmi").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out(("alpha", "beta")) === ((10L, 10L, 10L, 6.0)))
    assert(out(("the", "x")) === ((10L, 20L, 10L, 3.0)))
    val first = Registry.byName("q_text_pmi").run(spark, dir).head()
    assert((first.getString(0), first.getString(1)) === (("alpha", "beta")),
      "the exclusive pair ranks first")
  }

  test("q_events_ngrams: trigram counts across planted user sequences") {
    val dir = TestSpark.jvmTempDir("ngramprop-")
    // user 1: s c v p -> s>c>v, c>v>p ; user 2: s c v -> s>c>v
    val ev = Seq(
      (1L, 1L, "signup"), (2L, 1L, "click"), (3L, 1L, "view"), (4L, 1L, "purchase"),
      (5L, 2L, "signup"), (6L, 2L, "click"), (7L, 2L, "view"))
    ev.map { case (id, u, t) => (id, id * 1000000L, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_events_ngrams").run(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("signup>click>view" -> 2L, "click>view>purchase" -> 1L),
      "user boundaries never fabricate cross-user trigrams")
  }

  test("q_time_anomaly: a planted spike hour tops; constant series degrade to NULL") {
    val dir = TestSpark.jvmTempDir("anomprop-")
    val h = 3600L * 1000000000L
    // view counts/hour: 1,2,1,2,1,2,1,2,100 -> med 2, MAD 1, spike score 98
    val viewCounts = Seq(1, 2, 1, 2, 1, 2, 1, 2, 100)
    val views = viewCounts.zipWithIndex.flatMap { case (n, hour) =>
      (1 to n).map(k => (hour.toLong * h + k, "view"))
    }
    // click: constant 5/hour over 5 hours -> MAD 0 -> NULL scores, ranked last
    val clicks = (0 until 5).flatMap(hour =>
      (1 to 5).map(k => (hour.toLong * h + 500000L + k, "click")))
    (views ++ clicks).zipWithIndex
      .map { case ((ts, t), i) => (i.toLong, ts, i.toLong % 7, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_time_anomaly").run(spark, dir).collect()
    val top = out.head
    assert(top.getString(0) === "view" && top.getLong(1) === 8L * 3600 &&
      top.getDouble(5) === 98.0, s"spike hour first: ${top}")
    val clickRows = out.filter(_.getString(0) == "click")
    assert(clickRows.length === 5 && clickRows.forall(_.isNullAt(5)),
      "zero-MAD series emit NULL scores, never a division blowup")
    assert(out.takeRight(5).forall(_.isNullAt(5)), "NULL scores rank last")
  }

  test("q_quantile_hist: hand-computed bucket lower bounds") {
    val dir = TestSpark.jvmTempDir("qhistprop-")
    // flag A: prices 10,110,...,910 -> buckets 0..9, one row each; n=10.
    // p50: first cum*100 >= 500 -> cum 5 -> bucket 4 -> 40000 cents.
    // p90: cum 9 -> bucket 8 -> 80000; p99: cum 10 -> bucket 9 -> 90000.
    (0 until 10).map(i => ("A", BigDecimal(10 + 100 * i).setScale(2)))
      .toDF("l_returnflag", "l_extendedprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Registry.byName("q_quantile_hist").run(spark, dir).collect()
    assert(out.map(_.toSeq).toSeq === Seq(Seq("A", 10L, 40000L, 80000L, 90000L)))
  }

  test("q_dedup_containment: a contained doc scores exactly 1.0 one-way") {
    val words = (1 to 19).map(i => s"w$i").mkString(" ")
    val contained = (1 to 18).map(i => s"w$i").mkString(" ") // drop last word
    val dir = plantDocs(Seq(
      (1L, words, "en", "a"), (2L, contained, "en", "a"),
      (3L, "completely different text body here", "en", "a")))
    val out = Registry.byName("q_dedup_containment").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // doc 2's 16 shingles are all among doc 1's 17 -> cont_b = 1.0 exactly,
    // while jaccard (16/17) and cont_a (16/17) are both < 1
    val (contA, contB) = out((1L, 2L))
    assert(contB === 1.0 && contA < 1.0,
      s"asymmetric containment: $contA / $contB")
  }

  test("q_retrieval_hybrid: RRF fuses exact integer rank reciprocals") {
    val dir = TestSpark.jvmTempDir("hybridprop-")
    // doc 1 repeats doc 0's text (lexical rank 1); docs 2/3 share nothing.
    Seq(
      (0L, "query text about spark engines", "en", "a"),
      (1L, "query text about spark engines", "en", "a"),
      (2L, "unrelated body alpha beta gamma", "en", "a"),
      (3L, "another separate body delta eps", "en", "a"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // vec 1 equals the query vector (dense rank 1), vec 3 at cos .6, vec 2 at 0
    Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0),
      (2L, Seq(0f, 1f), 0), (3L, Seq(0.6f, 0.8f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Registry.byName("q_retrieval_hybrid").run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: kw rank 1 + dense rank 1 = 2 * (10^12 div 61)
    assert(out(1L) === 2L * (1000000000000L / 61),
      s"both-list doc sums both reciprocals: $out")
    assert(out(3L) === 1000000000000L / 62, "dense-only doc, rank 2")
    assert(out(2L) === 1000000000000L / 63, "dense-only doc, rank 3")
  }

  test("q_text_gini: concentration ranks a one-word doc above mixed and uniform") {
    val dir = plantDocs(Seq(
      (1L, "x x x x", "en", "a"),        // conc 16/16 = 1.0
      (2L, "a b c d", "en", "a"),        // conc 4/16 = 0.25
      (3L, "a a b b", "en", "a")))       // conc 8/16 = 0.5
    val out = Registry.byName("q_text_gini").run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 2L), "order: most concentrated first")
    val m = out.toMap
    assert(m(1L) === ((4L, 1L, 16L, 1.0)))
    assert(m(3L) === ((4L, 2L, 8L, 0.5)))
    assert(m(2L) === ((4L, 4L, 4L, 0.25)))
  }

  test("q_events_markov: hand-computed transition probabilities") {
    val dir = TestSpark.jvmTempDir("markovprop-")
    // user 1: s c s c  -> s>c, c>s, s>c ; user 2: s v -> s>v
    val ev = Seq(
      (1L, 1L, "signup"), (2L, 1L, "click"), (3L, 1L, "signup"), (4L, 1L, "click"),
      (5L, 2L, "signup"), (6L, 2L, "view"))
    ev.map { case (id, u, t) => (id, id * 1000000L, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_events_markov").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq === Seq(
      ("click", "signup", 1L, 1L, 1.0),
      ("signup", "click", 2L, 3L, 2.0 / 3.0),
      ("signup", "view", 1L, 3L, 1.0 / 3.0)),
      "rows ordered (prev, prob DESC, nxt); no cross-user pair fabricated")
  }

  test("q_dq_drift: chi-square matches a grid replay; a missing cell still counts") {
    // a: 8 en + 2 de, b: 2 en + 8 de, c: 5 en ONLY — c's absent de cell
    // must contribute (0−E)²/E (total absence IS the drift signal)
    val docs = (1 to 8).map(i => (i.toLong, s"t$i", "en", "a")) ++
      (9 to 10).map(i => (i.toLong, s"t$i", "de", "a")) ++
      (11 to 12).map(i => (i.toLong, s"t$i", "en", "b")) ++
      (13 to 20).map(i => (i.toLong, s"t$i", "de", "b")) ++
      (21 to 25).map(i => (i.toLong, s"t$i", "en", "c"))
    val dir = plantDocs(docs)
    val out = Registry.byName("q_dq_drift").run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // replay the exact per-cell tree: E = ns·nl/N, tq = floor((O−E)²/E·1e9)
    val obs = docs.groupBy(d => (d._4, d._3)).view.mapValues(_.size.toLong).toMap
    val ns = docs.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val nl = docs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val n = docs.size.toDouble
    for (src <- Seq("a", "b", "c")) {
      val chi2 = nl.keys.toSeq.map { lang =>
        val e = (ns(src) * nl(lang)).toDouble / n
        val diff = obs.getOrElse((src, lang), 0L).toDouble - e
        math.floor(diff * diff / e * 1000000000.0).toLong
      }.sum
      assert(out(src) === ((ns(src), nl.size - 1L, chi2)), s"source $src")
    }
    assert(out("c")._3 > 0L, "the all-absent de cell contributes drift")
  }

  test("q_time_ewma: dyadic half-life smoothing is exact") {
    val dir = TestSpark.jvmTempDir("ewmaprop-")
    val h = 3600L * 1000000000L
    // view counts/hour: 4, 8, 2 -> ewma 2.0, 8/2+4/4=5.0, 2/2+8/4+4/8=3.5
    val ev = Seq((0, 4), (1, 8), (2, 2)).flatMap { case (hour, n) =>
      (1 to n).map(k => (hour.toLong * h + k, "view"))
    }
    ev.zipWithIndex
      .map { case ((ts, t), i) => (i.toLong, ts, i.toLong % 3, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_time_ewma").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (0L, "view", 4L, 2.0), (3600L, "view", 8L, 5.0), (7200L, "view", 2L, 3.5)),
      "each EWMA value is the exact dyadic sum — no rounding anywhere")
  }

  test("q_events_assoc: hand-computed session-basket support/confidence/lift") {
    val dir = TestSpark.jvmTempDir("assocprop-")
    val b = 1000000000L // 1s in ns; sessions split on >30min gaps
    // user 1 session A: signup+click+view; session B (3h later):
    // click+purchase; user 2 session C: signup+click  -> S = 3 sessions
    val ev = Seq(
      (1L, 1L * b, 1L, "signup"), (2L, 2L * b, 1L, "click"),
      (3L, 3L * b, 1L, "view"),
      (4L, 11000L * b, 1L, "click"), (5L, 11001L * b, 1L, "purchase"),
      (6L, 1L * b, 2L, "signup"), (7L, 2L * b, 2L, "click"))
    ev.map { case (id, ts, u, t) => (id, ts, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_events_assoc").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))
    // (signup,view) lift = 1*3/(2*1) = 1.5 ranks first; three 1.0 ties
    // order (a, b)
    assert(out.map(_._1).toSeq === Seq(
      ("signup", "view"), ("click", "purchase"), ("click", "signup"),
      ("click", "view")))
    val m = out.toMap
    assert(m(("click", "signup")) ===
      ((2L, 3L, 2L, 3L, 2.0 / 3.0, 2.0 / 3.0, (2.0 * 3.0) / (3.0 * 2.0))))
    assert(m(("signup", "view")) ===
      ((1L, 2L, 1L, 3L, 1.0 / 3.0, 1.0 / 2.0, (1.0 * 3.0) / (2.0 * 1.0))))
  }

  test("q_embed_norm_stats: centi-buckets catch zero, collapsed, and unnormalized vectors") {
    val dir = TestSpark.jvmTempDir("normprop-")
    Seq(
      (0L, Seq(1f, 0f), 0),     // norm2 1.0   -> bucket 100 (healthy)
      (1L, Seq(0.5f, 0.5f), 0), // norm2 0.5   -> bucket 50 (collapsed)
      (2L, Seq(0f, 0f), 1),     // norm2 0     -> bucket 0 (dead encoder)
      (3L, Seq(3f, 4f), 1))     // norm2 25    -> bucket 2500 (unnormalized)
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Registry.byName("q_embed_norm_stats").run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((0, 50L, 1L), (0, 100L, 1L), (1, 0L, 1L),
      (1, 2500L, 1L)))
  }

  test("Log2Q: the kernel equals the BigInt reference on edge inputs and a seeded sweep") {
    import graft.functions.Log2Q
    val ds = Seq(1L, 2L, 3L, 7L, 1000L, (1L << 31) - 1, 1L << 32)
    val edges =
      ds.map(d => (d, d)) ++ // n = d: exactly 0 bits
        (0 to 62).flatMap { k =>
          val p = 1L << k
          Seq(p, p - 1, p + 1).filter(_ >= 1).flatMap(n => Seq((n, 1L), (n, 3L)))
        } ++
        (0 to 30).flatMap(k => ds.map(d => ((d << k) + (if (k % 2 == 0) 1 else -1), d))) ++
        Seq((1L << 60) - 1, 1L << 60, (1L << 60) + 1, Long.MaxValue).map((_, 1L)) ++
        Seq((Long.MaxValue, 1L << 32), ((1L << 32) + 1, 1L << 32))
    val rnd = new scala.util.Random(20261021L)
    val sweep = Seq.fill(100000) {
      val d = 1L + (rnd.nextLong() >>> (32 + rnd.nextInt(32))) // 1 ≤ d ≤ 2^32
      (d + ((rnd.nextLong() >>> 1) >>> rnd.nextInt(63)), d) // n wraps below d past 2^63
    }
    for ((n, d) <- edges ++ sweep if n >= d && d >= 1)
      assert(Log2Q.compute(n, d) === Log2Ref.log2q(n, d), s"log2q($n, $d)")
    assert(Log2Q.compute(1L << 60, 1L) === 60L * 1024)
    assert(Log2Q.compute(3L, 1L) === 1623L) // log2(3) = 1.58496… → 1623/1024
  }

  test("Log2Q: interpreted eval equals the codegen path; NULL in gives NULL out") {
    import graft.functions.Log2Q
    import org.apache.spark.sql.catalyst.expressions.Literal
    val rows: Seq[(Option[Long], Option[Long])] =
      samples(Gen.zip(Gen.chooseNum(1L, 1L << 32), Gen.chooseNum(0L, Long.MaxValue)), 60)
        .map { case (d, x) => (Some(d + x % (Long.MaxValue - d)), Some(d)) } ++
        Seq((Some(1L << 60), Some(1L)), (None, Some(1L)), (Some(5L), None))
    val viaCodegen = generated(rows.toDF("n", "d"), Log2Q.col(col("n"), col("d")))
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    val direct = rows.map {
      case (Some(n), Some(d)) =>
        Some(Log2Q(Literal(0L), Literal(0L)).nullSafeEval(n, d).asInstanceOf[Long])
      case _ => None
    }
    assert(viaCodegen === direct)
    assert(rows.zip(viaCodegen).forall {
      case ((Some(n), Some(d)), got) => got === Some(Log2Ref.log2q(n, d))
      case (_, got) => got.isEmpty
    })
  }

  test("q_text_perplexity: dyadic-log2 surprisal matches a big-integer replay") {
    val dir = TestSpark.jvmTempDir("pplprop-")
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1; V={a,b,c,x}=4; c_a=3, c_b=2
    Seq((0L, "a b a b", "en", "s0", 7L), (1L, "a b c", "en", "s0", 5L),
      (2L, "x", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reference dyadic log2: exact BigInt replay of the 10-step recurrence
    val ab = Log2Ref.log2q(3 + 4, 3 + 1) // c_a+V=7, c_ab+1=4
    val ba = Log2Ref.log2q(2 + 4, 1 + 1) // 6/2 = 3.0 -> ~1.585 bits
    assert(ab === 826L && ba === 1623L)
    val out = Registry.byName("q_text_perplexity").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 2 (single word) has no transition and drops out by contract;
    // doc 1's mean (826+1623)/2048 outranks doc 0's (2*826+1623)/3072
    assert(out.toSeq === Seq(
      (1L, 2L, ab + ba, (ab + ba).toDouble / (2.0 * 1024.0)),
      (0L, 3L, 2 * ab + ba, (2 * ab + ba).toDouble / (3.0 * 1024.0))))
  }

  test("q_tokenize_bpe: five merges on a hand-traced corpus, greedy replace law") {
    val dir = TestSpark.jvmTempDir("bpeprop-")
    // wf: aaab:2, ab:1, cde:2, fg:1. Merge trace: (a,a)w4 -> "#aa #a #b "
    // (greedy: ONE merge in aaab, third a unpaired), (a,b)w3, (aa,ab)w2
    // (tie with (c,d)/(d,e) broken on a: "aa" < "c"), (c,d)w2, (cd,e)w2
    Seq((0L, "aaab aaab ab cde cde fg", "en", "s0", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("q_tokenize_bpe").run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
    assert(out.toSeq === Seq(
      (1, "a", "a", "aa", 4L), (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L), (4, "c", "d", "cd", 2L),
      (5, "cd", "e", "cde", 2L)))
  }

  test("q_join_fuzzy: blocking excludes cross-type pairs, Levenshtein verifies within") {
    val dir = TestSpark.jvmTempDir("fuzzprop-")
    Seq("red bolt", "rod bolt", "blue bolt", "red gear").zipWithIndex
      .map { case (n, i) => (i.toLong, n) }.toDF("p_partkey", "p_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = Registry.byName("q_join_fuzzy").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // red gear is lev-4 from red bolt but in block "gear" -> never compared
    assert(out.toSeq === Seq(("red bolt", "rod bolt", 1L),
      ("blue bolt", "red bolt", 4L), ("blue bolt", "rod bolt", 4L)))
  }

  test("q_mix_temperature: sqrt-smoothed shares from perfect-square token counts") {
    // source a: 16 tokens (sqrt 4), source b: 64 tokens (sqrt 8) —
    // wq are exactly 4e9 / 8e9, wsum 12e9; share_a = 1/3, share_b = 2/3;
    // factor_a = (1/3)*80/16 = 5/3 (small source UP-sampled),
    // factor_b = (2/3)*80/64 = 5/6 (large source DOWN-sampled).
    val dir = plantDocs(Seq(
      (1L, (1 to 16).map(i => s"w$i").mkString(" "), "en", "a"),
      (2L, (1 to 64).map(i => s"w$i").mkString(" "), "en", "b")))
    val out = Registry.byName("q_mix_temperature").run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(out("a") === ((1L, 16L, 4000000000L, 1.0 / 3.0, 1.0 / 3.0 * 80 / 16)))
    assert(out("b") === ((1L, 64L, 8000000000L, 2.0 / 3.0, 2.0 / 3.0 * 80 / 64)))
  }

  test("q_retrieval_bm25: idf, tf, and length monotonicity; non-matches absent") {
    // doc 0 is the query {rare, common}; corpus: rare in 3 docs, common in
    // 5, so idf(rare) > idf(common). Within the rare docs: d2 repeats the
    // term (tf), d3 is shorter (length norm) — both must beat d1; d1 (rare,
    // equal tf/dl) must beat any common-only doc; d9 shares no term.
    val dir = plantDocs(Seq(
      (0L, "rare common", "en", "q"),
      (1L, "rare pad pad pad pad pad", "en", "c"),
      (2L, "rare rare pad pad pad pad", "en", "c"),
      (3L, "rare pad", "en", "c")) ++
      (4L to 8L).map(i => (i, "common pad pad pad pad pad", "en", "c")) :+
      (9L, "pad pad", "en", "c"))
    val out = Registry.byName("q_retrieval_bm25").run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!out.contains(9L), s"doc without query terms must be absent: $out")
    assert(!out.contains(0L), s"the query doc itself must be absent: $out")
    assert((4L to 8L).forall(out.contains), s"every common doc scores: $out")
    assert(out(2L) > out(1L), s"higher tf must outrank at equal length: $out")
    assert(out(3L) > out(1L), s"shorter doc must outrank at equal tf: $out")
    assert(out(1L) > out(4L), s"rarer term must outrank at equal tf/dl: $out")
  }

  test("q_retrieval_queryexp: feedback terms recall latent-topic docs round 1 misses") {
    // query = {rare}; the three rare docs all carry the latent term sig
    // (feedback-df 3 ≥ the floor) with unique fillers (fdf 1, filtered);
    // docs 10/11 share ONLY sig with the feedback set — invisible to
    // round 1, they must score after expansion, and the rare docs must
    // still outrank them (they match both terms)
    val dir = plantDocs(Seq(
      (0L, "rare", "en", "q"),
      (1L, "rare sig f1 f2", "en", "c"),
      (2L, "rare sig f3 f4", "en", "c"),
      (3L, "rare sig f5 f6", "en", "c"),
      (10L, "sig g1 g2 g3", "en", "c"),
      (11L, "sig h1 h2 h3", "en", "c"),
      (20L, "noise n1 n2 n3", "en", "c")))
    val out = Registry.byName("q_retrieval_queryexp").run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val plain = Registry.byName("q_retrieval_bm25").run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(!plain.contains(10L) && !plain.contains(11L),
      s"round 1 must not see the sig-only docs: $plain")
    assert(out.contains(10L) && out.contains(11L),
      s"expansion must recall the latent-topic docs: $out")
    assert(!out.contains(20L), s"unrelated docs stay absent: $out")
    assert(Seq(1L, 2L, 3L).forall(d => out(d) > out(10L)),
      s"two-term matches must outrank expansion-only matches: $out")
  }

  test("q_retrieval_queryexp: with no term reaching the feedback floor it IS bm25") {
    // every non-query word is unique (feedback-df 1 < 3) so the expansion
    // set is empty and round 2 must reproduce round 1 exactly
    val dir = plantDocs(Seq(
      (0L, "rare", "en", "q")) ++
      (1L to 6L).map(i => (i, s"rare u${i}a u${i}b u${i}c", "en", "c")))
    val exp = Registry.byName("q_retrieval_queryexp").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val plain = Registry.byName("q_retrieval_bm25").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(exp.toSeq === plain.toSeq.take(10),
      s"empty expansion must leave the ranking untouched:\n$exp\nvs\n$plain")
  }

  test("q_sample_weighted: full BigInt replay of the A-ES keys picks the same 20") {
    // 30 docs with distinct lengths; the expected draw is recomputed here
    // from scratch (md5 → dyadic log2 → key) so the whole pipeline — hash
    // basis, shift-safe mantissa normalization, squaring chain, weight
    // division, ordering — is pinned end to end, not just its shape.
    val rows = (1 to 30).map(i =>
      (i.toLong, (1 to (3 + i * 7 % 23)).map(j => s"w$j").mkString(" "), "en", "s"))
    val dir = plantDocs(rows)
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val expect = rows.map { case (id, text, _, _) =>
      val w = math.max(text.length.toLong, 1L)
      val l = 61440L - Log2Ref.log2q(h60(s"wsample:$id") + 1L, 1)
      (id, (l << 20) / w)
    }.sortBy { case (id, k) => (k, id) }.take(20)
    val out = Registry.byName("q_sample_weighted").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out === expect, s"engine draw must equal the BigInt replay")
  }

  test("RANGE frame: exactly-30-days-ago included; same-date PEERS summed (DuckDB-replayed)") {
    import java.sql.Timestamp
    val dir = TestSpark.jvmTempDir("rangeprop-")
    // order 2 sits EXACTLY 30 days after order 1 (inclusive bound keeps
    // it: 110); orders 3+4 share a date, so RANGE ... CURRENT ROW sums
    // BOTH peers for each (1011 = 1 + 1000 + order 2's 10; order 1 is 31
    // days back — out). DuckDB replay this session gives 100 / 110 /
    // 1011 / 1011 / 10000 — Spark must match value for value.
    def d(s: String) = Timestamp.valueOf(s + " 00:00:00")
    Seq(
      (1L, 1L, "O", 100.0, d("2024-01-01"), "1-URGENT"),
      (2L, 1L, "O", 10.0, d("2024-01-31"), "1-URGENT"),
      (3L, 1L, "O", 1.0, d("2024-02-01"), "1-URGENT"),
      (4L, 1L, "O", 1000.0, d("2024-02-01"), "1-URGENT"),
      (5L, 1L, "O", 10000.0, d("2024-03-15"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = Registry.byName("q_window_range").run(spark, dir).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out === Map(1L -> 100.0, 2L -> 110.0, 3L -> 1011.0,
      4L -> 1011.0, 5L -> 10000.0), s"RANGE conventions must match: $out")
  }

  test("percentile_disc: even-count boundary picks cume_dist >= p (DuckDB-replayed)") {
    // n=4 at p=0.5 separates the >= p convention (picks the 2nd value)
    // from > p (picks the 3rd) — independently implemented in each
    // engine under shared SQL text, and natural order counts rarely sit
    // on the boundary. DuckDB replay (this session): p25/p50/p75 =
    // 10/20/30 on (10,20,30,40) — Spark must agree.
    val r = spark.sql(
      """SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS p25,
        |percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p50,
        |percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS p75
        |FROM VALUES (10.0), (20.0), (30.0), (40.0) t(v)""".stripMargin)
      .collect().head
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2)) === ((10.0, 20.0, 30.0)))
  }

  test("q_join_asof: a click at EXACTLY the purchase timestamp attaches (<= semantics)") {
    val dir = TestSpark.jvmTempDir("asofprop-")
    val t = 1704067200L * 1000000000L
    // user 1: click and purchase share a timestamp -> <= includes it;
    // user 2: the only click is 1µs AFTER the purchase -> organic/NULL.
    // Pins the engine's (ts, is_click DESC) tie order against DuckDB
    // ASOF's inclusive bound — another convention both sides implement
    // independently and natural data never lands on.
    Seq(
      (1L, t, 1L, "click", 1.0, "{}"),
      (2L, t, 1L, "purchase", 9.0, "{}"),
      (3L, t, 2L, "purchase", 5.0, "{}"),
      (4L, t + 1000L, 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_join_asof").run(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(2L) === Some(t / 1000), s"equal-ts click must attach: $out")
    assert(out(3L) === None, s"a later click must not attach: $out")
  }

  test("BPE queries survive pair exhaustion on a single-symbol corpus") {
    // every word is one symbol -> the pair table is empty in round 1;
    // training must emit zero merges (not crash on an empty argmax) and
    // encode must pass tokens through unmerged
    val dir = plantDocs(Seq((1L, "a a a", "en", "s")))
    assert(Registry.byName("q_tokenize_bpe").run(spark, dir).collect().isEmpty)
    val enc = Registry.byName("q_tokenize_encode").run(spark, dir).collect()
    val r = enc.head
    assert(enc.length === 1 &&
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)) ===
        ((3L, 3L, 3L, 1.0)))
  }

  test("q_stream_sessions: exactly-30:00 gaps merge (abutting windows); 30:00+1µs splits") {
    val dir = TestSpark.jvmTempDir("streamsessprop-")
    val t0 = 1704067200L * 1000000000L // nanos
    val m = 60L * 1000000000L
    // user 1: e2 exactly 30:00 after e1 MERGES (session_window joins
    // abutting windows — next.start <= current.end); e3 at 30:00 + 1µs
    // after e2 splits. This planted probe is what exposed the oracle's
    // `>=` break convention silently disagreeing with the engine.
    val e3ts = t0 + 60 * m + 1000L
    Seq(
      (1L, t0, 1L, "view", 1.0, "{}"),
      (2L, t0 + 30 * m, 1L, "view", 2.0, "{}"),
      (3L, e3ts, 1L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_stream_sessions").run(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq(
      (t0 / 1000, 2L, 3.0),
      (e3ts / 1000, 1L, 4.0)),
      s"exactly 30:00 merges, 30:00+1us splits: ${out.toSeq}")
  }

  test("q_sketch_rollup: raw-branch accuracy; overlapping tiles never double-count") {
    // 3000 distinct words spread over two sources with a FULLY SHARED
    // vocabulary — the merged estimate must equal the direct one (register
    // max, not sum: a sketch that double-counted overlap would read ~2×)
    // and land within HLL's expected error for m=256 (~1.04/16 ≈ 6.5%, take
    // 3σ ≈ 20%); 3000 ≫ 640 forces the raw-estimator branch
    val vocab = (1 to 3000).map(i => s"tok$i")
    val docs = (0 until 30).map { k =>
      (k.toLong, vocab.slice(k * 100, k * 100 + 100).mkString(" "), "en",
        if (k % 2 == 0) "sa" else "sb")
    } ++ (0 until 30).map { k => // second source repeats the SAME vocab
      ((100 + k).toLong, vocab.slice(k * 100, k * 100 + 100).mkString(" "), "en",
        if (k % 2 == 0) "sb" else "sa")
    }
    val dir = plantDocs(docs)
    val r = Registry.byName("q_sketch_rollup").run(spark, dir).collect().head
    val (nExact, estM, estD) = (r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nExact === 3000L)
    assert(estM === estD, s"tile merge must equal direct: $estM vs $estD")
    assert(math.abs(estM - 3000L) <= 600,
      s"raw estimate must be within 20% of 3000: $estM")
  }

  test("q_join_spatial: grid-blocked pairs equal the brute-force radius join") {
    val dir = TestSpark.jvmTempDir("spatialprop-")
    // cross-cell neighbors (p1-p6 diagonal, p2-p3 across x), a same-cell
    // pair beyond r (p2-p4: same cell is NOT within-radius proof), and an
    // isolated far point — the grid must reproduce brute force exactly
    val pts = Seq(
      (1L, Array(0.001f, 0.001f, 0f, 0f), 0),
      (2L, Array(0.019f, 0.001f, 0f, 0f), 0),
      (3L, Array(0.022f, 0.001f, 0f, 0f), 0),
      (4L, Array(0.0f, 0.0175f, 0f, 0f), 0),
      (5L, Array(0.3f, 0.3f, 0f, 0f), 0),
      (6L, Array(-0.001f, -0.001f, 0f, 0f), 0))
    pts.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = (for {
      (a, va, _) <- pts; (b, vb, _) <- pts if a < b
      d2 = math.pow(va(0).toDouble - vb(0).toDouble, 2) +
        math.pow(va(1).toDouble - vb(1).toDouble, 2)
      if d2 <= 0.0004
    } yield (a, b)).sorted
    val out = Registry.byName("q_join_spatial").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out === brute, s"grid join must equal brute force: $out vs $brute")
  }

  test("q_entity_resolution: lev-4 chain resolves transitively; singletons absent") {
    val dir = TestSpark.jvmTempDir("erprop-")
    // anvil chain: adjacent names are lev 2 apart, the endpoints lev 6 —
    // beyond the pairwise bound, same entity only via transitivity. The
    // brush pair is a second entity; the bolt name matches nothing.
    Seq(
      (11L, "aaaaaa anvil"), (12L, "aaaabb anvil"),
      (13L, "aabbbb anvil"), (14L, "bbbbbb anvil"),
      (21L, "cold brush"), (22L, "bold brush"),
      (31L, "zzzzzz bolt"),
      (41L, "aaaaaa anvil")) // duplicate name: nodes deduplicate, id = min key
      .toDF("p_partkey", "p_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = Registry.byName("q_entity_resolution").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val anvil = out.filter(_._2.endsWith("anvil"))
    assert(anvil.map(_._1).distinct === Seq(11L),
      s"one anvil entity labeled by min node id: ${out.toSeq}")
    assert(anvil.map(_._3).distinct === Seq(4L) && anvil.size === 4,
      s"all four anvil names resolve together: ${out.toSeq}")
    val brush = out.filter(_._2.endsWith("brush"))
    assert(brush.map(_._1).distinct === Seq(21L) && brush.size === 2,
      s"brush pair is its own entity: ${out.toSeq}")
    assert(!out.exists(_._2.endsWith("bolt")),
      s"singleton never emits: ${out.toSeq}")
  }

  test("kcoreSurvivors: K10 clique survives k=8, attached tail peels away") {
    // clique nodes c0..c9 (induced degree 9 >= 8) + a 3-node path tail
    // hung off c0; the tail peels in the first rounds, after which the
    // clique is stable — the exact k-core
    val clique = for {
      i <- 0 until 10; j <- 0 until 10 if i != j
    } yield (f"c$i", f"c$j")
    val tail = Seq(("c0", "t1"), ("t1", "t2"), ("t2", "t3"))
    val sym = (clique ++ tail ++ tail.map(_.swap)).toDF("m", "n")
    val surv = operators.GraphOps.kcoreSurvivors(sym, 8, 6)
      .groupBy(col("m")).agg(count(lit(1)).as("deg"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(surv === (0 until 10).map(i => f"c$i" -> 9L).toMap,
      s"exact 8-core is the clique with induced degree 9: $surv")
    // below the clique degree nothing survives: k=10 > max induced degree
    assert(operators.GraphOps.kcoreSurvivors(sym, 10, 6).count() === 0L)
  }

  test("q_join_not_in: one NULL in the subquery empties the result (3VL)") {
    val dir = TestSpark.jvmTempDir("notinprop-")
    val ts = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    Seq((1L, "a part", "Brand#1", "T", 1, 1.0), (2L, "b part", "Brand#1", "T", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    // partkey NULL on a qualifying row: x NOT IN {1, NULL} is UNKNOWN for
    // every x not in the set, so NO part may survive — the semantics that
    // separate NOT IN from NOT EXISTS (which would keep part 2)
    Seq((10L, Some(1L), 1L, 1, 50.0, 1.0, 0.0, 0.0, "N", "O", ts),
      (11L, None: Option[Long], 1L, 1, 50.0, 1.0, 0.0, 0.0, "N", "O", ts))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(Registry.byName("q_join_not_in").run(spark, dir).count() === 0L,
      "a NULL key in the NOT IN subquery must empty the result")
  }

  test("withHilbert: matches sequential xy2d on the full 32x32 grid (bijection)") {
    // independent reference: the classic mutable xy2d walk
    def xy2d(bits: Int, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val grid = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val out = operators.Layout
      .withHilbert(grid.toDF("x", "y"), col("x"), col("y"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.size === 1024)
    for ((x, y) <- grid)
      assert(out((x, y)) === xy2d(5, x, y), s"hilbert mismatch at ($x, $y)")
    // bijection: every d in [0, 1024) appears exactly once
    assert(out.values.toSeq.sorted === (0L until 1024L))
  }

  test("q_time_cusum: a symmetric series flags EVERY day attaining max |cusum|") {
    val dir = TestSpark.jvmTempDir("cusumprop-")
    val day0 = 19723L
    // counts (1, 3, 1): scaled terms 3c−5 are (−2, +4, −2), cusum
    // (−2, 2, 0) — |max| = 2 is attained TWICE; the contract says both
    // days flag (no hidden tie-break), the final balanced day does not
    val rows = Seq((day0, 1L), (day0 + 1, 3L), (day0 + 2, 1L)).flatMap {
      case (d, c) => (0L until c).map(j =>
        (d * 100 + j, d * 86400L * 1000000000L + j, 1L, "view", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_time_cusum").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq === Seq((day0, 1L, -2L, true), (day0 + 1, 3L, 2L, true),
      (day0 + 2, 1L, 0L, false)))
  }

  test("q_events_dau_mau: trailing window unions users; window edge at 28 days") {
    val dir = TestSpark.jvmTempDir("dauprop-")
    val day0 = 19723L
    // day0 users {1,2}; day1 users {2,3}; day0+28 user {9}. The trailing
    // window of day0+28 is [day0+1, day0+28]: day1's users {2,3} are IN
    // (exactly 27 days back), day0's are OUT (28 back) — the window-edge
    // probe for the BETWEEN d-27 AND d convention
    val rows = Seq((day0, 1L), (day0, 2L), (day0 + 1, 2L), (day0 + 1, 3L),
      (day0 + 28, 9L)).zipWithIndex.map { case ((d, u), i) =>
      (i.toLong, d * 86400L * 1000000000L + i, u, "view", 1.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_events_dau_mau").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (day0, 2L, 2L, 1000L),          // users {1,2}
      (day0 + 1, 2L, 3L, 666L),       // dau {2,3}, mau {1,2,3}, 2000 div 3
      (day0 + 28, 1L, 3L, 333L)))     // dau {9}, mau {2,3,9}, 1000 div 3
  }

  test("q_graph_kcore: 8 peel rounds reach the fixpoint on the real corpus") {
    // the declared query runs 8 fixed rounds with the adaptive
    // k = max(2, (2·meandeg) div 3) (measured convergence <= 7 at sf0.01,
    // the slowest SF); this pins that 2 extra rounds change NOTHING on
    // driver data — the monotone-peel fixpoint really is inside the budget
    def core(rounds: Int): Map[String, Long] = {
      val docs = Tables.t(spark, "/root/testdata/sf0.01", "documents")
      val tg = operators.Grams.kgramRows(docs, 3, Seq())
        .select(split(col("item"), " ").as("p"))
        .filter(size(col("p")) === 3)
        .select(concat_ws(" ", col("p")(0), col("p")(1)).as("g1"),
          concat_ws(" ", col("p")(1), col("p")(2)).as("g2"))
        .filter(col("g1") =!= col("g2"))
      val pj = tg
        .select(least(col("g1"), col("g2")).as("a"),
          greatest(col("g1"), col("g2")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).select(col("a"), col("b"))
      val sym = pj.select(col("a").as("m"), col("b").as("n"))
        .union(pj.select(col("b").as("m"), col("a").as("n")))
      val st = sym
        .agg(count(lit(1)).as("e2"), countDistinct(col("m")).as("v")).head()
      val k = math.max(2L, st.getLong(0) / st.getLong(1) * 2 / 3)
      operators.GraphOps.kcoreSurvivors(sym, k.toInt, rounds)
        .groupBy(col("m")).agg(count(lit(1)).as("deg"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val at8 = core(8)
    assert(at8.nonEmpty, "the sf0.01 adaptive core must be non-empty")
    assert(at8 === core(10), "rounds 9-10 must be no-ops (fixpoint reached)")
  }

  test("q_time_seasonal: planted 3-week series backtests the lag-7 forecast") {
    val dir = TestSpark.jvmTempDir("snaive-")
    val day0 = 19723L // 2024-01-01
    // day d carries (d - day0 + 1) events for 21 consecutive days, except
    // day0+10 is SKIPPED — the calendar join must forecast day0+17 from
    // the missing day as absent (no row), not misalign like a row-lag
    val counts = (0 until 21).filter(_ != 10).map(i => (day0 + i, i + 1L))
    val rows = counts.flatMap { case (d, c) =>
      (0L until c).map(j => (d * 1000 + j, d * 86400L * 1000000000L + j * 1000L,
        j % 3, "view", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_time_seasonal").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = counts.collect { case (d, c) if counts.toMap.contains(d - 7) =>
      (d, c, c - 7, 7L)
    }
    assert(out.toSeq === expected,
      "snaive error is exactly 7 on the linear ramp; gap days drop out")
  }

  test("q_retrieval_phrase: positional join equals the array recount at sf0.001") {
    // cross-formulation law: the engine's positional-postings join must
    // agree with an INDEPENDENT zip_with/array recount of adjacent pairs
    // (different algorithm, same semantics — the oracle's bigram route,
    // replayed inside Spark so the law runs offline)
    val d = "/root/testdata/sf0.001"
    val eng = Registry.byName("q_retrieval_phrase").run(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val re = Tables.t(spark, d, "documents")
      .withColumn("pairs", expr(
        """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |  (a, b) -> concat(a, ' ', b))""".stripMargin))
      .select(col("doc_id"),
        size(expr("filter(pairs, g -> g = 'order fast')")).cast("long")
          .as("n_occ"),
        expr("array_position(pairs, 'order fast')").as("first_pos"))
      .filter(col("n_occ") > 0)
      .orderBy(col("n_occ").desc, col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(eng.nonEmpty, "the phrase must occur at sf0.001")
    assert(eng === re)
  }

  test("q_events_rfm: segments conserve the purchasing population and spend") {
    val d = "/root/testdata/sf0.01"
    val out = Registry.byName("q_events_rfm").run(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out.forall { case (rq, fq, mq, u, _) =>
      Seq(rq, fq, mq).forall(q => q >= 1 && q <= 5) && u >= 1
    }, "scores in 1..5, segments non-empty")
    val purch = Tables.events(spark, d).filter(col("event_type") === "purchase")
    val nUsers = purch.select(col("user_id")).distinct().count()
    assert(out.map(_._4).sum === nUsers,
      "every purchasing user lands in exactly one segment")
    val total = purch
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")).head.getDouble(0)
    assert(math.abs(out.map(_._5).sum - total) < 1e-6,
      "segment monetary totals conserve the global spend")
  }

  test("q_time_acf: planted alternating series gives r = -1, +1, -1") {
    val dir = TestSpark.jvmTempDir("acf-")
    val h0 = 1704067200L // epoch seconds, hour-aligned
    // 48 hours alternating 10/20 events: perfect period 2 -> lag-2
    // correlation exactly +1, odd lags exactly -1 (the series is its own
    // negative-phase copy); the IEEE tree reproduces +-1.0 after round(6)
    val rows = (0 until 48).flatMap { h =>
      val c = if (h % 2 == 0) 10 else 20
      (0 until c).map(j => (h * 1000L + j,
        (h0 + h * 3600L) * 1000000000L + j * 1000L, j.toLong % 5, "view",
        1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_time_acf").run(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out === Seq((1L, 47L, -1.0), (2L, 46L, 1.0), (3L, 45L, -1.0)))
  }

  test("q_compress_rle_audit: run counts are bounded and the ratio recomputes") {
    val d = "/root/testdata/sf0.01"
    val li = Tables.t(spark, d, "lineitem")
    val nRows = li.count()
    val nOrders = li.select(col("l_orderkey")).distinct().count()
    val out = Registry.byName("q_compress_rle_audit").run(spark, d).collect()
    assert(out.length === 3)
    for (r <- out) {
      val (rows, runs, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(rows === nRows)
      assert(runs >= nOrders, "each order starts at least one run")
      assert(runs <= rows, "runs cannot exceed rows")
      assert(ratio === BigDecimal(rows.toDouble / runs.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("q_text_zipf: engine output equals an independent integer replay") {
    // the full dyadic-log2 + OLS pipeline recomputed OUTSIDE Spark from
    // raw word counts (the q_text_perplexity BigInt-replay discipline)
    val d = "/root/testdata/sf0.001"
    val freqs = Tables.t(spark, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) }
    val pts = freqs.zipWithIndex.map { case ((_, c), i) =>
      (Log2Ref.log2q(i + 1L, 1), Log2Ref.log2q(c, 1))
    }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val out = Registry.byName("q_text_zipf").run(spark, d).collect().head
    assert(out.getLong(0) === pts.length.toLong)
    assert(out.getDouble(1) === r6(slope))
    assert(out.getDouble(2) === r6((sy - slope * sx) / n / 1024.0))
  }

  test("q_sample_balanced: every class is capped at exactly the min class size") {
    val d = "/root/testdata/sf0.01"
    val byLang = Tables.t(spark, d, "documents")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mn = byLang.values.min
    val out = Registry.byName("q_sample_balanced").run(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet === byLang.keySet, "every language survives")
    assert(out.values.forall(_ === mn),
      s"every class downsamples to the min class size $mn")
  }

  test("q_stats_ttest: engine tree equals an independent moment replay") {
    val d = "/root/testdata/sf0.01"
    val m = Tables.t(spark, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sx"),
        sum(col("o_totalprice").cast("decimal(18,2)")
          * col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sxx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def t(a: String, b: String): Double = {
      val (n1, sx1, sxx1) = m(a); val (n2, sx2, sxx2) = m(b)
      val v1 = (sxx1 - sx1 * sx1 / n1.toDouble) / (n1.toDouble - 1.0)
      val v2 = (sxx2 - sx2 * sx2 / n2.toDouble) / (n2.toDouble - 1.0)
      val raw = (sx1 / n1.toDouble - sx2 / n2.toDouble) /
        math.sqrt(v1 / n1.toDouble + v2 / n2.toDouble)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
    }
    val out = Registry.byName("q_stats_ttest").run(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    for (((a, b), got) <- out) assert(got === t(a, b), s"pair ($a,$b)")
  }

  test("q_funnel_windowed: the +24h boundary converts; +24h+1ns drops (R11)") {
    val dir = TestSpark.jvmTempDir("fwin-")
    val t0 = 1704067200L * 1000000000L
    val D = 86400L * 1000000000L
    // user 1 converts three stages, each EXACTLY at the +24h edge (<= is
    // the contract); its purchase lands 1 ns past the edge and must drop.
    // user 2's view is 1 ns past the edge and must drop there.
    val rows = Seq(
      (1L, t0, 1L, "signup", 0.0, "{}"),
      (2L, t0 + D, 1L, "view", 0.0, "{}"),
      (3L, t0 + 2 * D, 1L, "click", 0.0, "{}"),
      (4L, t0 + 3 * D + 1, 1L, "purchase", 0.0, "{}"),
      (5L, t0, 2L, "signup", 0.0, "{}"),
      (6L, t0 + D + 1, 2L, "view", 0.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_funnel_windowed").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("1_signup", 2L), ("2_view", 1L),
      ("3_click", 1L), ("4_purchase", 0L)))
  }

  test("q_funnel_windowed is stage-wise dominated by the unbounded funnel") {
    val d = "/root/testdata/sf0.01"
    def counts(q: String) = Registry.byName(q).run(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bounded = counts("q_funnel_windowed")
    val free = counts("q_funnel")
    assert(bounded("1_signup") === free("1_signup"),
      "stage 1 has no window constraint")
    for (st <- Seq("2_view", "3_click", "4_purchase"))
      assert(bounded(st) <= free(st), s"window can only shrink $st")
    assert(bounded("2_view") > 0, "the 24h window must not empty sf0.01")
  }

  test("q_time_theilsen: one planted outlier day cannot move the median slope") {
    val dir = TestSpark.jvmTempDir("theil-")
    val day0 = 19723L
    // 15 days on a perfect +2/day ramp, except day 7 spikes to 500 events:
    // 91 of 105 pairwise slopes are exactly 2.0, so the Theil-Sen median
    // is 2.0 and the median residual is the ramp's exact intercept — OLS
    // would be dragged by the spike (the robustness claim, pinned)
    val counts = (0 until 15).map(i =>
      (day0 + i, if (i == 7) 500L else 10L + 2 * i))
    val rows = counts.flatMap { case (d, c) =>
      (0L until c).map(j => (d * 1000 + j, d * 86400L * 1000000000L + j,
        j % 3, "view", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_time_theilsen").run(spark, dir).collect().head
    assert((out.getLong(0), out.getLong(1)) === ((15L, 105L)))
    assert(out.getDouble(2) === 2.0)
    assert(out.getDouble(3) === 10.0 - 2.0 * day0)
  }

  test("q_time_rolling_median: a planted spike day cannot move the median") {
    val dir = TestSpark.jvmTempDir("rmed-")
    val day0 = 19723L
    // constant-10 series with day1 = 20 (pins the lower-median even-window
    // convention: sorted [10,20] picks position (2+1) div 2 = 1 -> 10) and
    // day7 = 500 (the spike a trailing MEAN would smear over a week)
    val counts = (0 until 15).map(i =>
      (day0 + i, if (i == 7) 500L else if (i == 1) 20L else 10L))
    val rows = counts.flatMap { case (d, c) =>
      (0L until c).map(j => (d * 1000 + j, d * 86400L * 1000000000L + j,
        0L, "view", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_time_rolling_median").run(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(o => (o._1, o._2)).toSeq === counts,
      "daily counts reproduce the plant")
    assert(out.forall(_._3 === 10L),
      "neither the spike nor the even-window tie moves the rolling median")
  }

  test("q_text_llr: engine output equals an integer replay at sf0.001") {
    // recompute G2 from raw bigram counts with the identical dyadic
    // recurrence outside Spark (the q_text_zipf replay discipline)
    val d = "/root/testdata/sf0.001"
    import Log2Ref.log2q
    val bgs = Tables.t(spark, d, "documents").collect()
      .map(_.getAs[String]("text")).flatMap { t =>
        val ws = t.split(" ")
        if (ws.length < 2) Seq.empty
        else ws.sliding(2).map(p => (p(0), p(1))).toSeq
      }
    val cnt = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val caM = cnt.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val cbM = cnt.groupBy(_._1._2).map { case (w, m) => w -> m.values.sum }
    val nb = cnt.values.sum
    def llrQ(w1: String, w2: String, k11: Long): Long = {
      val (ca, cb) = (caM(w1), cbM(w2))
      val entries = Seq(
        (-1L, k11), (-1L, ca - k11), (-1L, cb - k11),
        (-1L, nb - ca - cb + k11),
        (1L, ca), (1L, nb - ca), (1L, cb), (1L, nb - cb))
      2 * entries.collect { case (s, k) if k >= 1 => s * k * log2q(nb, k) }.sum
    }
    val expected = cnt.toSeq.collect { case ((w1, w2), k) if k >= 5 =>
      (w1, w2, k, llrQ(w1, w2, k))
    }.sortBy { case (w1, w2, _, q) => (-q, w1, w2) }.take(20)
      .map { case (w1, w2, k, q) => (w1, w2, k, q, q.toDouble / 1024.0) }
    val out = Registry.byName("q_text_llr").run(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out.nonEmpty, "sf0.001 must yield candidate collocations")
    assert(out === expected)
  }

  test("q_text_burstiness: engine VMR equals an exact integer replay") {
    val d = "/root/testdata/sf0.001"
    val perDoc = Tables.t(spark, d, "documents").collect()
      .map(_.getAs[String]("text"))
      .flatMap(_.split(" ").groupBy(identity).map {
        case (w, occ) => (w, occ.length.toLong)
      })
    val expected = perDoc.groupBy(_._1).collect {
      case (w, occ) if occ.length >= 5 =>
        val df = occ.length.toLong
        val cf = occ.map(_._2).sum
        val c2 = occ.map(o => o._2 * o._2).sum
        (w, df, cf,
          (BigInt(df) * c2 - BigInt(cf) * cf).toDouble /
            (BigInt(df) * cf).toDouble)
    }.toSeq.sortBy { case (w, _, _, v) => (-v, w) }.take(20)
    val out = Registry.byName("q_text_burstiness").run(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(out.nonEmpty, "sf0.001 must yield words above the df floor")
    assert(out === expected)
  }

  test("q_dq_entropy: engine output equals an integer replay at sf0.01") {
    // recompute each column's H_q = Σ c·log2q(N/c) from raw value counts
    // with the recurrence outside Spark; the 20-source uniform column must
    // read the quantized log2(20) exactly
    val d = "/root/testdata/sf0.01"
    import Log2Ref.log2q
    def expected(counts: Seq[Long]): (Long, Long, Double) = {
      val nn = counts.sum
      val hq = counts.map(c => c * log2q(nn, c)).sum
      (nn, counts.size.toLong, hq.toDouble / (nn.toDouble * 1024.0))
    }
    val docs = Tables.t(spark, d, "documents")
    val cols = Map(
      "documents.lang" -> docs.groupBy(col("lang")).count(),
      "documents.source" -> docs.groupBy(col("source")).count(),
      "events.event_type" ->
        Tables.events(spark, d).groupBy(col("event_type")).count(),
      "orders.o_orderpriority" ->
        Tables.t(spark, d, "orders").groupBy(col("o_orderpriority")).count())
    val out = Registry.byName("q_dq_entropy").run(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for ((name, cdf) <- cols) {
      val counts = cdf.collect().map(_.getLong(1)).toSeq
      assert(out(name) === expected(counts), name)
    }
    val q20 = log2q(20L, 1L)
    assert(out("documents.source")._3 === q20.toDouble / 1024.0,
      "uniform 20-source column reads the quantized log2(20)")
  }

  test("q_dq_referential: a planted missing parent surfaces as orphans with rate") {
    // clone MiniData, then drop supplier 2 — lineitem's four suppkey-2 rows
    // become orphans on exactly one distinct key; every other edge stays
    // clean (the fixture and the driver corpora are referentially intact,
    // so this probe is the only coverage of the orphan branch)
    val dir = TestSpark.jvmTempDir("refprop-")
    for (t <- Seq("region", "nation", "customer", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      spark.read.parquet(s"${MiniData.dir}/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    spark.read.parquet(s"${MiniData.dir}/supplier.parquet")
      .filter(col("s_suppkey") =!= 2L)
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val out = Registry.byName("q_dq_referential").run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val bad = out.find(_._1 == "lineitem.l_suppkey->supplier").get
    assert(bad === (("lineitem.l_suppkey->supplier", 8L, 0L, 4L, 1L, 0.5)))
    assert(out.filterNot(_._1 == "lineitem.l_suppkey->supplier")
      .forall(e => e._4 == 0L && e._6 == 0.0),
      s"only the planted edge may report orphans: ${out.toSeq}")
  }

  test("q_events_concurrency: a midnight-crossing session carries into the next day") {
    // user 1's 23:50 -> 00:10 events chain into ONE session spanning
    // midnight (gap 20 min <= 30); user 2 fires an instant session at
    // 00:05 while it is still open. Day 1 peak must be carry(1) +
    // in-day(1) = 2; day 0's peak sits at the session start; a
    // carry-level peak reports NULL peak_at_us by contract.
    val t1 = 1704153000L * 1000000000L // 2024-01-01 23:50:00 UTC
    val t2 = 1704154200L * 1000000000L // 2024-01-02 00:10:00
    val t3 = 1704153900L * 1000000000L // 2024-01-02 00:05:00
    val dir = TestSpark.jvmTempDir("concprop-")
    Seq(
      (1L, t1, 1L, "click", 0.0, """{"k": 1}"""),
      (2L, t2, 1L, "click", 0.0, """{"k": 2}"""),
      (3L, t3, 2L, "view", 0.0, """{"k": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Registry.byName("q_events_concurrency").run(spark, dir)
      .collect().map(_.toSeq)
    assert(out.toSeq === Seq(
      Seq(19723L, 0L, 1L, 1L, t1 / 1000),
      Seq(19724L, 1L, 1L, 2L, t3 / 1000)))
  }

  test("q_dq_sequence: planted holes surface as islands, missing count, first gap") {
    // ids {1,2,3, 7,8, 10}: three islands, four missing (4,5,6,9), first
    // gap starts at 4; a duplicated id (3 twice) must not double-count
    val dir = TestSpark.jvmTempDir("seqprop-")
    Seq(1L, 2L, 3L, 3L, 7L, 8L, 10L).zipWithIndex
      .map { case (id, i) =>
        (id, i.toLong, "O", 1.0, new java.sql.Timestamp(0L), "1-URGENT")
      }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = Registry.byName("q_dq_sequence").run(spark, dir)
      .collect().map(_.toSeq)
    assert(out.toSeq === Seq(Seq(6L, 1L, 10L, 4L, 3L, 4L)))
  }

  test("q_stats_mannwhitney: an all-tied pair reports U = n1*n2/2 and NULL z") {
    // statuses A {10.00, 10.00} vs B {10.00}: every observation ties, the
    // variance term is exactly zero, and U collapses to its null-mean
    val dir = TestSpark.jvmTempDir("mwprop-")
    Seq((1L, 1L, "A", 10.00), (2L, 2L, "A", 10.00), (3L, 3L, "B", 10.00))
      .map { case (ok, ck, st, p) =>
        (ok, ck, st, p, new java.sql.Timestamp(0L), "1-URGENT")
      }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = Registry.byName("q_stats_mannwhitney").run(spark, dir)
      .collect().map(_.toSeq)
    assert(out.toSeq === Seq(Seq("A", "B", 2L, 1L, 1.0, null)))
  }

  test("q_time_holt: Brown recurrence replay equals the closed convolution form") {
    val dir = TestSpark.jvmTempDir("holtprop-")
    // a 30-day trending series with a level shift: y = 10 + 2t (+100 from
    // day 20) — long enough that the 24-lag truncation is exercised
    val ns = 86400L * 1000000000L
    val series = (0 until 30).map(t => 10L + 2 * t + (if (t >= 20) 100L else 0L))
    val rows930 = series.zipWithIndex.flatMap { case (c, t) =>
      (0L until c).map(i => (t * 1000 + i, t * ns + i, 1L, "view", 1.0, "{}"))
    }
    rows930.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // sequential replay of S1/S2 with alpha=1/2, zero-init, 24-lag memory:
    // the closed form f_t = sum_j (2-j)/2^(j+1) y_{t-1-j} must agree
    def closed(t: Int): Double =
      (0 until 24).map { j =>
        val idx = t - 1 - j
        val y = if (idx >= 0) series(idx).toDouble else 0.0
        y * (2 - j).toDouble / (1L << (j + 1)).toDouble
      }.sum
    val out = Registry.byName("q_time_holt").run(spark, dir).collect()
      .map(r => (r.getLong(1), r.getDouble(3))).toMap
    for (t <- 0 until 30) {
      val exp = BigDecimal(closed(t))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(out(t.toLong) === exp, s"day $t")
    }
    // independent check: the TRUE Brown recurrence (S1/S2 with alpha=1/2,
    // zero-init, f = 3*S1 - 2*S2 one step back) must agree with the
    // 24-lag truncation up to the documented tail (< ~1e-3 here)
    var s1 = 0.0; var s2 = 0.0
    for (t <- 0 until 30) {
      val rec = 3.0 * s1 - 2.0 * s2
      assert(math.abs(out(t.toLong) - rec) < 1e-3,
        s"day $t: truncated ${out(t.toLong)} vs recurrence $rec")
      s1 = series(t) / 2.0 + s1 / 2.0
      s2 = s1 / 2.0 + s2 / 2.0
    }
    // trend tracking: in the steady +2/day stretch before the shift the
    // one-step forecast must sit within 1 of the actual (EWMA alone lags
    // by the full trend; Brown's closes that gap)
    for (t <- 15 until 20)
      assert(math.abs(out(t.toLong) - series(t)) <= 1.0,
        s"day $t: forecast ${out(t.toLong)} vs actual ${series(t)}")
  }

  test("q_map_ops: map-derived scalars reconcile against direct aggregation at sf0.001") {
    val d = "/root/testdata/sf0.001"
    val nLines = Tables.t(spark, d, "lineitem").count()
    val out = Registry.byName("q_map_ops").run(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // the per-flag map totals partition the corpus exactly
    assert(out.map(_._5).sum === nLines)
    for ((_, nKeys, csv, cntO, total, nMajor) <- out) {
      assert(csv.split(",").length.toLong === nKeys, csv)
      assert(cntO >= 0L && cntO <= total)
      assert(nMajor >= 0L && nMajor <= nKeys)
    }
  }

  test("q_stats_poissonboot: the CI envelope brackets the full mean at sf0.001") {
    val d = "/root/testdata/sf0.001"
    val nOrders = Tables.t(spark, d, "orders").count()
    val Seq(Seq(n: Long, mean: Double, nReps: Long, lo: Double, hi: Double)) =
      Registry.byName("q_stats_poissonboot").run(spark, d).collect()
        .map(_.toSeq).toSeq
    // the b = -1 pseudo-replicate has weight 1 per row -> n is the corpus size
    assert(n === nOrders)
    // no replicate degenerates to zero mass on a 1500-row corpus
    assert(nReps === 30L)
    // replicate means concentrate around the full mean; the 5th/95th
    // percentile elements bracket it (deterministic fact of this corpus)
    assert(lo <= mean && mean <= hi, s"$lo <= $mean <= $hi")
  }

  test("q_graph_community: member counts are bounded by the bigram node universe at sf0.001") {
    val d = "/root/testdata/sf0.001"
    // replicate the graph prep: distinct bigram nodes incident to a
    // co-occurrence >= 2 edge (the query's vertex set)
    val tg = graft.operators.Grams.kgramRows(
        Tables.t(spark, d, "documents"), 3, Seq())
      .select(split(col("item"), " ").as("p"))
      .filter(size(col("p")) === 3)
      .select(concat_ws(" ", col("p")(0), col("p")(1)).as("g1"),
        concat_ws(" ", col("p")(1), col("p")(2)).as("g2"))
      .filter(col("g1") =!= col("g2"))
    val edges = tg.select(least(col("g1"), col("g2")).as("a"),
        greatest(col("g1"), col("g2")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w")).filter(col("w") >= 2)
    val nodeSet = edges.select(explode(array(col("a"), col("b"))).as("m"))
      .distinct().as[String].collect().toSet
    val out = Registry.byName("q_graph_community").run(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // top-20 by members desc (community asc on ties), all positive, and
    // the community ids are themselves nodes of the graph
    assert(out.map(_._2).sum <= nodeSet.size.toLong)
    assert(out.forall(_._2 > 0L))
    assert(out.map(_._2).toSeq === out.map(_._2).sortBy(-_).toSeq)
    assert(out.forall { case (c, _) => nodeSet.contains(c) })
  }

  test("q_dq_funcdep: the unique-key dependency is exactly clean at sf0.01") {
    val d = "/root/testdata/sf0.01"
    val nOrders = Tables.t(spark, d, "orders").count()
    val out = Registry.byName("q_dq_funcdep").run(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val clean = out.find(_._1 == "o_orderkey->o_orderstatus").get
    assert(clean._2 === nOrders && clean._3 === 0L && clean._4 === 0.0)
    assert(out.forall { case (_, nk, vk, rate) =>
      vk <= nk && rate >= 0.0 && rate <= 1.0
    })
  }
}
