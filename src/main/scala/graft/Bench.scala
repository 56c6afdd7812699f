package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: ONE SHORT JSON line + a full sidecar file.
  *
  * Round-5 restructure (VERDICT items 2 + 8): the round-3/4 bench line
  * carried every per-query time twice (154 queries × 2 passes ≈ 12 kB),
  * overflowing the driver's tail capture — both official BENCH records
  * came back `parsed: null`. The graded line is now SHORT and
  * self-contained: min-of-passes total (the steady-state figure a loaded
  * box cannot inflate — round 4's 2047 s contention artifact masqueraded
  * as a 10× regression), both raw pass totals for variance visibility,
  * and the worst-10 queries by min-of-passes. The complete per-query
  * maps (pass1/pass2/min) go to `BENCH_FULL_latest.json` in the working
  * directory, named on the line under `"full"`.
  *
  * A query that throws is reported in `failed` and excluded from every
  * total instead of silently distorting it.
  *
  * Round-6 quiet-box guard (VERDICT r5 item 8): round 4's official bench
  * ran on an externally loaded box and posted a 2047 s artifact that cost
  * a whole round of perf signal — nothing in the JSON said so. The line
  * now self-describes contention: 1-minute load average sampled before
  * and after the timed passes, the count of OTHER live JVMs on the box,
  * and a derived `"contended"` verdict (pre-load > half the cores, or any
  * foreign JVM). A contended record is still printed — the driver keeps
  * its artifact — but carries its own disqualification evidence instead
  * of masquerading as a regression.
  *
  * Round-6 calibration anchor: the round-5→6 A/B (identical commit,
  * identical data, identical idle box by every guard above) still ran
  * ~25% slower than round 5's recorded artifact — the BOX got slower
  * between rounds, and nothing in the guards can see speed, only load.
  * `"calib_sec"` is the min-of-3 time of a FIXED synthetic Spark job
  * (256M-row range → xxhash64 → 1024-group hash agg: codegen + shuffle,
  * zero data dependence, zero query-surface dependence), run after
  * warmup on the same session. Cross-round comparisons should read
  * total_min/calib_sec, not raw seconds: the anchor moves with the box,
  * the surface's real regressions don't move the anchor.
  */
object Bench {

  /** Anchor-job identity, emitted with every bench record (round 8,
    * VERDICT item 3): cross-round normalization (total_min/calib_sec) is
    * only valid between records whose `calib_anchor` MATCHES — the r6→r7
    * anchor change (256M-row min-of-3 → 4G-row median-of-5) silently
    * invalidated one round of normalized comparison because nothing in
    * the JSON said the anchor job had changed. This id is PINNED: never
    * change the anchor job without bumping the version suffix AND
    * recording a one-time conversion factor (old/new anchor medians
    * measured back-to-back on one box) in BASELINE.md.
    *
    * Round 9 (VERDICT item 7): the JVM heap class and cpu count are part
    * of the anchor IDENTITY, not just metadata — the same anchor job runs
    * ~2× slower at 8 GiB than at 91 GiB (measured r8, BASELINE.md), so a
    * normalized cross-round read that silently mixes heap classes is as
    * invalid as one that mixes anchor jobs. The emitted `calib_anchor` is
    * `<job-id>/heap<GiB>g-cpu<n>`; normalization is valid only between
    * records whose FULL string matches. The job id itself stays pinned. */
  private val CalibAnchorJob = "4g-xxhash64-agg1024-median5-v1"

  private def calibAnchorId(cpus: String): String = {
    val heapGb = math.round(Runtime.getRuntime.maxMemory() / 1073741824.0)
    s"$CalibAnchorJob/heap${heapGb}g-cpu$cpus"
  }

  /** One fixed calibration pass: 4G ids → xxhash64 → 1024-key hash agg.
    * Deterministic, data-independent, exercises the same whole-stage
    * codegen + map-side combine + exchange path the query surface lives
    * on. Returns elapsed seconds.
    *
    * Round 7 (VERDICT item 5): 16× longer than the round-6 256M-row anchor
    * (~5 s instead of ~0.3 s) and summarized as MEDIAN-of-5 instead of
    * min-of-3 — the short anchor's calib_sec swung ±15% across one
    * session's benches, too noisy to resolve the ~5% effects cross-round
    * normalization exists for. A longer job amortizes scheduler/JIT
    * jitter; the median resists one contended outlier in either
    * direction where min only resists slow ones. The per-run samples are
    * emitted as "calib_runs" so any single bench record carries its own
    * anchor-variance evidence. */
  private def calibOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4096L * 1024 * 1024, 1L, 32)
      .selectExpr("xxhash64(id) AS h")
      .selectExpr("pmod(h, 1024) AS k", "h")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("h"),
        org.apache.spark.sql.functions.count("*"))
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  /** 1-minute system load average (-1.0 where the JVM can't read it).
    * `private[graft]`: Verify emits the same guards (round 11, item 7). */
  private[graft] def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Live java processes on the box OTHER than this one. */
  private[graft] def otherJvms(): Long =
    ProcessHandle.allProcesses()
      .filter(p => p.pid() != ProcessHandle.current().pid() &&
        p.info().command().map[Boolean](_.contains("java")).orElse(false))
      .count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val loadPre = loadAvg()
    val jvmsPre = otherJvms()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup pass: JIT compilation + parquet footer/codegen caches,
    // so the timed loop reports steady-state per-query cost instead of
    // charging whole-JVM warmup to whichever query happens to run first.
    // A failure here is recorded (query, exception class) in the sidecar's
    // `warmup_failed`, so a query that fails only while warming is visible.
    val warmupFailed = SparkEntry.queries.flatMap { case (name, fn) =>
      val err = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(name -> e.getClass.getName) }
      spark.catalog.clearCache()
      graft.Caches.release(spark) // drain the tracked-persist registry too
      err
    }
    def timedPass(): (Map[String, Double], Seq[String]) = {
      val failed = Seq.newBuilder[String]
      val times = SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => failed += name; false }
        // operators may persist shared sub-relations (Dedup/Fingerprint);
        // each run builds fresh plan instances, so entries never help a
        // later query — drop them to keep memory flat across 154×3 runs
        spark.catalog.clearCache()
        graft.Caches.release(spark) // drain the tracked-persist registry too
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
      (times, failed.result())
    }
    // calibration anchor: one untimed JIT pass, then median-of-5 —
    // measured BEFORE the query passes so a contended tail can't skew the
    // anchor away from the conditions most queries ran under
    calibOnce(spark)
    val calibRuns0 = Seq.fill(5)(calibOnce(spark)).sorted
    val (pass1, failed1) = timedPass()
    val (pass2, failed2) = timedPass()
    // sbt's own JVM always accompanies this fork; more than one foreign
    // JVM, or a pre-existing load beyond half the cores, means some other
    // workload shared the box with the timed passes. Round 9 (VERDICT
    // item 2): the pre-run tests missed INTERMITTENT mid-run load — the
    // graded r8 sidecar shipped calib_runs spanning 4.16→11.33 s with
    // contended:false and carried two contention-inflated entries — so the
    // verdict now also reads the run's own variance evidence: the
    // calibration samples' max/min spread (identical deterministic job —
    // any spread beyond jitter is foreign load), and the timed passes'
    // total disagreement (same queries, same session, back-to-back).
    //
    // Round 10 (VERDICT item 1): Bench now ACTS on its own verdict instead
    // of just recording it. The r9 graded artifact was a 506 s contaminated
    // pass beside a 219 s clean one (pass_skew 2.30) — min-of-2 recovered
    // the total, but any query unlucky in BOTH passes kept an inflated
    // number (q_stats_corrmat shipped 6.11 s vs 1.5 s quiet). When the
    // run's own evidence says contention (pre-load, foreign JVMs, calib
    // spread, or pass skew), run up to two EXTRA timed passes — stopping
    // early once the fastest two passes agree (skew ≤ 1.3, i.e. one clean
    // replicate confirms another) — and emit min-of-N per query: a load
    // burst must now hit the same query in every pass to survive into the
    // record. A calibration whose own 5 samples disagree (> 1.5 spread) is
    // re-measured after the passes and the lower-spread set is kept — the
    // anchor should reflect the box, not one burst.
    def skewOf(ps: Seq[Map[String, Double]], fl: Seq[String]): Double = {
      val totals = ps.map(_.collect {
        case (k, v) if !fl.contains(k) && v >= 0 => v
      }.sum).sorted
      totals.last / math.max(totals.head, 1e-9)
    }
    // fastest-two agreement: min-of-N is only as trustworthy as its two
    // fastest witnesses — if they disagree >1.3× the run is still dirty
    def minSkewOf(ps: Seq[Map[String, Double]], fl: Seq[String]): Double = {
      val totals = ps.map(_.collect {
        case (k, v) if !fl.contains(k) && v >= 0 => v
      }.sum).sorted
      if (totals.size < 2) 1.0
      else totals(1) / math.max(totals.head, 1e-9)
    }
    var passes = Vector(pass1, pass2)
    var failedAcc = (failed1 ++ failed2).distinct
    val calibSpread0 = calibRuns0.last / calibRuns0.head
    val preContended = loadPre > cpus.toDouble / 2 || jvmsPre > 1 ||
      calibSpread0 > 1.5 || skewOf(passes, failedAcc) > 1.3
    // preContended alone buys ONE extra pass (a dirty-looking box deserves
    // a third witness even when the first two agree — they may agree on
    // inflated numbers); fastest-two disagreement keeps buying passes up
    // to the cap of 4 total. The RETRY trigger (1.15) is deliberately
    // tighter than the disqualification label (1.3): a same-session r10
    // run shipped pass totals 344/420 s (skew 1.22 — load arrived mid-run,
    // under the old 1.3 trigger) whose min-of-2 was still ~1.4× the quiet
    // value; an extra pass is minutes, a contaminated graded sidecar is a
    // round of lost perf signal.
    def needMore: Boolean = passes.size < 4 &&
      (minSkewOf(passes, failedAcc) > 1.15 ||
        (preContended && passes.size == 2))
    while (needMore) {
      val (p, f) = timedPass()
      passes :+= p
      failedAcc = (failedAcc ++ f).distinct
    }
    val (calibRuns, calibRetried) =
      if (calibSpread0 > 1.5) {
        val retry = Seq.fill(5)(calibOnce(spark)).sorted
        val pick = if (retry.last / retry.head < calibSpread0) retry
          else calibRuns0
        (pick, true)
      } else (calibRuns0, false)
    val calib = calibRuns(calibRuns.size / 2)
    val failed = failedAcc.sorted
    val minPass: Map[String, Double] = pass1.keys.map { k =>
      val vs = passes.flatMap(_.get(k)).filter(_ >= 0)
      k -> (if (vs.isEmpty) -1.0 else vs.min)
    }.toMap
    // Round 11 (VERDICT item 2): min-of-N is contention-proof per query
    // only if SOME pass caught that query on a quiet stretch — the graded
    // r10 run shipped a 7.43 s q_dedup_upsert (re-timed ~4.2 s quiet)
    // because load covered it in every pass. After the passes — by when a
    // mid-run burst has often drained — re-time the suspects up to twice
    // each in the same warm session and fold the new minimum in: the
    // worst 10 by min (expensive queries are where inflation hides), plus
    // any query whose across-pass spread exceeds 1.5× (load sensitivity
    // in evidence). A re-time that stops improving the running min by
    // >5% stops early. Every re-timed value lands in the sidecar under
    // "retimed"; the short line carries the count.
    def spreadOf(k: String): Double = {
      val vs = passes.flatMap(_.get(k)).filter(_ >= 0)
      if (vs.isEmpty || vs.min <= 0) 1.0 else vs.max / vs.min
    }
    // bounded: worst-10 + the 20 highest spreads beyond 1.5× — a bursty
    // box can push most of the surface past the spread bar (a smoke run
    // re-timed 139/230), and re-timing everything would double the bench;
    // the high-spread head is where a fold-in still changes the record
    val suspects = (
      minPass.filterNot(kv => failed.contains(kv._1))
        .toSeq.sortBy(-_._2).take(10).map(_._1) ++
        minPass.keys.toSeq
          .filter(k => !failed.contains(k) && spreadOf(k) > 1.5)
          .sortBy(k => -spreadOf(k)).take(20)
      ).distinct.sorted
    val retimed = scala.collection.mutable.LinkedHashMap[String, Double]()
    suspects.foreach { k =>
      SparkEntry.queries.get(k).foreach { fn =>
        var cur = minPass(k)
        var tries = 0
        var keepGoing = true
        while (keepGoing && tries < 2) {
          tries += 1
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          spark.catalog.clearCache()
          graft.Caches.release(spark)
          if (!ok) keepGoing = false
          else {
            val t = (System.nanoTime() - t0) / 1e9
            retimed(k) = math.min(retimed.getOrElse(k, t), t)
            keepGoing = t < cur * 0.95
            cur = math.min(cur, t)
          }
        }
      }
    }
    val finalMin: Map[String, Double] = minPass.map { case (k, v) =>
      k -> (retimed.get(k) match {
        case Some(r) if v >= 0 => math.min(v, r)
        case _ => v
      })
    }
    // Round-10 ADVICE: min-of-N mixes sampling depths across rounds (N
    // varies 2–4 with the contention verdict; deeper sampling alone lowers
    // the min) — also emit the FASTEST-TWO-pass min total, a fixed-depth
    // figure every record carries, so cross-round readers can normalize.
    val fastest2 = passes.sortBy(p => p.collect {
      case (k, v) if !failedAcc.contains(k) && v >= 0 => v
    }.sum).take(2)
    val min2Pass: Map[String, Double] = pass1.keys.map { k =>
      val vs = fastest2.flatMap(_.get(k)).filter(_ >= 0)
      k -> (if (vs.isEmpty) -1.0 else vs.min)
    }.toMap
    def fmt(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def totalOf(m: Map[String, Double]) =
      m.collect { case (k, v) if !failed.contains(k) && v >= 0 => v }.sum
    val worst10 = finalMin.filterNot(kv => failed.contains(kv._1))
      .toSeq.sortBy(-_._2).take(10)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val warmupFailedJson = warmupFailed
      .map { case (q, e) => s"""{"query":"$q","error":"$e"}""" }
      .mkString("[", ",", "]")
    val rt = Runtime.getRuntime
    val loadPost = loadAvg()
    // one post-run anchor sample (round 11): the pre-pass calibration can
    // read a fast box that then degrades mid-run (observed: calib 4.32
    // before passes that ran 1.6x the quiet rate, load_post 6.2) — a
    // start/end anchor pair lets a reader adjudicate drift WITHIN the run
    val calibPost = calibOnce(spark)
    val calibSpread = calibRuns.last / calibRuns.head
    val passSkew = skewOf(passes, failed)
    val minSkew = minSkewOf(passes, failed)
    // the record's contention verdict reads the FASTEST TWO passes'
    // agreement (the witnesses min-of-N actually stands on), not the
    // worst pass — a recovered run is labeled clean WITH its recovery
    // evidence (passes, pass_skew) still in the record
    val contended = loadPre > cpus.toDouble / 2 || jvmsPre > 1 ||
      calibSpread > 1.5 || minSkew > 1.3
    val guardJson =
      s""""load_pre":$loadPre,"load_post":$loadPost,""" +
        s""""other_jvms":$jvmsPre,"contended":$contended,""" +
        s""""calib_spread":$calibSpread,"pass_skew":$passSkew,""" +
        s""""min_pass_skew":$minSkew,"passes":${passes.size},""" +
        s""""calib_retried":$calibRetried,""" +
        s""""calib_sec":$calib,"calib_post":$calibPost,""" +
        s""""calib_anchor":"${calibAnchorId(cpus)}",""" +
        s""""calib_runs":${calibRuns.mkString("[", ",", "]")}"""
    val retimedJson = fmt(retimed)
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "BENCH_FULL_latest.json")
    val passTotalsJson = passes.zipWithIndex
      .map { case (p, i) => s""""total${i + 1}":${totalOf(p)}""" }
      .mkString(",")
    val passQueriesJson = passes.zipWithIndex
      .map { case (p, i) => s""""queries${i + 1}":${fmt(p)}""" }
      .mkString(",")
    // Round-11 ADVICE: the folded total_min mixes sampling methodologies
    // (a query can improve merely by being re-timed) — also emit the
    // PRE-RETIME min-of-passes total so cross-round readers have a
    // fixed-depth figure under the pass methodology alone, beside the
    // fixed-two-pass total_fastest2.
    val preRetime = totalOf(minPass)
    val full =
      s"""{"sf":"$sfDir","cpus":$cpus,""" +
        s""""total_min":${totalOf(finalMin)},""" +
        s""""total_preretime":$preRetime,""" +
        s""""total_fastest2":${totalOf(min2Pass)},$passTotalsJson,""" +
        s""""failed":$failedJson,"warmup_failed":$warmupFailedJson,""" +
        s""""jvm_max_mem_mb":${rt.maxMemory() / 1048576},$guardJson,""" +
        s""""retimed":$retimedJson,""" +
        s""""queries_min":${fmt(finalMin)},$passQueriesJson}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), full)
    catch { case _: Throwable => () } // the short line must still print
    println(
      s"""{"metric":"total","value":${totalOf(finalMin)},"unit":"sec",""" +
        s""""sf":"$sfDir","pass":"min-of-${passes.size}","nq":${pass1.size},""" +
        s""""total_preretime":$preRetime,""" +
        s""""total_fastest2":${totalOf(min2Pass)},"retimed_n":${retimed.size},""" +
        s"""$passTotalsJson,""" +
        s""""queries":${fmt(worst10)},""" +
        s""""failed":$failedJson,"cpus":$cpus,""" +
        s""""jvm_max_mem_mb":${rt.maxMemory() / 1048576},$guardJson,""" +
        s""""full":"$fullPath"}""")
    spark.stop()
  }
}
