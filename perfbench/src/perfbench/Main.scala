package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Caches, GQ, Registry}
import graft.sources.{JdbcReplaceSink, RateLimitedClient, SpotifyPipeline, SpotifySource}

/** One benchmark run in a fresh JVM.
  *
  * Reads a request file written by `run.py`, runs the workload, and writes
  * every metric it measured to a result file; `run.py` picks the ones the
  * run reports. The engine is driven only through its public entry points:
  * `Registry`/`GQ` for the query workloads, `SpotifyPipeline`,
  * `RateLimitedClient` and `JdbcReplaceSink` for the ETL.
  *
  * Modes: `bench` (set up, one cold pass, warm passes for the requested
  * seconds, then the correctness check), `setup` (set up only, so that
  * `run.py` can take the median set-up time of several JVMs) and `freeze`
  * (each op's result checksum, recorded in `expected.json`). */
object Main {
  private val mapper = new ObjectMapper

  private val base0Ms = System.currentTimeMillis().toDouble
  private val base0Ns = System.nanoTime()
  /** Wall clock in ms, monotonic, comparable with Spark's event times. */
  def nowMs: Double = base0Ms + (System.nanoTime() - base0Ns) / 1e6

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Double, end: Double)

  /** Spans recorded in traced passes, kept in memory until the run ends. */
  private val spans = ArrayBuffer.empty[Span]
  private var tracing = false
  private def span(parent: Int, kind: String, name: String, start: Double, end: Double): Int = {
    if (!tracing) return -1
    spans += Span(spans.size, parent, kind, name, start, end)
    spans.size - 1
  }

  final case class Req(node: JsonNode) {
    def s(k: String): String = node.get(k).asText
    def i(k: String): Int = node.get(k).asInt
    def ops: Seq[String] = node.get("ops").elements.asScala.map(_.asText).toSeq
  }

  def main(args: Array[String]): Unit = {
    val req = Req(mapper.readTree(new File(args(0))))
    val out = Paths.get(req.s("result_file"))
    val result = try req.s("mode") match {
      case "bench" => bench(req)
      case "freeze" => freeze(req)
      case "setup" =>
        val (spark, setupS) = setUp(req, traced = false)
        spark.stop()
        Map("setup_s" -> setupS)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Map[String, Any]("error" -> e.toString)
    }
    Files.writeString(out, mapper.writeValueAsString(toJava(result)))
    // Stop every non-daemon thread Spark or Derby may have left behind.
    System.exit(0)
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }

  // ---- session ------------------------------------------------------------

  def session(req: Req, traced: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val work = req.s("work_dir")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
    if (traced) {
      b.config("spark.sql.queryExecutionListeners", classOf[QeTap].getName)
      b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTap].getName)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) spark.sparkContext.addSparkListener(new SparkTap)
    spark
  }

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Set-up, timed from JVM start: the session plus the workload's own
    * state, which is the data paths for the query workloads and the stub
    * and the Derby schema for the ETL. It runs once per JVM:
    * nearly all of it is class loading and first-use JIT, which a repeated
    * set-up in the same JVM would not see. So a run repeats it in fresh
    * JVMs (`setup` mode). */
  private def setUp(req: Req, traced: Boolean): (SparkSession, Double) = {
    val spark = session(req, traced)
    if (req.s("kind") == "etl") {
      Stub.catalogue = new Catalogue(req.i("seed").toLong)
      Derby.open()
    } else {
      val dir = req.s("data_dir")
      Tables.foreach(t => require(new File(s"$dir/$t.parquet").exists, s"missing table $t in $dir"))
    }
    (spark, (nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
  }

  // ---- one op -------------------------------------------------------------

  /** `checksum` is the op's result checksum when the pass computed one. */
  final case class OpOutcome(seconds: Double, ok: Boolean, error: String,
      checksum: String = null)

  /** Materialises every column through the `noop` sink. */
  def noop(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    null
  }

  /** One declared query: build, run `action` on the result, release.
    * Spans: op → {plan_build, action, release}. */
  def runQuery(spark: SparkSession, q: GQ, dir: String, parent: Int,
      action: DataFrame => String = noop): OpOutcome = {
    val t0 = nowMs
    var tPlan, tAct = Double.NaN
    var result: String = null
    val err = try {
      q(spark, dir) { df =>
        tPlan = nowMs
        result = action(df)
        tAct = nowMs
      }
      null
    } catch { case e: Throwable => e.toString }
    val tRel = nowMs
    spark.catalog.clearCache()
    Caches.release(spark)
    val t1 = nowMs
    val op = span(parent, "op", q.name, t0, t1)
    if (!tPlan.isNaN) {
      span(op, "plan_build", q.name, t0, tPlan)
      if (!tAct.isNaN) {
        span(op, "action", q.name, tPlan, tAct)
        span(op, "release", q.name, tAct, t1)
      }
    } else span(op, "release", q.name, tRel, t1)
    OpOutcome((t1 - t0) / 1e3, err == null, err, result)
  }

  /** Time spent inside `JdbcReplaceSink.write` in one pass. */
  final class EtlPass {
    var sinkMs = 0.0
  }

  /** One run of the reference pipeline: six replace-loads into Derby. Each
    * table load is one op. */
  def runEtl(spark: SparkSession, parent: Int, ep: EtlPass): Seq[(String, OpOutcome)] = {
    Stub.newRun()
    val client = new RateLimitedClient(new StubClient, minIntervalMs = 100,
      sleeper = (ms: Long) => Stub.sleep(ms))
    val pipeline = new SpotifyPipeline(new SpotifySource(client, Catalogue.Base))
    val t0 = nowMs
    var tFirst = Double.NaN
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[(String, OpOutcome, Double, Double)]()
    val err = try {
      pipeline.runConcurrent(spark, Catalogue.Ingest, (name: String, df: DataFrame) => {
        val s = nowMs
        synchronized { if (tFirst.isNaN) tFirst = s }
        val e = try { JdbcReplaceSink.write(df, Derby.Url, name); null }
          catch { case e: Throwable => e.toString }
        val t = nowMs
        ops.add((name, OpOutcome((t - s) / 1e3, e == null, e), s, t))
        if (e != null) throw new RuntimeException(e)
      })
      null
    } catch { case e: Throwable => e.toString }
    val tRel = nowMs
    spark.catalog.clearCache()
    Caches.release(spark)
    val t1 = nowMs
    val op = span(parent, "op", "pipeline", t0, t1)
    val planEnd = if (tFirst.isNaN) tRel else tFirst
    span(op, "plan_build", "SpotifyPipeline.run", t0, planEnd)
    ops.asScala.foreach { case (n, _, s, t) => span(op, "action", n, s, t) }
    span(op, "release", "pipeline", tRel, t1)
    ep.sinkMs += ops.asScala.map(o => o._4 - o._3).sum
    val done = ops.asScala.map(o => o._1 -> o._2).toSeq
    val missing = Derby.Tables.filterNot(done.map(_._1).toSet)
      .map(_ -> OpOutcome(0, ok = false, Option(err).getOrElse("not written")))
    done ++ missing
  }

  // ---- passes -------------------------------------------------------------

  final case class Pass(wall: Double, ops: Seq[(String, OpOutcome)], traced: Boolean,
      layers: Map[String, Double])

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def tmpEntries(tmp: File): Set[String] =
    Option(tmp.list()).map(_.filter(_.startsWith("graft_")).toSet).getOrElse(Set.empty)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        Files.list(p).iterator().asScala.toList.foreach(deleteTree)
      Files.delete(p)
    }

  def pass(spark: SparkSession, req: Req, order: Seq[String], traced: Boolean,
      index: Int, action: DataFrame => String = noop): Pass = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val tmpBefore = tmpEntries(tmp)
    val cg0 = codegenCount()
    val gc0 = gcMs()
    val jit0 = jitMs()
    val cpu0 = cpuNs()
    val stub0 = Stub.snapshot()
    tracing = traced
    if (traced) {
      ListenerDrain(spark.sparkContext)
      Tap.takePeakTasks()
      Tap.takeStateRows()
      Tap.on = true
    }
    val tap0 = Tap.snapshot()
    val ep = new EtlPass
    val t0 = nowMs
    val root = span(-1, "pass", s"pass$index", t0, t0)
    val ops =
      if (req.s("kind") == "etl") runEtl(spark, root, ep)
      else order.map(n => n -> runQuery(spark, Registry.byName(n), req.s("data_dir"), root, action))
    val t1 = nowMs
    if (root >= 0) spans(root) = spans(root).copy(end = t1)
    if (traced) ListenerDrain(spark.sparkContext)
    Tap.on = false
    tracing = false
    val tap = Tap.snapshot().map { case (k, v) => k -> (v - tap0(k)).toDouble }
    val stub = Stub.snapshot().map { case (k, v) => k -> (v - stub0(k)).toDouble }
    val created = tmpEntries(tmp) -- tmpBefore
    created.foreach(n => deleteTree(tmp.toPath.resolve(n)))
    val wall = (t1 - t0) / 1e3
    val cores = Runtime.getRuntime.availableProcessors()
    val layers = Map(
      "sink_s" -> ep.sinkMs / 1e3,
      "codegen_compiles" -> (codegenCount() - cg0).toDouble,
      "gc_s" -> (gcMs() - gc0) / 1e3,
      "jit_s" -> (jitMs() - jit0) / 1e3,
      "cpu_s" -> (cpuNs() - cpu0) / 1e9,
      "tmp_dirs_leaked" -> created.size.toDouble,
      "jobs" -> tap("jobs"), "stages" -> tap("stages"), "tasks" -> tap("tasks"),
      "task_s" -> tap("task_ms") / 1e3,
      "task_busy_ratio" -> tap("task_ms") / 1e3 / (wall * cores),
      "peak_tasks" -> (if (traced) Tap.takePeakTasks().toDouble else 0.0),
      "sched_delay_s" -> tap("sched_delay_ms") / 1e3,
      "shuffle_write_mb" -> tap("shuffle_write_b") / 1048576.0,
      "shuffle_read_mb" -> tap("shuffle_read_b") / 1048576.0,
      "spill_mb" -> tap("spill_b") / 1048576.0,
      "analysis_s" -> tap("analysis_ms") / 1e3,
      "optimization_s" -> tap("optimization_ms") / 1e3,
      "planning_s" -> tap("planning_ms") / 1e3,
      "stream_batches" -> tap("stream_batches"),
      "batch_s" -> tap("batch_ms") / 1e3,
      "addbatch_s" -> tap("addbatch_ms") / 1e3,
      "walcommit_s" -> tap("walcommit_ms") / 1e3,
      "commitoffsets_s" -> tap("commitoffsets_ms") / 1e3,
      "state_commit_s" -> tap("state_commit_ms") / 1e3,
      "state_rows" -> (if (traced) Tap.takeStateRows().toDouble else 0.0),
      "http_requests" -> stub("http_requests"),
      "http_429" -> stub("http_429"),
      "http_ok_ratio" -> (if (stub("http_requests") > 0) stub("http_ok") / stub("http_requests") else 0.0),
      "http_s" -> stub("http_ns") / 1e9,
      "sleep_s" -> stub("sleep_ms") / 1e3)
    Pass(wall, ops, traced, layers)
  }

  // ---- correctness --------------------------------------------------------

  /** A value's text form for the checksum: floating point rounded to 10
    * significant digits, so that a result which differs only in the last
    * bits of a double (summation order) still checks. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.10g", c)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, vt, _) => transform_values(c, (_, v) => canon(v, vt))
    case _ => c
  }

  /** Order-independent checksum of a result: row count and two sums over
    * a 64-bit hash of each row's JSON text. */
  def checksum(df: DataFrame): String = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = to_json(struct(d.schema.fields.toSeq.map(f =>
      canon(col(f.name), f.dataType).as(f.name)): _*))
    val h = xxhash64(row)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  // ---- modes --------------------------------------------------------------

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def bench(req: Req): Map[String, Any] = {
    val traced = req.i("trace") == 1
    val seed = req.i("seed")
    val seconds = req.i("seconds")
    val ops = req.ops
    val etl = req.s("kind") == "etl"
    val (spark, setupS) = setUp(req, traced)
    def order(k: Int): Seq[String] = new scala.util.Random(seed * 1000003L + k).shuffle(ops)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    def account(p: Pass): Pass = {
      attempted += p.ops.size
      p.ops.filterNot(_._2.ok).foreach { case (n, o) => failures += s"$n: ${o.error}" }
      p
    }

    // The cold pass is never traced: its spans would mix first-run costs
    // into the per-pass layer split. Its codegen count is read regardless.
    val cold = account(pass(spark, req, order(0), traced = false, 0))
    // Settling passes (workloads.json), then measured passes for the
    // requested seconds, at least three of them. In a fresh JVM the JIT is
    // still compiling through the first passes of the query workloads: on
    // the 4-core box the benchmark was tuned on, a surface pass took 3.0 s,
    // 2.2 s, 2.0 s, then held near 1.7 s for the next eight passes, with JIT
    // time per pass falling from 6.4 s to about 1.5 s. The ETL's passes wait
    // on the stub's pacing and hold level from the first. A fixed minimum
    // of passes, rather than a time window alone, keeps a slower box from
    // also measuring less warmed-up passes. A traced run alternates
    // untraced and traced measured passes, so both are measured in one JVM.
    val Settle = req.i("settle_passes")
    val MinMeasured = 3
    val warm = ArrayBuffer.empty[Pass]
    var w0 = nowMs
    var k = 1
    while (warm.size < Settle + MinMeasured || (nowMs - w0) / 1e3 < seconds) {
      warm += account(pass(spark, req, order(k), traced && k > Settle && (k - Settle) % 2 == 0, k))
      if (warm.size == Settle) w0 = nowMs
      k += 1
    }
    val measured = warm.drop(Settle).toSeq
    val untraced = measured.filterNot(_.traced)
    // The ETL's op latency is one pipeline run's: its six table loads
    // overlap and wait on one another's fetches, so their times fall in
    // clusters with wide gaps, and a median of them jumps between clusters.
    val opTimes =
      if (etl) untraced.map(_.wall)
      else untraced.flatMap(_.ops.filter(_._2.ok).map(_._2.seconds))
    val peakRssMb = vmHwmMb()

    // Correctness, after the timed section, on the warm path: the query
    // workloads run one more, untimed pass with each query's result checksum
    // as its action; the ETL's Derby tables hold what the last measured
    // pass loaded. The ETL's expectation comes from the generator's own
    // model of the account; the query workloads' from checksums frozen in
    // expected.json.
    val check = if (etl) None
      else Some(account(pass(spark, req, order(k), traced = false, k, checksum)))
    val expected: Map[String, String] =
      if (etl) Stub.catalogue.expectedRows
        .map { case (t, rows) => t -> Catalogue.digest(rows.iterator) }
      else req.node.get("expected").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val corrupt = Option(req.node.get("corrupt")).map(_.asText)
    def expect(op: String): String =
      if (corrupt.contains(op)) "0:0:0" else expected.getOrElse(op, "missing")
    val checks: Seq[(String, String)] =
      if (etl) Derby.digests().toSeq
      else check.get.ops.filter(_._2.ok).map { case (n, o) => n -> o.checksum }
    checks.foreach { case (op, got) =>
      if (got != expect(op)) failures += s"$op: checksum $got, expected ${expect(op)}"
    }
    // A digest starts with the table's row count.
    val rowsWritten = if (etl) checks.map(_._2.takeWhile(_ != ':').toDouble).sum else 0.0

    val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "cold_s" -> cold.wall,
      "wall_s" -> median(untraced.map(_.wall)),
      "op_p50_s" -> median(opTimes),
      "peak_rss_mb" -> peakRssMb)
    if (traced) {
      val tp = measured.filter(_.traced)
      def layer(k: String): Double = median(tp.map(_.layers(k)))
      tp.head.layers.keys.foreach(k => metrics(k) = layer(k))
      metrics("codegen_compiles") = cold.layers("codegen_compiles")
      metrics("codegen_compiles_warm") = layer("codegen_compiles")
      metrics("rows_written") = rowsWritten
      metrics("api_calls_per_krow") =
        if (rowsWritten > 0) layer("http_requests") / rowsWritten * 1000 else 0.0
      val traceWall = median(tp.map(_.wall))
      metrics("traced_wall_s") = traceWall
      metrics("trace_overhead") = traceWall / metrics("wall_s") - 1
      selfTimes(tp.size).foreach { case (k, v) => metrics(k) = v }
      metrics("plan_build_s") = kindTotal("plan_build") / tp.size
      metrics("plan_build_jobs") = jobsIn("plan_build").toDouble / tp.size
      metrics("action_s") = kindTotal("action") / tp.size
      metrics("release_s") = kindTotal("release") / tp.size
      writeTrace(req.s("trace_file"))
    }
    spark.stop()
    Map(
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.take(20).toSeq,
      "metrics" -> metrics.toMap,
      "passes" -> Map("warm" -> warm.size, "traced" -> measured.count(_.traced),
        "ops_timed" -> opTimes.size, "warm_walls" -> warm.map(_.wall).toSeq,
        "cold" -> Seq(cold.wall, cold.layers("cpu_s"), cold.layers("jit_s"), cold.layers("gc_s")),
        "warm_cpu_jit_gc" -> warm.map(p => Seq(p.layers("cpu_s"), p.layers("jit_s"), p.layers("gc_s"))).toSeq),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jvm_options" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq)
  }

  // ---- spans --------------------------------------------------------------

  private lazy val allSpans: Seq[Span] = {
    val own = spans.toSeq
    val holders = own.filter(s => Set("plan_build", "action", "release", "op")(s.kind))
    def innermost(t: Double): Int = {
      val c = holders.filter(s => s.start <= t && t <= s.end)
      if (c.isEmpty) -1 else c.minBy(s => s.end - s.start).id
    }
    var next = own.size
    val jobIds = scala.collection.mutable.Map.empty[Int, Int]
    val jobs = Tap.jobSpans.asScala.toSeq.map { j =>
      val s = Span(next, innermost(j.startMs.toDouble), "job", s"job${j.id}",
        j.startMs.toDouble, math.max(j.startMs, j.endMs).toDouble)
      jobIds(j.id) = next
      next += 1
      s
    }
    val stages = Tap.stageSpans.asScala.toSeq.map { st =>
      val parent = jobIds.getOrElse(st.job, innermost(st.startMs.toDouble))
      val s = Span(next, parent, "stage", s"stage${st.id}", st.startMs.toDouble, st.endMs.toDouble)
      next += 1
      s
    }
    own ++ jobs ++ stages
  }

  private def kindTotal(kind: String): Double =
    allSpans.filter(_.kind == kind).map(s => s.end - s.start).sum / 1e3

  private def jobsIn(kind: String): Int = {
    val byId = allSpans.map(s => s.id -> s).toMap
    allSpans.count(s => s.kind == "job" && byId.get(s.parent).exists(_.kind == kind))
  }

  /** Self time per span kind, per traced pass: a span's duration minus the
    * part of it its children cover. */
  private def selfTimes(passes: Int): Map[String, Double] = {
    val children = allSpans.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total, curA, curB = 0.0
      var open = false
      iv.foreach { case (a, b) =>
        if (open && a <= curB) curB = math.max(curB, b)
        else {
          if (open) total += curB - curA
          curA = a; curB = b; open = true
        }
      }
      if (open) total += curB - curA
      total
    }
    Seq("op", "plan_build", "action", "release", "job", "stage").map { k =>
      s"self_${k}_s" -> allSpans.filter(_.kind == k)
        .map(s => s.end - s.start - covered(s)).sum / 1e3 / math.max(passes, 1)
    }.toMap
  }

  private def writeTrace(path: String): Unit = {
    val rows = allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), mapper.writeValueAsString(toJava(rows)))
  }

  def freeze(req: Req): Map[String, Any] = {
    val spark = session(req, traced = false)
    val dir = req.s("data_dir")
    val sums = req.ops.map { n =>
      val o = runQuery(spark, Registry.byName(n), dir, -1, checksum)
      val s = if (o.ok) o.checksum else s"error: ${o.error}"
      System.err.println(s"[freeze] $n $s")
      n -> s
    }
    spark.stop()
    Map("checksums" -> sums.toMap)
  }
}
