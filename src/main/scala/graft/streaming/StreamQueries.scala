package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.{Caches, GQ, Session}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampType}

/** DECLARED Structured Streaming queries (round 4), all run by ONE harness
  * ([[run]]).
  *
  * Rounds 1–3 kept streaming as library code (`EventStreams`) because the
  * harness is batch-only; `StreamBatchEquivalenceSpec` pinned the streaming
  * plans to their batch twins in unit tests. This closes the remaining gap:
  * a real `readStream → stateful operator → writeStream` pipeline DECLARED
  * in the registry with a hash-exact DuckDB oracle, by executing the stream
  * to completion inside the query's plan function. Each query declares
  * only four things ([[StreamQuery]]): its `EventStreams` operator, its
  * output projection, its sort columns and, for a checkpoint-restart
  * query, its [[Landing]] policy. The harness does the rest:
  *
  *   - the parquet file source replays the events table as a bounded
  *     stream under `Trigger.AvailableNow` (the production backfill
  *     trigger — the same query runs unchanged against a live directory);
  *     `ts` is normalized to a TimestampType once, in [[eventTime]];
  *   - a replay query lands in the memory sink, in complete mode when the
  *     operator aggregates (append mode would withhold windows the
  *     watermark hasn't passed — the classic bounded-stream tail loss) and
  *     in append mode otherwise (dedup and inner-join rows emit in the
  *     micro-batch that produces them), so the bounded replay is exactly
  *     the batch answer;
  *   - a restart query runs twice in append mode over one on-disk
  *     checkpoint and parquet sink, with its [[Landing]] policy deciding
  *     what each run sees; the second run is a cold start from the
  *     checkpoint files.
  *
  * Scratch: everything a run writes — `src` (symlinks to the real files
  * and landed halves), `ckpt`, `sink` and landing staging — lives under one
  * per-run root from [[graft.Caches.tempDir]], deleted when `GQ.apply` ends
  * or on `Caches.release` of the caller's session (the final frame of a
  * restart query reads `sink` lazily, so it must outlive `run`). A replay
  * query's root holds its memory sink's checkpoint, and `src` only when
  * `events.parquet` is a single file (the file source lists a directory;
  * a directory input is read in place); it is deleted as soon as the
  * stream ends, since the result lives in the memory sink.
  *
  * Determinism: the aggregations are the SAME exact decimal math as their
  * batch twins (R2), window starts are exact epoch seconds, and every
  * result is ordered on a unique key (R1), so the batch oracle replays the
  * streaming result hash-exactly.
  *
  * Scale posture: at 100 TB the same pipelines run with a real checkpoint
  * and append mode against an unbounded directory; state per trigger is
  * bounded by key cardinality and watermark eviction — the library
  * scaladoc's contract. `AvailableNow` paces the backfill in
  * source-governed batches rather than one giant microbatch.
  */
object StreamQueries {

  /** How a restart query splits its input across its two runs. */
  private[streaming] sealed trait Landing

  /** Run 1 streams the real files; then a WATERMARK-PUSHER row lands (ts =
    * max + 30 days, null in every other column) so run 2 closes every
    * window or session run 1's watermark left open. The pusher's own
    * window or session never closes, so it cannot reach the output. */
  private[streaming] case object Sentinel extends Landing

  /** Run 1 streams the rows with ts ≤ the split, run 2 the rest. The split
    * is `us` (epoch µs) or, by default, the midpoint of the ts range. For
    * operators that emit immediately (inner join, dedup) two bounded runs
    * are the complete answer — no sentinel needed. */
  private[streaming] final case class SplitAt(us: Option[Long] = None) extends Landing

  /** One declared streaming query: the operator over the normalized event
    * stream, the output projection, the sort columns of the returned frame
    * and — for a checkpoint-restart query — its landing policy. */
  private[streaming] final case class StreamQuery(
      op: DataFrame => DataFrame,
      out: Seq[Column],
      order: Seq[String],
      restart: Option[Landing] = None)

  /** A PRIVATE session for one bounded streaming run, with the shuffle
    * partitions — which fix the STATE STORE partition count at stream
    * start — sized to the state volume. The stream must start AND its
    * memory sink be read on the returned session (the sink registers in
    * its session's catalog).
    *
    * Round-5 perf: the declared streams carry KB-scale state, but
    * inherited the CPU-sized 32 shuffle partitions, so every microbatch
    * paid 32 (×2 for the stream-stream join) state-store
    * instantiations+commits of mostly EMPTY stores (q_stream_join was the
    * surface's slowest query, 5.7 s at sf0.1). A real deployment sizes
    * state partitions to state cardinality, not core count — this knob.
    *
    * Round 7: `newSession()` gives this run its own SQL
    * conf and temp catalog over the shared SparkContext, so concurrent
    * declared queries — or two streams with different state widths — can
    * never observe each other's setting (StreamConcurrencySpec). */
  private[streaming] def stateSession(s: SparkSession, n: Int): SparkSession = {
    val ss = s.newSession()
    Session.runtimeConfs.foreach { case (k, _) => ss.conf.set(k, s.conf.get(k)) }
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    // Checkpoint files written without a checksum WARNed on every restart;
    // these per-run local checkpoints are ephemeral: verification off here.
    ss.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    ss
  }

  /** `ts` as a TimestampType column whatever the file's physical type: the
    * test fixtures plant BIGINT epoch-nanos, the generated tables carry TIMESTAMP
    * micros (cf. `Tables.events`, which normalizes to nanos instead —
    * `window()` wants a timestamp). */
  private def eventTime(raw: DataFrame): Column = raw.schema("ts").dataType match {
    case LongType => expr("timestamp_micros(ts div 1000)")
    case _        => col("ts").cast(TimestampType)
  }

  /** The events under `dir` as a bounded stream with a normalized `ts`. */
  private def stream(ss: SparkSession, batch: DataFrame, dir: Path): DataFrame = {
    val raw = ss.readStream.schema(batch.schema).parquet(dir.toString)
    raw.withColumn("ts", eventTime(raw))
  }

  /** Link the real events files into `src`: each part file of a
    * directory, or the single file. */
  private def link(events: Path, src: Path): Path = {
    Files.createDirectories(src)
    val files =
      if (!Files.isDirectory(events)) Seq(events)
      else events.toFile.listFiles().toSeq.map(_.toPath)
        .filter(_.getFileName.toString.endsWith(".parquet")).sorted
    files.zipWithIndex.foreach { case (f, i) =>
      Files.createSymbolicLink(src.resolve(s"f0_$i.parquet"), f.toAbsolutePath)
    }
    src
  }

  /** `d`'s events as a bounded stream on the private session `ss`: a
    * directory is read in place, a single file through a link under `root`
    * (by default a fresh scratch root tracked for the caller's session
    * `s`). */
  private[streaming] def replay(s: SparkSession, ss: SparkSession, d: String,
      root: Option[Path] = None): DataFrame = {
    val events = Paths.get(d, "events.parquet")
    val batch = ss.read.parquet(events.toString)
    stream(ss, batch,
      if (Files.isDirectory(events)) events
      else link(events, root.getOrElse(Caches.tempDir(s, "graft_stream_")).resolve("src")))
  }

  /** Run `q` over `d`'s events to completion. Returns the result frame and,
    * for a restart query, run 1's emitted-row count and the split point in
    * epoch µs (run 1 streamed exactly the rows at or below it; for
    * [[Sentinel]], the max ts). A replay query returns `(frame, 0, 0)`. */
  private[streaming] def run(s: SparkSession, d: String, q: StreamQuery)
      : (DataFrame, Long, Long) = {
    val ss = stateSession(s, 4)
    q.restart match {
      case None =>
        // the checkpoint goes under the run's root too: with no location,
        // Spark makes a temp one outside it, left behind when the run fails.
        // The root is needed only while the stream runs (the result is in
        // the memory sink), so it is deleted as soon as the stream ends.
        val root = Caches.tempDir(s, "graft_stream_")
        try {
          val out = q.op(replay(s, ss, d, Some(root))).select(q.out: _*)
          val aggregates = out.queryExecution.analyzed.exists(_.isInstanceOf[Aggregate])
          out.writeStream.format("memory").queryName("graft_stream")
            .option("checkpointLocation", root.resolve("ckpt").toString)
            .outputMode(if (aggregates) "complete" else "append")
            .trigger(Trigger.AvailableNow())
            .start().awaitTermination()
        } finally Caches.deleteTree(root)
        (ss.table("graft_stream").orderBy(q.order.map(col): _*), 0L, 0L)
      case Some(landing) => restart(s, ss, d, q, landing)
    }
  }

  private def restart(s: SparkSession, ss: SparkSession, d: String,
      q: StreamQuery, landing: Landing): (DataFrame, Long, Long) = {
    val events = Paths.get(d, "events.parquet")
    val batch = ss.read.parquet(events.toString)
    val root = Caches.tempDir(s, "graft_stream_")
    val src = root.resolve("src")
    val sink = root.resolve("sink")
    val ckpt = root.resolve("ckpt")
    Files.createDirectories(src)
    val us = unix_micros(eventTime(batch))
    def bounds(): (Long, Long) = {
      val b = batch.agg(min(us), max(us)).head()
      (b.getLong(0), b.getLong(1))
    }
    // one parquet file named `name` in src, written through a staging dir;
    // a degenerate ts range can land every event on one
    // side of the split — fail with the cause
    def land(df: DataFrame, name: String): Unit = {
      val staging = root.resolve(s"staging_$name")
      df.coalesce(1).write.parquet(staging.toString)
      val part = staging.toFile.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"$name is empty — degenerate ts split"))
      Files.move(part.toPath, src.resolve(s"$name.parquet"))
    }
    def drain(): Unit =
      q.op(stream(ss, batch, src)).select(q.out: _*)
        .writeStream.format("parquet")
        .option("path", sink.toString).option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()

    val split = landing match {
      case Sentinel =>
        link(events, src)
        bounds()._2
      case SplitAt(at) =>
        val mid = at.getOrElse { val (lo, hi) = bounds(); (lo + hi) / 2 }
        land(batch.filter(us <= mid), "f0")
        mid
    }
    drain() // run 1
    // run 1 may legally emit nothing (a first half without a same-half
    // join match) — a parquet sink with no committed files can't infer a
    // read schema, so count 0 then (round 10: checked explicitly, not a
    // blanket Try that would hide a corrupt sink)
    val hasParts = Option(sink.toFile.list()).exists(_.exists(_.startsWith("part-")))
    val run1Rows = if (hasParts) ss.read.parquet(sink.toString).count() else 0L
    landing match {
      case Sentinel =>
        val far = split + 30L * 24 * 3600 * 1000000
        land(ss.range(1).select(batch.schema.fields.toSeq.map { f =>
          if (f.name != "ts") lit(null).cast(f.dataType).as(f.name)
          else (f.dataType match {
            case LongType => lit(far * 1000)
            case t        => timestamp_micros(lit(far)).cast(t)
          }).as("ts")
        }: _*), "f1")
      case SplitAt(_) =>
        land(batch.filter(us > split), "f1")
    }
    drain() // run 2: COLD restart from the checkpoint files
    (ss.read.parquet(sink.toString).orderBy(q.order.map(col): _*), run1Rows, split)
  }

  private val watermark = "10 minutes"

  // ---- the four operator shapes (each declared as a replay AND a restart)

  private val slidingQ = StreamQuery(
    EventStreams.sliding(_, length = "2 hours", slide = "1 hour", watermark = watermark),
    Seq(expr("unix_seconds(CAST(window_start AS TIMESTAMP))").as("win_start_s"),
      col("event_type"), col("cnt"), col("sum_value")),
    Seq("win_start_s", "event_type"))

  private val sessionsQ = StreamQuery(
    EventStreams.sessions(_, gap = "30 minutes", watermark = watermark),
    Seq(col("user_id"),
      expr("unix_micros(CAST(session_start AS TIMESTAMP))").as("start_us"),
      expr("unix_micros(CAST(session_end AS TIMESTAMP))").as("end_us"),
      col("n_events"), col("session_value")),
    Seq("user_id", "start_us"))

  // one replay frame; the library filters it into the two sides, each
  // becoming its own streaming scan with its own watermark
  private val joinQ = StreamQuery(
    EventStreams.purchaseAttribution(_, lookback = "1 hour", watermark = watermark),
    Seq(col("user_id"), col("purchase_id"), col("click_id"),
      expr("unix_micros(purchase_ts)").as("p_us"),
      expr("unix_micros(click_ts)").as("c_us"),
      col("value")),
    Seq("user_id", "purchase_id", "click_id"))

  private val dedupQ = StreamQuery(
    ev => EventStreams.dedupOnKeys(
      ev.select(col("ts"), col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute_id")),
      Seq("user_id", "event_type", "minute_id"), watermark = watermark),
    Seq(col("user_id"), col("event_type"), col("minute_id")),
    Seq("user_id", "event_type", "minute_id"))

  private[streaming] val sessionsCkpt = sessionsQ.copy(restart = Some(Sentinel))
  private[streaming] val joinCkpt = joinQ.copy(restart = Some(SplitAt()))
  private[streaming] val dedupCkpt = dedupQ.copy(restart = Some(SplitAt()))

  // ---- oracles (each shared by a replay and its restart twin)

  private val Hour = 3600L * 1000 * 1000 * 1000

  // batch q_time_sliding's oracle verbatim — the hop explode
  private val slidingOracle =
    s"""WITH e AS (SELECT event_type, value,
       |    unnest([epoch_ns(ts) // $Hour - 1,
       |            epoch_ns(ts) // $Hour]) AS w
       |  FROM events)
       |SELECT w * 3600 AS win_start_s, event_type,
       |  COUNT(*) AS cnt, ${graft.C.sqlSumDec2("value")} AS sum_value
       |FROM e GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin

  private val sessionsOracle =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
       |o AS (SELECT user_id, us, value,
       |    CASE WHEN LAG(us) OVER w IS NULL
       |         OR us - LAG(us) OVER w > ${30L * 60 * 1000000}
       |      THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |g AS (SELECT user_id, us, value,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS UNBOUNDED PRECEDING) AS sid FROM o)
       |SELECT user_id, MIN(us) AS start_us,
       |  MAX(us) + ${30L * 60 * 1000000} AS end_us,
       |  COUNT(*) AS n_events, ${graft.C.sqlSumDec2("value")} AS session_value
       |FROM g GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin

  private val joinOracle =
    """SELECT c.user_id AS user_id, p.event_id AS purchase_id,
      |  c.event_id AS click_id,
      |  epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us, p.value
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
      |   AND epoch_us(p.ts)
      |ORDER BY user_id, purchase_id, click_id""".stripMargin

  private val dedupOracle =
    """SELECT DISTINCT user_id, event_type,
      |  epoch_us(ts) // 60000000 AS minute_id
      |FROM events
      |ORDER BY user_id, event_type, minute_id""".stripMargin

  private def declare(name: String, q: StreamQuery, oracle: String): GQ =
    GQ(name, (s, d) => run(s, d, q)._1, Some(oracle))

  val queries: Seq[GQ] = Seq(
    // Tumbling windows: the streaming twin of batch q_time_tumbling, whose
    // oracle it shares verbatim — streaming must agree to the bit.
    declare("q_stream_tumbling", StreamQuery(
      EventStreams.tumbling(_, every = "1 hour", watermark = watermark),
      Seq(expr("unix_seconds(CAST(window_start AS TIMESTAMP))").as("epoch_s"),
        col("event_type"), col("cnt"), col("sum_value")),
      Seq("epoch_s", "event_type")),
      s"""SELECT (epoch_ns(ts) // $Hour) * 3600 AS epoch_s,
         |event_type, COUNT(*) AS cnt, ${graft.C.sqlSumDec2("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY epoch_s, event_type""".stripMargin),
    // Sliding (hopping) windows (round 6): 2 h windows hopping every 1 h,
    // so each event lands in exactly two. Spark's window(ts, length,
    // slide) desugars the hop scan-side — no self-join — and state per
    // trigger is (open windows × event_type), watermark-evicted.
    declare("q_stream_sliding", slidingQ, slidingOracle),
    // Session windows: per-user sessions close after 30 minutes of
    // silence. BOUNDARY SEMANTICS (spec-pinned — a planted probe caught
    // the `>=` convention silently diverging): Spark's `session_window`
    // merges ABUTTING windows too — two events share a session iff their
    // gap is ≤ 30 min, so the oracle's gaps-and-islands break is STRICTLY
    // `> gap`; session_end = last event + gap. The generated corpora never
    // land on exact-equality gaps, which is exactly why the contract must
    // pin this (the R8 lesson: agreement on natural data is not
    // agreement). Event-time ties collapse into the same µs and cannot
    // reorder the exact (count, decimal-sum) aggregates.
    declare("q_stream_sessions", sessionsQ, sessionsOracle),
    // Streaming exact dedup (round 5): `dropDuplicatesWithinWatermark`
    // keyed on the COARSENED (user_id, event_type, minute) activity key a
    // pipeline actually dedups on (the fixture's event_ids are unique).
    // First-wins emission is order-dependent in its non-key columns, so
    // the query emits EXACTLY the key columns — the answer is order-free
    // and the oracle a plain DISTINCT. Emission is immediate, so the
    // bounded replay IS the complete answer.
    declare("q_stream_dedup", dedupQ, dedupOracle),
    // Stream-stream interval join (round 5): clicks and purchases arrive
    // as two INDEPENDENT streaming scans and join on user within
    // [purchase − 1 h, purchase]. Both sides carry watermarks and the
    // condition bounds event-time distance, so both state stores are
    // evictable (without the bound Spark must buffer both streams in
    // full). Inner-join results emit in the batch that matches them, so
    // the bounded replay IS the complete answer. Output is exact integer
    // µs + raw double passthrough, ordered on the unique id pair.
    declare("q_stream_join", joinQ, joinOracle),
    // APPEND-mode sliding pipeline over a REAL on-disk checkpoint + file
    // sink, surviving a restart mid-replay (round 8) — the production
    // posture the memory-sink replays stand in for. Recovered source
    // offsets skip the already-processed files, recovered window state
    // merges, and the sentinel's watermark closes every real window
    // EXACTLY ONCE across the two runs; the parquet sink's transaction
    // log makes the final read exactly-once too. A lost state store, a
    // re-emitted window, or a replayed source file all hash-mismatch
    // q_stream_sliding's oracle.
    declare("q_stream_sliding_ckpt", slidingQ.copy(restart = Some(Sentinel)), slidingOracle),
    // SESSION-WINDOW checkpoint restart (round 9): the recovered state is
    // MERGEABLE per-user session ranges, not fixed window slots — run 2
    // must re-open every session run 1's watermark hadn't closed, merge
    // in-flight range state from the checkpoint, and close each session
    // EXACTLY ONCE. The sentinel's null user_id forms its own session
    // group that never closes. StreamStatefulRestartSpec pins that the
    // restart genuinely splits the emission (run 1 emits a nonempty
    // strict subset).
    declare("q_stream_sessions_ckpt", sessionsCkpt, sessionsOracle),
    // STREAM-STREAM JOIN checkpoint restart (round 9): the recovered state
    // is the two sides' BUFFERED ROW stores — second-half purchases must
    // find first-half clicks in the RECOVERED click store (spec-pinned).
    // Exactly-once, by cases on a match (click c, purchase p) — the join
    // requires c.ts ≤ p.ts, so (c∈f1, p∈f0) is impossible: (f0, f0) emits
    // in run 1 only (run 2 never re-reads f0); (f0, f1) and (f1, f1) emit
    // in run 2 only. No needed state is lost: run 1's final watermark is
    // maxTs(f0) − 10 min, clicks are evicted below watermark − lookback <
    // split − 1 h, and an f1 purchase only looks back to p.ts − 1 h. The
    // analysis holds for ANY split, so the spec may pass an explicit one.
    declare("q_stream_join_ckpt", joinCkpt, joinOracle),
    // STREAMING-DEDUP checkpoint restart (round 10) — the fourth restart
    // shape: the recovered SEEN-KEY store must suppress f1 occurrences of
    // keys first seen in f0. Exactly-once, by cases on a key K (all of
    // K's rows share one calendar minute, so they span < 60 s): K wholly
    // in f0 emits once in run 1; K wholly in f1 once in run 2; K
    // straddling the split has its state row at ts ∈ (mid − 60 s, mid],
    // above run 1's final watermark ≈ mid − 10 min, so it is NOT evicted
    // before the restart and the recovered store suppresses K's f1 rows.
    declare("q_stream_dedup_ckpt", dedupCkpt, dedupOracle)
  )
}
