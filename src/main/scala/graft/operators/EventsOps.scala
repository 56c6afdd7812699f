package graft.operators

import graft.{C, GQ, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Operators over the `events` table (nanosecond event stream, batch form).
  *
  * All queries here load events through `Tables.events` (the one place that
  * sets the nanos-as-long shim, SURVEY.md §2.5 R5) and do time bucketing as
  * exact integer division over epoch nanos — never via double math, which
  * loses precision above 2^53 ns, and never via TimestampType round-trips,
  * which invite cross-engine µs/ns representation drift (R4).
  *
  * `q_json_extract` generalizes the reference's nested-JSON shredding
  * (/root/reference/spotify-etl.py:76-84) onto a JSON string column.
  */
object EventsOps {

  private val NanosPerHour = 3600L * 1000 * 1000 * 1000
  private val NanosPerDay = 24L * NanosPerHour

  /** Gaps-and-islands session assignment, per EVENT: every event row tagged
    * with its (user_id, sid) 30-min-gap session — the shared core under
    * q_sessionize / q_join_interval (aggregated) and q_dedup_sessioned
    * (within-session dedup). */
  private def sessionEvents(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("us", expr("ts DIV 1000"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("is_new",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs)
          .cast(LongType))
      .withColumn("sid", sum(col("is_new")).over(wRun))
  }

  /** Per-session bounds → (user_id, sid, n_events, start_us, end_us). */
  private def sessionized(s: SparkSession, d: String): DataFrame =
    sessionEvents(s, d)
      .groupBy(col("user_id"), col("sid"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))

  val queries: Seq[GQ] = Seq(
    GQ(
      "q_json_extract",
      (s, d) =>
        Tables.events(s, d)
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
          .orderBy(col("event_id")),
      Some("""SELECT event_id,
             |CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INTEGER) AS k
             |FROM events ORDER BY event_id""".stripMargin)
    ),
    GQ(
      "q_case_when",
      (s, d) =>
        Tables.events(s, d)
          .select(
            col("event_id"),
            when(col("event_type") === "purchase", "rev")
              .when(col("event_type") === "error", "bad")
              .otherwise("other").as("bucket"))
          .orderBy(col("event_id")),
      Some("""SELECT event_id,
             |CASE event_type WHEN 'purchase' THEN 'rev'
             |  WHEN 'error' THEN 'bad' ELSE 'other' END AS bucket
             |FROM events ORDER BY event_id""".stripMargin)
    ),
    GQ(
      "q_agg_grouping_sets",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_events")
        s.sql("""SELECT event_type, user_id, COUNT(*) AS cnt
                |FROM graft_events
                |GROUP BY GROUPING SETS ((event_type), (user_id))
                |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT event_type, user_id, COUNT(*) AS cnt
             |FROM events
             |GROUP BY GROUPING SETS ((event_type), (user_id))
             |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin)
    ),
    GQ(
      "q_window_lag",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        Tables.events(s, d)
          .select(
            col("user_id"), col("event_id"),
            lag(col("value"), 1).over(w).as("prev_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
             |FROM events ORDER BY user_id, event_id""".stripMargin)
    ),
    // Batch form of an event-time tumbling window (1 hour). The streaming
    // variant (readStream + window($"ts","1 hour") + watermark) lives in
    // graft.streaming; the harness is batch-only.
    GQ(
      "q_time_tumbling",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("b", expr(s"ts DIV $NanosPerHour"))
          .groupBy(col("b"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), C.sumDec2(col("value")).as("sum_value"))
          .select(
            (col("b") * 3600).as("epoch_s"),
            col("event_type"), col("cnt"), col("sum_value"))
          .orderBy(col("epoch_s"), col("event_type")),
      Some(s"""SELECT (epoch_ns(ts) // $NanosPerHour) * 3600 AS epoch_s,
              |event_type, COUNT(*) AS cnt, ${C.sqlSumDec2("value")} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY epoch_s, event_type""".stripMargin)
    ),
    // Batch form of a SLIDING (hopping) event-time window — 2-hour length,
    // 1-hour hop, the standard smoothing shape tumbling can't give (every
    // event influences two adjacent readings). An event in hour-bucket b
    // belongs to the windows starting at hours b-1 and b; the window
    // assignment is an EXPLODE into exactly length/hop rows, which is how
    // Spark's own `window(ts, "2 hours", "1 hour")` desugars — no
    // self-join, no range predicate, a fixed ×2 row factor that map-side
    // combines straight into the (window, type) hash agg. Exact integer
    // hour math (R5/R4 epoch-second output, same as q_time_tumbling).
    GQ(
      "q_time_sliding",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("b", expr(s"ts DIV $NanosPerHour"))
          .select(col("event_type"), col("value"),
            explode(array(col("b") - 1, col("b"))).as("w"))
          .groupBy(col("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), C.sumDec2(col("value")).as("sum_value"))
          .select((col("w") * 3600).as("win_start_s"),
            col("event_type"), col("cnt"), col("sum_value"))
          .orderBy(col("win_start_s"), col("event_type")),
      Some(s"""WITH e AS (SELECT event_type, value,
              |    unnest([epoch_ns(ts) // $NanosPerHour - 1,
              |            epoch_ns(ts) // $NanosPerHour]) AS w
              |  FROM events)
              |SELECT w * 3600 AS win_start_s, event_type,
              |  COUNT(*) AS cnt, ${C.sqlSumDec2("value")} AS sum_value
              |FROM e GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin)
    ),
    // Declared end-to-end run of the Skew toolkit (round 4): the same
    // per-event_type count/sum as a plain GROUP BY, but computed through
    // Skew.saltedCountSum — partials keyed on (event_type, hash(user_id)
    // mod 32) so one hot type spreads over 32 reducers, then a tiny
    // (types × 32)-row final agg. Salting is INVISIBLE to results by
    // construction (the salt is deterministic and both phases sum exact
    // decimals, R2), so the oracle is the plain aggregation SQL — same
    // pattern as q_join_bloom_pruned's plain-join oracle. At 100 TB this
    // is the shape for skewed-key aggregation AQE cannot rebalance
    // (AQE splits skewed JOIN partitions, not aggregation groups).
    GQ(
      "q_agg_skew_salted",
      (s, d) =>
        Skew.saltedCountSum(
            Tables.events(s, d),
            col("event_type"), C.dec2(col("value")), col("user_id"), 32)
          .select(col("k").as("event_type"), col("cnt"),
            col("total").cast(DoubleType).as("sum_value"))
          .orderBy(col("event_type")),
      Some(s"""SELECT event_type, COUNT(*) AS cnt,
              |${C.sqlSumDec2("value")} AS sum_value
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    // Interval overlap join over user sessions — the classic time-range
    // join Spark has no operator for, composed scalably: each (≥2-event)
    // session explodes to the hour buckets it covers, candidate pairs come
    // from an equi-join ON BUCKET (never a cross product — at 100 TB pair
    // volume is bounded by per-bucket concurrency), duplicates from
    // multi-bucket spans collapse with distinct, and the exact overlap
    // condition filters the candidates. All time math is exact epoch-µs
    // integers. The DuckDB oracle is the direct quadratic formulation —
    // same answer, different plan shape.
    GQ(
      "q_join_interval",
      (s, d) => {
        val sess = sessionized(s, d)
          .filter(col("n_events") >= 2)
          .select(col("user_id"), col("sid"), col("start_us"), col("end_us"))
        val BucketUs = 3600L * 1000 * 1000
        val bucketed = sess.select(
          col("user_id"), col("sid"), col("start_us"), col("end_us"),
          explode(sequence(
            expr(s"start_us DIV $BucketUs"), expr(s"end_us DIV $BucketUs")))
            .as("bucket"))
        val a = bucketed.toDF("a_user", "a_sid", "a_start", "a_end", "bucket")
        val b = bucketed.toDF("b_user", "b_sid", "b_start", "b_end", "bucket")
        a.join(b, Seq("bucket"))
          .filter(col("a_user") < col("b_user"))
          .drop("bucket").distinct()
          .select(
            col("a_user"), col("b_user"), col("a_sid"), col("b_sid"),
            (least(col("a_end"), col("b_end")) -
              greatest(col("a_start"), col("b_start"))).as("overlap_us"))
          .filter(col("overlap_us") >= 0)
          .orderBy(col("overlap_us").desc, col("a_user"), col("b_user"),
            col("a_sid"), col("b_sid"))
          .limit(20)
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, epoch_us(ts) AS us,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, us,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM g),
             |sess AS (
             |  SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us
             |  FROM s GROUP BY user_id, sid HAVING COUNT(*) >= 2)
             |SELECT a.user_id AS a_user, b.user_id AS b_user,
             |  a.sid AS a_sid, b.sid AS b_sid,
             |  least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us)
             |    AS overlap_us
             |FROM sess a JOIN sess b ON a.user_id < b.user_id
             |WHERE least(a.end_us, b.end_us) >= greatest(a.start_us, b.start_us)
             |ORDER BY overlap_us DESC, a_user, b_user, a_sid, b_sid
             |LIMIT 20""".stripMargin)
    ),
    // Batch sessionization (gaps-and-islands): a session breaks after 30
    // minutes of per-user silence; session index = running sum of break
    // flags. All time math is exact integers — gap threshold compared on
    // epoch-µs (ts DIV 1000) so both engines see identical values (DuckDB
    // reads this parquet at µs resolution), outputs epoch-µs BIGINT (R4).
    // One shuffle on user_id + in-partition sort — the batch twin of
    // graft.streaming.EventStreams.sessions.
    GQ(
      "q_sessionize",
      (s, d) => sessionized(s, d).orderBy(col("user_id"), col("sid")),
      Some("""WITH g AS (
             |  SELECT user_id, ts, epoch_us(ts) AS us,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, us,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM g)
             |SELECT user_id, sid, COUNT(*) AS n_events,
             |  MIN(us) AS start_us, MAX(us) AS end_us
             |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin)
    ),
    // WITHIN-SESSION dedup (round-3 verdict item 6) — the composition a real
    // crawl/telemetry pipeline runs: repeated events of the same type inside
    // one 30-min session are duplicates (re-crawls, double-fires); keep the
    // session's FIRST such event and count the drops. Composes the
    // gaps-and-islands session assignment with a window-then-dedup — the one
    // shape the surface lacked (sessionize feeding a keyed row_number).
    // Plan: the sessionize window shuffle keyed on user_id is REUSED by the
    // dedup window (user_id, sid, event_type is a refinement of the
    // partitioning) — one exchange total at any scale. First = min (us,
    // event_id): µs resolution on both engines (R5), event_id tie-break.
    GQ(
      "q_dedup_sessioned",
      (s, d) => {
        val wD = Window.partitionBy(col("user_id"), col("sid"), col("event_type"))
          .orderBy(col("us"), col("event_id"))
        sessionEvents(s, d)
          .withColumn("rn", row_number().over(wD))
          .groupBy(col("user_id"), col("sid"), col("event_type"))
          .agg(
            min(when(col("rn") === 1, col("event_id"))).as("kept_event_id"),
            (count(lit(1)) - 1).as("n_dupes"))
          .orderBy(col("user_id"), col("sid"), col("event_type"))
      },
      Some("""WITH g AS (
             |  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT event_id, user_id, event_type, us,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM g),
             |r AS (
             |  SELECT user_id, sid, event_type, event_id,
             |    row_number() OVER (PARTITION BY user_id, sid, event_type
             |      ORDER BY us, event_id) AS rn
             |  FROM s)
             |SELECT user_id, sid, event_type,
             |  MIN(CASE WHEN rn = 1 THEN event_id END) AS kept_event_id,
             |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dupes
             |FROM r GROUP BY user_id, sid, event_type
             |ORDER BY user_id, sid, event_type""".stripMargin)
    ),
    // Per-day PEAK session concurrency (round 5) — the sweep-line /
    // interval-stabbing classic the interval family lacked: q_join_interval
    // finds overlapping PAIRS, this finds how many sessions are open AT
    // ONCE — the capacity-planning number (connection pools, licence
    // seats, serving replicas are sized off exactly this). Standard
    // sweep: each session emits +1 at its start and −1 at its end, the
    // running sum is the live-session count, and the day's peak is its
    // max with starts processed BEFORE ends at an equal microsecond
    // (closed intervals: a session ending at t and one starting at t DO
    // overlap).
    //
    // The global sweep is kept PARTITIONED: a session crossing midnight
    // contributes a CARRY-IN (+1 at day start) to every later day it
    // spans — explode(sequence(sday+1, eday)) — so each day's sweep is
    // independent and the window never degenerates to the banned
    // single-partition global sort. peak = carry + max(0, max cand)
    // where cand(us) = cumsum(s−e) + e(us) is the count right after the
    // starts at us; peak_at_us = first µs attaining it, NULL by contract
    // when the peak is the midnight carry itself (probe-pinned).
    //
    // Determinism: exact epoch-µs integers end to end (R5), the sweep
    // window orders by us — unique within a day after the (day, us) agg
    // (the R1 window rule); the equal-µs start/end collapse makes the
    // per-us cand permutation-invariant. ORDER BY day (R1).
    //
    // Plan shape (100 TB): the sessionize exchange (user-keyed) feeds a
    // session-bounded relation; carry/event rows are ≤ 2 rows + spanned
    // days per session; the sweep windows partition by DAY — calendar
    // parallelism, no global sort; the full-outer day join runs on the
    // |days|-sized relation.
    GQ(
      "q_events_concurrency",
      (s, d) => {
        // persisted: the session-bounded relation feeds the carry branch
        // and both sweep-event branches — without it the corpus scans (and
        // the sessionize window re-runs) three times
        val sess = graft.Caches.persist(sessionized(s, d).select(
          expr("start_us DIV 86400000000").as("sday"),
          expr("end_us DIV 86400000000").as("eday"),
          col("start_us"), col("end_us")))
        val carry = sess.filter(col("eday") > col("sday"))
          .select(explode(sequence(col("sday") + 1, col("eday"))).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n_carry"))
        val ev = sess.select(col("sday").as("day"),
            col("start_us").as("us"), lit(1L).as("s"), lit(0L).as("e"))
          .union(sess.select(col("eday").as("day"),
            col("end_us").as("us"), lit(0L).as("s"), lit(1L).as("e")))
          .groupBy(col("day"), col("us"))
          .agg(sum(col("s")).as("s"), sum(col("e")).as("e"))
        val wCum = Window.partitionBy(col("day")).orderBy(col("us"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wDay = Window.partitionBy(col("day"))
        val cand = ev
          .withColumn("cand", sum(col("s") - col("e")).over(wCum) + col("e"))
          .withColumn("m", max(col("cand")).over(wDay))
          .withColumn("n_starts", sum(col("s")).over(wDay))
        val evAgg = cand.filter(col("cand") === col("m"))
          .groupBy(col("day"), col("m"), col("n_starts"))
          .agg(min(col("us")).as("at"))
        evAgg.join(carry, Seq("day"), "full_outer")
          .select(col("day"),
            coalesce(col("n_carry"), lit(0L)).as("n_carry"),
            coalesce(col("n_starts"), lit(0L)).as("n_starts"),
            (coalesce(col("n_carry"), lit(0L)) +
              greatest(coalesce(col("m"), lit(0L)), lit(0L))).as("peak"),
            when(col("m") > 0, col("at")).as("peak_at_us"))
          .orderBy(col("day"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, epoch_us(ts) AS us,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, us,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM g),
             |b AS (SELECT user_id, sid, MIN(us) AS start_us,
             |    MAX(us) AS end_us
             |  FROM s GROUP BY 1, 2),
             |s2 AS (SELECT start_us // 86400000000 AS sday,
             |    end_us // 86400000000 AS eday, start_us, end_us FROM b),
             |cd AS (SELECT unnest(generate_series(sday + 1, eday)) AS day
             |  FROM s2 WHERE eday > sday),
             |carry AS (SELECT day, COUNT(*) AS n_carry FROM cd GROUP BY 1),
             |ev AS (SELECT sday AS day, start_us AS us, 1 AS s, 0 AS e
             |    FROM s2
             |  UNION ALL
             |  SELECT eday, end_us, 0, 1 FROM s2),
             |ag AS (SELECT day, us, CAST(SUM(s) AS BIGINT) AS s,
             |    CAST(SUM(e) AS BIGINT) AS e
             |  FROM ev GROUP BY 1, 2),
             |c AS (SELECT day, us, s, e,
             |    SUM(s - e) OVER (PARTITION BY day ORDER BY us
             |      ROWS UNBOUNDED PRECEDING) + e AS cand
             |  FROM ag),
             |w2 AS (SELECT day, us, s, cand,
             |    MAX(cand) OVER (PARTITION BY day) AS m,
             |    SUM(s) OVER (PARTITION BY day) AS n_starts
             |  FROM c),
             |ea AS (SELECT day, m, n_starts, MIN(us) AS at
             |  FROM w2 WHERE cand = m GROUP BY 1, 2, 3)
             |SELECT COALESCE(ea.day, carry.day) AS day,
             |  CAST(COALESCE(carry.n_carry, 0) AS BIGINT) AS n_carry,
             |  CAST(COALESCE(ea.n_starts, 0) AS BIGINT) AS n_starts,
             |  CAST(COALESCE(carry.n_carry, 0)
             |    + GREATEST(COALESCE(ea.m, 0), 0) AS BIGINT) AS peak,
             |  CASE WHEN ea.m > 0 THEN ea.at END AS peak_at_us
             |FROM ea FULL OUTER JOIN carry ON carry.day = ea.day
             |ORDER BY day""".stripMargin)
    ),
    // Ordered conversion funnel (signup → view → click → purchase): a user
    // completes stage k at the earliest stage-k event strictly AFTER their
    // stage-(k−1) completion — the event-sequence query every product/
    // telemetry warehouse runs. Single-scan shape: stage-completion times
    // chain through stacked `min(...) OVER (RANGE UNBOUNDED PRECEDING..-1)`
    // windows — the exact-nanos range frame (R5) enforces STRICTLY-earlier,
    // and "earliest valid previous-stage event exists" ⟺ "this event
    // extends the chain" (greedy earliest-first matching is optimal for
    // subsequence tests). All windows and the per-user rollup share ONE
    // user_id exchange and ONE sort, so the whole funnel costs a single
    // shuffle of the scan — the naive per-stage join chain scans the
    // events 1+2+3+4 times (each stage's lineage re-executes per branch)
    // and shuffles four times; the oracle keeps that direct form.
    GQ(
      "q_funnel",
      (s, d) => {
        val wPrev = Window.partitionBy(col("user_id")).orderBy(col("ts"))
          .rangeBetween(Window.unboundedPreceding, -1)
        val staged = Tables.events(s, d)
          .withColumn("t1r",
            min(when(col("event_type") === "signup", col("ts"))).over(wPrev))
          .withColumn("v2",
            when(col("event_type") === "view" && col("t1r").isNotNull, col("ts")))
          .withColumn("t2r", min(col("v2")).over(wPrev))
          .withColumn("v3",
            when(col("event_type") === "click" && col("t2r").isNotNull, col("ts")))
          .withColumn("t3r", min(col("v3")).over(wPrev))
          .withColumn("v4",
            when(col("event_type") === "purchase" && col("t3r").isNotNull, col("ts")))
        staged.groupBy(col("user_id"))
          .agg(
            count(when(col("event_type") === "signup", lit(1))).as("n1"),
            count(col("v2")).as("n2"), count(col("v3")).as("n3"),
            count(col("v4")).as("n4"))
          .agg(
            count(when(col("n1") > 0, lit(1))).as("c1"),
            count(when(col("n2") > 0, lit(1))).as("c2"),
            count(when(col("n3") > 0, lit(1))).as("c3"),
            count(when(col("n4") > 0, lit(1))).as("c4"))
          .select(expr(
            """stack(4, '1_signup', c1, '2_view', c2,
              |'3_click', c3, '4_purchase', c4) AS (stage, n_users)""".stripMargin))
          .orderBy(col("stage"))
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
             |  JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
             |  JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1),
             |s4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM events e
             |  JOIN s3 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
             |SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
             |UNION ALL SELECT '2_view', CAST(COUNT(*) AS BIGINT) FROM s2
             |UNION ALL SELECT '3_click', CAST(COUNT(*) AS BIGINT) FROM s3
             |UNION ALL SELECT '4_purchase', CAST(COUNT(*) AS BIGINT) FROM s4
             |ORDER BY stage""".stripMargin)
    ),
    // Conversion-window funnel (round 5) — q_funnel with the constraint
    // every real attribution model adds: each stage must fire within 24 h
    // of the PREVIOUS stage's earliest qualifying time, or the user is
    // counted as dropped there. The unbounded funnel overstates
    // conversion by crediting purchases weeks after the click; the
    // windowed one is what growth dashboards actually report.
    //
    // Same engine shape as q_funnel (one user-keyed window pass; each
    // event row sees its user's running-min previous-stage time and
    // qualifies only inside (t_prev, t_prev + 24h]); the oracle takes
    // the independent per-stage-join route with the same bound — the
    // cross-formulation pattern. The two agree because the running min
    // over preceding rows EQUALS the stage's global earliest time
    // whenever any qualifying event precedes the row (the q_funnel
    // argument, unchanged by the upper bound — the bound depends only on
    // that earliest time). Exact integer nanos arithmetic (R5); stage
    // labels carry the ordering key (R1).
    //
    // Plan shape (100 TB): ONE corpus scan, ONE user_id exchange serving
    // all four window stages, one two-level agg — identical to q_funnel
    // (plan-pinned there); the bound adds only scan-side comparisons.
    GQ(
      "q_funnel_windowed",
      (s, d) => {
        val Delta = 86400L * 1000 * 1000 * 1000 // 24 h in nanos
        val wPrev = Window.partitionBy(col("user_id")).orderBy(col("ts"))
          .rangeBetween(Window.unboundedPreceding, -1)
        def within(prev: String) = col(prev).isNotNull &&
          col("ts") <= col(prev) + Delta
        val staged = Tables.events(s, d)
          .withColumn("t1r",
            min(when(col("event_type") === "signup", col("ts"))).over(wPrev))
          .withColumn("v2",
            when(col("event_type") === "view" && within("t1r"), col("ts")))
          .withColumn("t2r", min(col("v2")).over(wPrev))
          .withColumn("v3",
            when(col("event_type") === "click" && within("t2r"), col("ts")))
          .withColumn("t3r", min(col("v3")).over(wPrev))
          .withColumn("v4",
            when(col("event_type") === "purchase" && within("t3r"), col("ts")))
        staged.groupBy(col("user_id"))
          .agg(
            count(when(col("event_type") === "signup", lit(1))).as("n1"),
            count(col("v2")).as("n2"), count(col("v3")).as("n3"),
            count(col("v4")).as("n4"))
          .agg(
            count(when(col("n1") > 0, lit(1))).as("c1"),
            count(when(col("n2") > 0, lit(1))).as("c2"),
            count(when(col("n3") > 0, lit(1))).as("c3"),
            count(when(col("n4") > 0, lit(1))).as("c4"))
          .select(expr(
            """stack(4, '1_signup', c1, '2_view', c2,
              |'3_click', c3, '4_purchase', c4) AS (stage, n_users)""".stripMargin))
          .orderBy(col("stage"))
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(epoch_ns(ts)) AS t1 FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t2 FROM events e
             |  JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) > s1.t1
             |    AND epoch_ns(e.ts) <= s1.t1 + 86400000000000 GROUP BY 1),
             |s3 AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t3 FROM events e
             |  JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s2.t2
             |    AND epoch_ns(e.ts) <= s2.t2 + 86400000000000 GROUP BY 1),
             |s4 AS (SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t4 FROM events e
             |  JOIN s3 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s3.t3
             |    AND epoch_ns(e.ts) <= s3.t3 + 86400000000000 GROUP BY 1)
             |SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
             |UNION ALL SELECT '2_view', CAST(COUNT(*) AS BIGINT) FROM s2
             |UNION ALL SELECT '3_click', CAST(COUNT(*) AS BIGINT) FROM s3
             |UNION ALL SELECT '4_purchase', CAST(COUNT(*) AS BIGINT) FROM s4
             |ORDER BY stage""".stripMargin)
    ),
    // Cohort retention: users grouped by first-activity week, distinct
    // actives counted per week offset — the second standard event-sequence
    // report. All bucketing is exact integer division over epoch nanos
    // (day = ts DIV 86.4e12, week = day DIV 7; R5). Plan: per-user min
    // (one agg), join back keyed on user_id (same partitioning), distinct
    // on (user, cohort, offset) then a tiny matrix agg — at 100 TB the
    // distinct is the only corpus-sized shuffle and it is keyed as
    // narrowly as the semantics allow.
    GQ(
      "q_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts DIV $NanosPerDay").as("day"))
        val firstDay = ev.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        ev.join(firstDay, "user_id")
          .select(
            col("user_id"),
            expr("cohort_day DIV 7").as("cohort_week"),
            expr("(day - cohort_day) DIV 7").as("week_offset"))
          .distinct()
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some(s"""WITH e AS (SELECT user_id, epoch_ns(ts) // $NanosPerDay AS day
             |  FROM events),
             |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1),
             |a AS (SELECT DISTINCT e.user_id, f.cohort_day // 7 AS cohort_week,
             |    (e.day - f.cohort_day) // 7 AS week_offset
             |  FROM e JOIN f USING (user_id))
             |SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
             |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),
    // Time-series gap fill: the hourly per-type series densified over the
    // full observed hour range (sequence + explode builds the grid — types
    // × hours, tiny vs the corpus) with missing buckets carried forward by
    // a last-non-null window (IGNORE NULLS). Gap hours report cnt=0 and
    // the last seen sum; leading gaps stay NULL. The carry-forward runs
    // over exact decimal sums and casts to DOUBLE once at the end (R2).
    // At 100 TB the grid is |types| × |hours| — never corpus-sized — and
    // the window partitions by type over it, not over raw events.
    GQ(
      "q_time_gapfill",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), expr(s"ts DIV $NanosPerHour").as("b"),
            C.dec2(col("value")).as("v"))
        // persisted: the calendar×type-bounded hour agg also yields the
        // grid bounds and the type list, so the corpus is scanned ONCE
        // instead of three times (the RegistrySpec scan-budget sweep
        // gates it)
        val agg = graft.Caches.persist(ev.groupBy(col("event_type"), col("b"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv")))
        val bounds = agg.agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
        val grid = agg.select(col("event_type")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(sequence(col("b0"), col("b1"))).as("b"))
        val wFill = Window.partitionBy(col("event_type")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(agg, Seq("event_type", "b"), "left")
          .select(
            col("event_type"), (col("b") * 3600).as("epoch_s"),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            last(col("sv"), ignoreNulls = true).over(wFill)
              .cast(DoubleType).as("filled_sum"))
          .orderBy(col("event_type"), col("epoch_s"))
      },
      Some(s"""WITH ev AS (SELECT event_type, epoch_ns(ts) // $NanosPerHour AS b,
             |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
             |agg AS (SELECT event_type, b, COUNT(*) AS cnt, SUM(v) AS sv
             |  FROM ev GROUP BY 1, 2),
             |bounds AS (SELECT MIN(b) AS b0, MAX(b) AS b1 FROM ev),
             |types AS (SELECT DISTINCT event_type FROM ev),
             |grid AS (SELECT event_type, unnest(generate_series(b0, b1)) AS b
             |  FROM types, bounds)
             |SELECT g.event_type, g.b * 3600 AS epoch_s,
             |  CAST(COALESCE(a.cnt, 0) AS BIGINT) AS cnt,
             |  CAST(last_value(a.sv IGNORE NULLS) OVER (
             |    PARTITION BY g.event_type ORDER BY g.b
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    AS filled_sum
             |FROM grid g LEFT JOIN agg a ON g.event_type = a.event_type AND g.b = a.b
             |ORDER BY g.event_type, epoch_s""".stripMargin)
    ),
    // IGNORE NULLS window navigation: per user in event order, the most
    // recent and the next purchase-props value — the standard
    // carry-forward/backward pair (last_value/first_value IGNORE NULLS,
    // identical frame semantics in both engines; lag/lead IGNORE NULLS
    // offset semantics differ subtly across engines, so the declared
    // surface pins the frame-based pair). One window shuffle on user_id.
    GQ(
      "q_window_ignore_nulls",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        Tables.events(s, d)
          .withColumn("k",
            when(col("event_type") === "purchase",
              get_json_object(col("props"), "$.k").cast(IntegerType)))
          .select(
            col("user_id"), col("event_id"),
            last(col("k"), ignoreNulls = true)
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("last_k"),
            first(col("k"), ignoreNulls = true)
              .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
              .as("next_k"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |  CASE WHEN event_type = 'purchase'
             |    THEN CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INTEGER)
             |  END AS k FROM events)
             |SELECT user_id, event_id,
             |  last_value(k IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_k,
             |  first_value(k IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_k
             |FROM e ORDER BY user_id, event_id""".stripMargin)
    ),
    // Built-in HLL++ is the idiomatic approx-distinct path. Its sketch
    // VALUES are engine-specific, so rounds 1–4 declared this rows-only —
    // the one entry outside the oracle gate. Round 5 (verdict item 4)
    // retires that: the output carries the EXACT distinct count plus a
    // WITHIN-TOLERANCE flag for the sketch estimate (|approx − exact| ≤
    // 15% — three times the default rsd 0.05, far beyond any plausible
    // HLL++ wobble on these cardinalities), and the oracle asserts the
    // flag is TRUE. The approx value itself stays out of the output (it
    // is the one genuinely non-replayable number); a sketch regression
    // past the bound now fails the hash compare instead of passing a
    // rows>0 check. The engine-owned q_approx_distinct_native below
    // remains the estimate-value-exact twin.
    GQ(
      "q_approx_distinct",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id")).as("approx"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("approx") - col("exact_users")).cast(DoubleType)
              <= col("exact_users").cast(DoubleType) * lit(0.15))
              .as("within_tol"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             |TRUE AS within_tol FROM events
             |GROUP BY 1 ORDER BY event_type""".stripMargin)
    ),
    // ...and this is the engine-owned sketch: the from-scratch
    // TypedImperativeAggregate (graft.functions.HllSketch). Deterministic
    // under any partitioning (register merge is byte-wise max) — and, since
    // the engine OWNS the algorithm, fully ORACLE-MATCHED (round 3): the
    // DuckDB twin replays splitmix64 (32-bit limb arithmetic), the register
    // max-fold, and the integer-exact estimator from the same constants.
    // Spark's built-in HLL++ above stays rows-only — ITS sketch internals
    // are genuinely engine-specific; ours are not.
    GQ(
      "q_approx_distinct_native",
      (s, d) => {
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(graft.functions.hll.distinct(col("user_id")).as("approx_users"))
          .orderBy(col("event_type"))
      },
      Some(graft.functions.HllSketch.oracleSql("event_type", "user_id", "events")
        + "\nORDER BY event_type")
    ),
    // Last-touch attribution (round 4) — the event-analytics verb the
    // funnel/cohort/sessionize trio still lacked: each purchase is
    // attributed to the SAME user's most recent preceding click, with the
    // exact microsecond gap (µs, not ns: DuckDB reads the ns parquet as a
    // µs TIMESTAMP, so µs is the finest cross-engine-exact resolution —
    // the q_join_asof contract; `ts div 1000` ≡ `epoch_us`).
    // First-purchase-without-click emits NULLs (an honest "organic" row,
    // not a dropped one).
    //
    // The scale-right shape is ONE user-keyed window pass — `last(...,
    // ignoreNulls)` over a preceding-rows frame picks the latest click
    // per (ts, event_id) order — never the textbook self-join of
    // purchases × clicks, whose per-user pair volume is quadratic in
    // activity and skew-bound by the heaviest user. Exact integer µs
    // (R5); (ts, event_id) is a unique order key (R1).
    GQ(
      "q_events_attribution",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tsu"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("tsu"), col("event_type"))
          .withColumn("click_id",
            last(when(col("event_type") === "click", col("event_id")),
              ignoreNulls = true).over(w))
          .withColumn("click_ts",
            last(when(col("event_type") === "click", col("tsu")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("click_id"),
            (col("tsu") - col("click_ts")).as("gap_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS tsn,
             |    event_type FROM events),
             |a AS (SELECT event_id, user_id, event_type, tsn,
             |    last_value(CASE WHEN event_type = 'click' THEN event_id END
             |        IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY tsn, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS click_id,
             |    last_value(CASE WHEN event_type = 'click' THEN tsn END
             |        IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY tsn, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS click_ts
             |  FROM t)
             |SELECT event_id, user_id, click_id, tsn - click_ts AS gap_us
             |FROM a WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)
    ),
    // Event-sequence pattern matching (round 4) — the batch analog of SQL
    // MATCH_RECOGNIZE / CEP: encode each user's event history as an
    // ordered initial-letter string (c/e/p/s/v) and count regex matches of
    // a behavioral pattern — here "signup, then a purchase with no error
    // in between" (`s[cpv]*p` — possible because the five types have
    // distinct initials). Reported per user with the full journey string;
    // users without a match still appear (n_matches 0) so the output is a
    // per-user behavioral profile, not a filtered list.
    //
    // Determinism: the journey string is built from a SORTED struct
    // collect (R3 — collect order never shows) on the unique (µs, event_id)
    // key (µs, not ns — the q_events_attribution cross-engine resolution);
    // the regex is char-class-only (identical Java/RE2 semantics — the
    // q_text_pii_scrub precedent).
    //
    // Plan shape (100 TB): ONE user-keyed agg builds the journey, the
    // regex runs scan-side on its output — per-user state is one string
    // bounded by activity, the CEP engine's per-key buffer in batch form.
    // (A user with pathological event counts would need the sessionized
    // variant — compose with q_sessionize's boundaries.)
    GQ(
      "q_events_pattern",
      (s, d) => {
        Tables.events(s, d)
          .select(col("user_id"), expr("ts div 1000").as("tsu"),
            col("event_id"), substring(col("event_type"), 1, 1).as("init"))
          .groupBy(col("user_id"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("tsu"), col("event_id"),
              col("init")))),
            x => x.getField("init")), "").as("journey"))
          .select(col("user_id"), col("journey"),
            size(regexp_extract_all(col("journey"), lit("s[cpv]*p"), lit(0)))
              .cast(LongType).as("n_matches"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
             |    substring(event_type, 1, 1) AS init FROM events),
             |j AS (SELECT user_id,
             |    string_agg(init, '' ORDER BY tsu, event_id) AS journey
             |  FROM e GROUP BY user_id)
             |SELECT user_id, journey,
             |  CAST(len(regexp_extract_all(journey, 's[cpv]*p')) AS BIGINT)
             |    AS n_matches
             |FROM j ORDER BY user_id""".stripMargin)
    ),
    // Sequential pattern mining, frequency form (round 4, batch 9) — the
    // corpus-wide complement of q_events_pattern's per-user regex: the
    // top-10 most common event-type TRIGRAMS (three consecutive events of
    // one user). This is the "what do users actually do" market-basket /
    // clickstream-mining primitive (the 3-length special case of GSP);
    // on a training-data pipeline it's the behavior-distribution report
    // run before sampling interaction logs.
    //
    // Determinism: within-user order is the unique (µs, event_id) key
    // (R1/R5 — the q_events_attribution resolution contract); trigram
    // assembly uses null-propagating `concat` (not concat_ws, which SKIPS
    // nulls and would fabricate bigrams at sequence tails); counts are
    // exact BIGINTs and ties order by the trigram string (R1).
    //
    // Plan shape (100 TB): ONE user-keyed window sort emits the trigrams
    // scan-side (two leads over the same frame — a single WindowExec),
    // then ONE hash agg on the trigram string with map-side partial
    // aggregation; the result relation is |event-type|³-bounded (125 rows
    // here) so the final top-10 sort is free. Per-user state is the
    // window buffer, bounded by activity (the round-3 hot-user session
    // probe, BASELINE.md "Retired instruments", covers the same skew
    // shape).
    GQ(
      "q_events_ngrams",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tsu"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), expr("ts div 1000").as("tsu"),
            col("event_id"), col("event_type"))
          .withColumn("trigram",
            concat(col("event_type"), lit(">"),
              lead(col("event_type"), 1).over(w), lit(">"),
              lead(col("event_type"), 2).over(w)))
          .filter(col("trigram").isNotNull)
          .groupBy(col("trigram"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("trigram"))
          .limit(10)
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
             |    event_type FROM events),
             |t AS (SELECT event_type || '>'
             |    || lead(event_type, 1) OVER w || '>'
             |    || lead(event_type, 2) OVER w AS trigram
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
             |SELECT trigram, COUNT(*) AS cnt FROM t
             |WHERE trigram IS NOT NULL
             |GROUP BY trigram ORDER BY cnt DESC, trigram LIMIT 10""".stripMargin)
    ),
    // Time-series anomaly detection (round 4, batch 9) — the ops-monitoring
    // read of the event stream: hourly volume per event type, scored by
    // robust (median/MAD) deviation within the type, top-20 most anomalous
    // OBSERVED buckets (a bucket with zero events is absent from the input
    // relation and so can't be flagged — the gap-detection job is
    // q_time_gapfill's). Median/MAD, not mean/σ: a traffic spike drags the
    // mean toward itself (the q_text_mad_outliers argument, applied on the
    // time axis).
    //
    // Determinism: bucket counts are exact ints; both medians are the
    // engine-shared interpolation contract over integer (then dyadic) data
    // (q_agg_median_mode / q_text_mad_outliers precedent — med on ints is
    // .5-exact, |cnt−med| is .5-exact, MAD over those is .25-exact, all
    // dyadic doubles both engines represent exactly); the score is ONE IEEE
    // division (R7). MAD = 0 (≥ half the type's hours at the median) emits
    // NULL scores which rank LAST under desc_nulls_last — never a division
    // blowup. Hour reports as epoch seconds (R4); ties → (type, hour) (R1).
    //
    // Plan shape (100 TB): the corpus is touched ONCE by the (hour, type)
    // hash agg (map-side combine; output bounded by |hours|×|types|, i.e.
    // time-range-bounded, never corpus-sized). Both median aggs and the
    // score join run on that bounded relation — the same
    // persisted-tiny-relation shape as q_text_mad_outliers.
    GQ(
      "q_time_anomaly",
      (s, d) => {
        val buckets = graft.Caches.persist(
          Tables.events(s, d)
            .select((expr(s"ts div $NanosPerHour") * 3600L).as("hour_start"),
              col("event_type"))
            .groupBy(col("hour_start"), col("event_type"))
            .agg(count(lit(1)).as("cnt")))
        val med = buckets.groupBy(col("event_type"))
          .agg(expr("percentile(cnt, 0.5)").as("med"))
        val mad = buckets.join(med, "event_type")
          .groupBy(col("event_type"), col("med"))
          .agg(expr("percentile(abs(cnt - med), 0.5)").as("mad"))
        buckets.join(mad, "event_type")
          .select(col("event_type"), col("hour_start"), col("cnt"),
            col("med"), col("mad"),
            when(col("mad") > 0d,
              abs(col("cnt") - col("med")) / col("mad")).as("score"))
          .orderBy(col("score").desc_nulls_last, col("event_type"),
            col("hour_start"))
          .limit(20)
      },
      Some(s"""WITH b AS (SELECT (epoch_ns(ts) // $NanosPerHour) * 3600
             |      AS hour_start,
             |    event_type, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med
             |  FROM b GROUP BY 1),
             |md AS (SELECT b.event_type, m.med,
             |    quantile_cont(abs(b.cnt - m.med), 0.5) AS mad
             |  FROM b JOIN m ON b.event_type = m.event_type
             |  GROUP BY 1, 2)
             |SELECT b.event_type, b.hour_start, b.cnt, md.med, md.mad,
             |  CASE WHEN md.mad > 0 THEN abs(b.cnt - md.med) / md.mad END
             |    AS score
             |FROM b JOIN md ON b.event_type = md.event_type
             |ORDER BY score DESC NULLS LAST, b.event_type, b.hour_start
             |LIMIT 20""".stripMargin)
    ),
    // First-order Markov transition matrix (round 4, batch 10) — the
    // behavior-model complement of q_events_ngrams' raw trigram counts:
    // P(next | prev) over consecutive same-user event pairs. This is the
    // classic clickstream transition report (and the statistic behind
    // next-event prediction baselines); output is the full |types|²-bounded
    // matrix, no top-k truncation.
    //
    // Determinism: within-user order is the unique (µs, event_id) key
    // (R1/R5); cnt and the per-prev marginal are exact BIGINTs; prob is
    // ONE IEEE division (R7); rows order by (prev, prob DESC, nxt) — all
    // three engine-shared.
    //
    // Plan shape (100 TB): ONE user-keyed window (a single lead — one
    // WindowExec, the q_events_ngrams pass), ONE hash agg to the
    // |types|²-bounded matrix; the marginal is a window over that tiny
    // relation, not the corpus.
    GQ(
      "q_events_markov",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tsu"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), expr("ts div 1000").as("tsu"),
            col("event_id"), col("event_type"))
          .select(col("event_type").as("prev"),
            lead(col("event_type"), 1).over(w).as("nxt"))
          .filter(col("nxt").isNotNull)
          .groupBy(col("prev"), col("nxt"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("tot",
            sum(col("cnt")).over(Window.partitionBy(col("prev"))))
          .select(col("prev"), col("nxt"), col("cnt"), col("tot"),
            (col("cnt").cast(DoubleType) / col("tot").cast(DoubleType))
              .as("prob"))
          .orderBy(col("prev"), col("prob").desc, col("nxt"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
             |    event_type FROM events),
             |p AS (SELECT event_type AS prev, lead(event_type, 1) OVER
             |    (PARTITION BY user_id ORDER BY tsu, event_id) AS nxt FROM e),
             |c AS (SELECT prev, nxt, COUNT(*) AS cnt FROM p
             |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT prev, nxt, cnt,
             |    CAST(SUM(cnt) OVER (PARTITION BY prev) AS BIGINT) AS tot
             |  FROM c)
             |SELECT prev, nxt, cnt, tot,
             |  CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS prob
             |FROM t ORDER BY prev, prob DESC, nxt""".stripMargin)
    ),
    // Exponentially-weighted moving average (round 4, batch 11) — the
    // traffic-smoothing read beside q_time_anomaly's spike detector:
    // per-type hourly volume smoothed by EWMA with α = 1/2 over the last
    // 24 OBSERVED buckets (absent hours are skipped, the q_time_anomaly
    // contract; gap semantics are q_time_gapfill's job; the <24-bucket
    // cold start treats missing history as zero).
    //
    // Determinism — the α = 1/2 exactness argument: every term
    // cnt_{t−j}/2^{j+1} is a binary-FP-EXACT dyadic rational (division by
    // a power of two never rounds at these magnitudes), and partial sums
    // stay dyadic with denominator 2^24 and numerator < 2^53, so the
    // 24-term sum is EXACT — not "same rounding both engines" but no
    // rounding at all, for any engine and any evaluation order. A general
    // α would accumulate IEEE error; α = 1/2 is the temperature-mix sqrt
    // argument's twin on the time axis. Weights are literal constants
    // generated from the same Scala ints on both sides — no pow() calls.
    //
    // Plan shape (100 TB): ONE corpus (hour, type) hash agg (map-side
    // combine, time-bounded output), then ONE type-keyed window in which
    // all 24 lags share a single WindowExec. The corpus never shuffles —
    // only bucket counts move.
    GQ(
      "q_time_ewma",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
        val ewma = (0 until 24).foldLeft(lit(0.0)) { (acc, j) =>
          acc + coalesce(lag(col("cnt"), j).over(w).cast(DoubleType), lit(0.0)) /
            lit((1L << (j + 1)).toDouble)
        }
        Tables.events(s, d)
          .select((expr(s"ts div $NanosPerHour") * 3600L).as("hour_start"),
            col("event_type"))
          .groupBy(col("hour_start"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("ewma", ewma)
          .orderBy(col("event_type"), col("hour_start"))
      },
      Some {
        val terms = (0 until 24)
          .map(j => s"COALESCE(lag(cnt, $j) OVER w, 0) / ${1L << (j + 1)}.0")
          .mkString("\n             |    + ")
        s"""WITH b AS (SELECT (epoch_ns(ts) // $NanosPerHour) * 3600
           |      AS hour_start,
           |    event_type, COUNT(*) AS cnt
           |  FROM events GROUP BY 1, 2)
           |SELECT hour_start, event_type, cnt,
           |  $terms AS ewma
           |FROM b
           |WINDOW w AS (PARTITION BY event_type ORDER BY hour_start)
           |ORDER BY event_type, hour_start""".stripMargin
      }
    ),
    // Rolling exact median of the daily event-count series (round 5) —
    // the robust smoother beside q_time_ewma's exponential mean: a single
    // spike day moves a trailing mean for a week but cannot move the
    // trailing-7 median at all (the monitoring baseline that doesn't
    // alert on its own outlier). Window = the last 7 OBSERVED days per
    // event type (ROWS semantics, documented — the gapless complement of
    // q_time_seasonal's calendar-join rule; this corpus's day series is
    // dense, and an observation window is itself a standard spec).
    //
    // Determinism: the median is an ELEMENT — the sorted trailing array's
    // ceil(n/2)-th value, 1-based, the percentile_disc cume_dist ≥ 0.5
    // convention applied to a ≤7-element array — all exact integers, no
    // interpolation. Leading partial windows report the median of what
    // exists. ORDER BY (event_type, day) (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → (type, day) hash agg
    // (calendar-bounded output) → one type-keyed window over the
    // model-sized series carrying 6 lags + an in-row sort of ≤7 values.
    GQ(
      "q_time_rolling_median",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val lags = col("c") +: (1 to 6).map(j => lag(col("c"), j).over(w))
        Tables.events(s, d)
          .groupBy(col("event_type"), expr(s"ts DIV $NanosPerDay").as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("sl",
            sort_array(filter(array(lags: _*), x => x.isNotNull)))
          .select(col("event_type"), col("day"), col("c"),
            expr("element_at(sl, CAST((size(sl) + 1) DIV 2 AS INT))")
              .as("med7"))
          .orderBy(col("event_type"), col("day"))
      },
      Some {
        val lags = "c" +: (1 to 6).map(j => s"lag(c, $j) OVER w")
        s"""WITH daily AS (SELECT event_type,
           |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS c
           |  FROM events GROUP BY 1, 2),
           |l AS (SELECT event_type, day, c,
           |    list_sort(list_filter([${lags.mkString(", ")}],
           |      x -> x IS NOT NULL)) AS sl
           |  FROM daily
           |  WINDOW w AS (PARTITION BY event_type ORDER BY day))
           |SELECT event_type, day, c,
           |  sl[CAST((len(sl) + 1) // 2 AS INTEGER)] AS med7
           |FROM l ORDER BY event_type, day""".stripMargin
      }
    ),
    // Brown's double exponential smoothing forecast (round 5) — the
    // LEVEL+TREND forecaster the family lacks: q_time_ewma smooths but
    // lags any trend, q_time_seasonal backtests a seasonal-naive copy,
    // q_time_theilsen fits ONE global line; Brown (1959) tracks a LOCAL
    // linear trend with exponential memory. With α = 1/2 the one-step
    // forecast has a closed convolution form: f_t = 3·S1 − 2·S2 over
    // the lagged series = Σ_j (2−j)/2^(j+1) · y_{t−1−j} (S2's weights
    // are (j+1)/2^(j+2); substitute and collect) — truncated at 24 lags
    // with zero-init, the q_time_ewma horizon convention, which both
    // engines share verbatim. Emitted per (type, day) with the one-step
    // absolute backtest error |y_t − f_t| — the rolling forecast-quality
    // audit.
    //
    // Determinism: every term is y·(2−j)/2^(j+1) — an exact dyadic (y
    // integer, division by a power of two), so each partial sum is
    // EXACT in IEEE double (magnitudes ≪ 2^53) and term order cannot
    // matter; roundz(6)+R8 for display (weights go negative at j ≥ 3,
    // so a decaying series can legitimately forecast < 0 — the raw
    // linear-trend extrapolation, reported as-is, not clamped); ORDER
    // BY (type, day) is total (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → (type, day) hash agg
    // (calendar-bounded output) → one type-keyed window over the
    // model-sized daily series carrying 24 lags. Identical to the
    // q_time_ewma/rolling-median shape.
    GQ(
      "q_time_holt",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val fc = (0 until 24).foldLeft(lit(0.0)) { (acc, j) =>
          acc + coalesce(lag(col("c"), j + 1).over(w).cast(DoubleType),
            lit(0.0)) * lit((2 - j).toDouble) /
            lit((1L << (j + 1)).toDouble)
        }
        Tables.events(s, d)
          .groupBy(col("event_type"), expr(s"ts DIV $NanosPerDay").as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("fc", fc)
          .select(col("event_type"), col("day"), col("c"),
            graft.functions.vec.roundz(col("fc"), 6).as("forecast"),
            graft.functions.vec.roundz(
              abs(col("c").cast(DoubleType) - col("fc")), 6).as("abs_err"))
          .orderBy(col("event_type"), col("day"))
      },
      Some {
        val terms = (0 until 24)
          .map(j =>
            s"COALESCE(lag(c, ${j + 1}) OVER w, 0) * ${2 - j} / ${1L << (j + 1)}.0")
          .mkString("\n             |    + ")
        s"""WITH daily AS (SELECT event_type,
           |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS c
           |  FROM events GROUP BY 1, 2),
           |f AS (SELECT event_type, day, c,
           |    $terms AS fc
           |  FROM daily
           |  WINDOW w AS (PARTITION BY event_type ORDER BY day))
           |SELECT event_type, day, c, (ROUND(fc, 6) + 0.0) AS forecast,
           |  (ROUND(abs(c - fc), 6) + 0.0) AS abs_err
           |FROM f ORDER BY event_type, day""".stripMargin
      }
    ),
    // Association rules over sessions (round 4, batch 12) — market-basket
    // mining with the 30-min session as the basket: which event types
    // co-occur in one session beyond chance? support = P(a,b),
    // confidence = P(b|a), lift = P(a,b)/(P(a)P(b)) — the Agrawal/Srikant
    // statistics, the session-level complement of q_events_markov's
    // consecutive-pair transitions (assoc sees "a and b in one visit
    // regardless of order/distance", markov only adjacent steps).
    //
    // Determinism: all four counts are exact session-distinct BIGINTs;
    // support/confidence are each ONE IEEE division (R7); lift is the
    // fixed tree (n_ab·S)/(n_a·n_b) with double products of exact ints
    // (the q_text_pmi overflow budget); ties → (a, b) (R1).
    //
    // Plan shape (100 TB): sessionEvents' ONE user_id window exchange is
    // reused by everything — the session-type distinct is keyed on a
    // refinement (user_id, sid, type), and the within-session pair
    // self-join keys on (user_id, sid), both satisfied by the existing
    // user_id partitioning (no new corpus exchange; pairs are bounded by
    // |types|² per session). Marginals and totals move |types|-sized
    // relations; lift arithmetic runs on the |types|²-bounded pair table.
    GQ(
      "q_events_assoc",
      (s, d) => {
        // persisted: the session-bounded item relation feeds five
        // consumers (totals, both antecedent/consequent counts, both
        // sides of the pair self-join) — each would otherwise re-run the
        // sessionize window over the corpus (the RegistrySpec
        // scan-budget sweep gates it)
        val st = graft.Caches.persist(sessionEvents(s, d)
          .select(col("user_id"), col("sid"), col("event_type")).distinct())
        val tot = st.select(col("user_id"), col("sid")).distinct()
          .agg(count(lit(1)).as("s_total"))
        val na = st.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val pairs = st.as("x")
          .join(st.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.sid") === col("y.sid") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(broadcast(na.select(col("event_type").as("a"), col("n").as("n_a"))), "a")
          .join(broadcast(na.select(col("event_type").as("b"), col("n").as("n_b"))), "b")
          .crossJoin(broadcast(tot))
          .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
            col("s_total"),
            (col("n_ab").cast(DoubleType) / col("s_total").cast(DoubleType))
              .as("support"),
            (col("n_ab").cast(DoubleType) / col("n_a").cast(DoubleType))
              .as("confidence"),
            ((col("n_ab").cast(DoubleType) * col("s_total").cast(DoubleType)) /
              (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)))
              .as("lift"))
          .orderBy(col("lift").desc, col("a"), col("b"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_type, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |    THEN 1 ELSE 0 END AS is_new
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, event_type,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM g),
             |st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
             |tot AS (SELECT COUNT(*) AS s_total FROM
             |  (SELECT DISTINCT user_id, sid FROM st)),
             |na AS (SELECT event_type, COUNT(*) AS n FROM st GROUP BY 1),
             |pr AS (SELECT x.event_type AS a, y.event_type AS b,
             |    COUNT(*) AS n_ab
             |  FROM st x JOIN st y ON x.user_id = y.user_id
             |    AND x.sid = y.sid AND x.event_type < y.event_type
             |  GROUP BY 1, 2)
             |SELECT pr.a, pr.b, pr.n_ab, xa.n AS n_a, xb.n AS n_b,
             |  tot.s_total,
             |  CAST(pr.n_ab AS DOUBLE) / CAST(tot.s_total AS DOUBLE)
             |    AS support,
             |  CAST(pr.n_ab AS DOUBLE) / CAST(xa.n AS DOUBLE) AS confidence,
             |  (CAST(pr.n_ab AS DOUBLE) * CAST(tot.s_total AS DOUBLE)) /
             |  (CAST(xa.n AS DOUBLE) * CAST(xb.n AS DOUBLE)) AS lift
             |FROM pr
             |JOIN na xa ON pr.a = xa.event_type
             |JOIN na xb ON pr.b = xb.event_type, tot
             |ORDER BY lift DESC, a, b""".stripMargin)
    ),
    // Longest consecutive-day activity streak per user (round 5) — the
    // gaps-and-islands pattern over CALENDAR days, the engagement metric
    // behind every "7-day streak" product surface and the canonical SQL
    // interview shape the surface didn't yet exercise: q_sessionize
    // islands by TIME GAP inside one day; this islands by consecutive
    // integer day index across the whole range. island_id = day −
    // row_number over the user's distinct active days — constant exactly
    // while days are consecutive — then the streak is a (user, island)
    // count. Top-20 users by longest streak.
    //
    // Determinism: day index is exact integer nanos-div (R5); distinct
    // days make the window order key unique per user, so row_number is
    // deterministic without a tie-break; counts/min/max are BIGINTs; ties
    // → (streak desc, user_id) (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → (user, day) distinct (hash
    // agg, map-side partial) → ONE user-keyed window + (user, island)
    // hash agg on the |users|·|days|-bounded distinct relation → per-user
    // max + top-k (TakeOrderedAndProject). The corpus exchanges once;
    // everything after is bounded by active-days, not events.
    GQ(
      "q_events_streak",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val NanosPerDay = 86400L * 1000 * 1000 * 1000
        val days = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts DIV $NanosPerDay").as("day"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val streaks = days
          .withColumn("isl", col("day") - row_number().over(w))
          .groupBy(col("user_id"), col("isl"))
          .agg(count(lit(1)).as("streak"), min(col("day")).as("from_day"),
            max(col("day")).as("to_day"))
        val best = Window.partitionBy(col("user_id"))
          .orderBy(col("streak").desc, col("from_day"))
        streaks
          .withColumn("rn", row_number().over(best))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("streak"), col("from_day"), col("to_day"))
          .orderBy(col("streak").desc, col("user_id"))
          .limit(20)
      },
      Some("""WITH days AS (SELECT DISTINCT user_id,
             |    epoch_ns(ts) // 86400000000000 AS day FROM events),
             |isl AS (SELECT user_id, day,
             |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
             |      AS isl
             |  FROM days),
             |st AS (SELECT user_id, isl, COUNT(*) AS streak,
             |    MIN(day) AS from_day, MAX(day) AS to_day
             |  FROM isl GROUP BY 1, 2),
             |rk AS (SELECT user_id, streak, from_day, to_day,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY streak DESC, from_day) AS rn
             |  FROM st)
             |SELECT user_id, streak, from_day, to_day FROM rk WHERE rn = 1
             |ORDER BY streak DESC, user_id LIMIT 20""".stripMargin)
    )
  )
}
