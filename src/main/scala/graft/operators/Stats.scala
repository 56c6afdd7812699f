package graft.operators

import graft.{C, GQ, Tables, XHash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical-modeling and product-analytics operators (round 5):
  * closed-form regression, seasonal forecasting, changepoint detection,
  * engagement (DAU/MAU), RFM segmentation, autocorrelation, and the
  * chi-squared contingency audit — the "fit a line / score a cohort /
  * test independence" layer a metrics pipeline runs on top of the
  * aggregation surface. The reference has no statistics at all (SURVEY
  * §2.4); these extend its P1-class column math the same way q_agg_stats
  * extends its counts.
  *
  * The model queries share the moments pattern: the corpus is reduced to
  * a handful of EXACT sums (decimal or integer — aggregation-order-free
  * in both engines), and the coefficients are a fixed IEEE expression
  * tree over those exact moments (the q_text_outliers determinism scheme).
  */
object Stats {

  val queries: Seq[GQ] = Seq(
    // Per-group ordinary least squares: l_extendedprice ~ l_quantity
    // within each l_returnflag — the closed-form simple regression every
    // metrics stack exposes (REGR_SLOPE/REGR_INTERCEPT/REGR_R2 in
    // ANSI SQL). Slope/intercept/R² from the five moment sums:
    //   slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)
    //   intercept = (Sy − slope·Sx) / n
    //   r2 = (n·Sxy − Sx·Sy)² / ((n·Sxx − Sx²)·(n·Syy − Sy²))
    //
    // Determinism (R2/R7): the moments are sums of DECIMAL products —
    // exact and order-independent (price/qty carry ≤ 2 decimals; products
    // at scale 4; decimal(38,4) headroom: Σ qty·price < 10^12 at sf0.1,
    // ×10⁶ margin) — NOT the float sums ANSI REGR_* aggregates run on,
    // whose accumulation order is engine-dependent. Each moment then
    // casts once to DOUBLE (correctly-rounded in both engines) and the
    // coefficient arithmetic is ONE fixed IEEE tree — bit-stable, with
    // roundz(6) + signed-zero normalization (R8) for display. Built-in
    // regr_slope exists in both engines and is REJECTED for exactly the
    // accumulation-order reason.
    //
    // Plan shape (100 TB): ONE scan → 3-row hash agg (map-side partials
    // carry five decimals per group); coefficient math runs on the 3-row
    // relation. Nothing else moves — linear at any corpus size.
    GQ(
      "q_stats_linreg",
      (s, d) => {
        val li = Tables.t(s, d, "lineitem")
        val x = C.dec2(col("l_quantity"))
        val y = C.dec2(col("l_extendedprice"))
        val m = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).cast(DoubleType).as("sx"),
            sum(y).cast(DoubleType).as("sy"),
            sum(x * x).cast(DoubleType).as("sxx"),
            sum(x * y).cast(DoubleType).as("sxy"),
            sum(y * y).cast(DoubleType).as("syy"))
        val nD = col("n").cast(DoubleType)
        val covN = nD * col("sxy") - col("sx") * col("sy")
        val varX = nD * col("sxx") - col("sx") * col("sx")
        val varY = nD * col("syy") - col("sy") * col("sy")
        val slope = covN / varX
        m.select(col("l_returnflag"), col("n"),
            graft.functions.vec.roundz(slope, 6).as("slope"),
            graft.functions.vec.roundz((col("sy") - slope * col("sx")) / nD, 6)
              .as("intercept"),
            graft.functions.vec.roundz(covN * covN / (varX * varY), 6).as("r2"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             |      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
             |  FROM lineitem GROUP BY l_returnflag),
             |c AS (SELECT l_returnflag, n,
             |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
             |    CAST(n AS DOUBLE) * sxx - sx * sx AS varx,
             |    CAST(n AS DOUBLE) * syy - sy * sy AS vary,
             |    sx, sy FROM m)
             |SELECT l_returnflag, n,
             |  (ROUND(covn / varx, 6) + 0.0) AS slope,
             |  (ROUND((sy - (covn / varx) * sx) / CAST(n AS DOUBLE), 6) + 0.0)
             |    AS intercept,
             |  (ROUND(covn * covn / (varx * vary), 6) + 0.0) AS r2
             |FROM c ORDER BY l_returnflag""".stripMargin)
    ),
    // Seasonal-naive forecast + error backtest over the daily event
    // series: forecast(day) = actual(day − 7) — the baseline every
    // forecasting system is benchmarked against (the "snaive" model;
    // Hyndman & Athanasopoulos §5.2), and the per-day absolute error IS
    // the backtest a monitoring pipeline alerts on. Calendar join, not
    // row-lag: lag(7) over ROWS silently misaligns across gaps in the
    // day series; joining on day−7 forecasts the true calendar week.
    //
    // Determinism: day index = exact integer epoch-nanos div (R5);
    // counts + absolute differences are BIGINTs end to end — no FP.
    //
    // Plan shape (100 TB): ONE corpus scan → day-keyed hash agg
    // (map-side combine; |days| rows out), then a self-join on the
    // |days|-sized series — broadcast-able forever. Linear at any scale.
    GQ(
      "q_time_seasonal",
      (s, d) => {
        val NanosPerDay = 86400L * 1000 * 1000 * 1000
        val daily = Tables.events(s, d)
          .withColumn("day", expr(s"ts DIV $NanosPerDay"))
          .groupBy(col("day")).agg(count(lit(1)).as("actual"))
        daily.as("c")
          .join(daily.as("p"), col("c.day") === col("p.day") + 7)
          .select(col("c.day").as("day"), col("c.actual").as("actual"),
            col("p.actual").as("forecast"),
            abs(col("c.actual") - col("p.actual")).as("abs_err"))
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
             |    COUNT(*) AS actual
             |  FROM events GROUP BY 1)
             |SELECT c.day AS day, c.actual AS actual, p.actual AS forecast,
             |  abs(c.actual - p.actual) AS abs_err
             |FROM daily c JOIN daily p ON c.day = p.day + 7
             |ORDER BY day""".stripMargin)
    ),
    // CUSUM change-point scan over the daily event series (Page 1954) —
    // the monitoring primitive that finds WHERE a level shift happened,
    // complementing q_time_anomaly (which spike is abnormal) and
    // q_time_seasonal (how wrong the baseline is). Classic centered
    // cumulative sum, scaled INTEGER-EXACT: instead of Σ(c_i − S/N) in
    // floats, accumulate N·c_i − S — the same series ×N — so every
    // partial sum is an exact BIGINT (|days|·N·max_cnt ≪ 2^63) and the
    // argmax |cusum| (the estimated change point, flagged per row) is
    // bit-free of FP. Emits the full diagnostic series: day, count,
    // scaled cusum, is_change flag.
    //
    // Determinism: integers end to end; the argmax flag breaks ties by
    // flagging EVERY day attaining max |cusum| (no hidden tie-break);
    // ORDER BY the unique day (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → day-keyed hash agg; the
    // cumulative sum is a prefix theta-join on the |days|-sized series
    // (round 6 — the old unpartitioned cumulative window is banned; the
    // broadcast nested-loop prefix join costs |days|² pairs, calendar-
    // bounded forever: a century is 36.5k days ≈ 1.3 G distributed
    // pairs; at a finer grain the two-level month-bucket prefix sum —
    // the q_text_zipf decomposition — slots in), with the (N, S) totals
    // and the max-|cusum| both broadcast from 1-row aggs.
    GQ(
      "q_time_cusum",
      (s, d) => {
        val NanosPerDay = 86400L * 1000 * 1000 * 1000
        val daily = graft.Caches.persist(Tables.events(s, d)
          .withColumn("day", expr(s"ts DIV $NanosPerDay"))
          .groupBy(col("day")).agg(count(lit(1)).as("actual")))
        val tot = daily.agg(count(lit(1)).as("nd"), sum(col("actual")).as("st"))
        // prefix sums: Σ_{d'≤d} actual and #{d'≤d}, so
        // cusum(d) = Σ_{d'≤d}(actual'·nd − st) = pa·nd − pc·st exactly
        val pre = daily.as("x")
          .join(daily.as("y"), col("y.day") <= col("x.day"))
          .groupBy(col("x.day").as("day"), col("x.actual").as("actual"))
          .agg(sum(col("y.actual")).as("pa"), count(lit(1)).as("pc"))
        val cs = graft.Caches.persist(pre.crossJoin(broadcast(tot))
          .select(col("day"), col("actual"),
            (col("pa") * col("nd") - col("pc") * col("st")).as("cusum")))
        val mx = cs.agg(max(abs(col("cusum"))).as("mx"))
        cs.crossJoin(broadcast(mx))
          .withColumn("is_change", abs(col("cusum")) === col("mx"))
          .select(col("day"), col("actual"), col("cusum"), col("is_change"))
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
             |    COUNT(*) AS actual FROM events GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS nd, SUM(actual) AS st FROM daily),
             |cs AS (SELECT day, actual,
             |    SUM(actual * nd - st) OVER (ORDER BY day
             |      ROWS UNBOUNDED PRECEDING) AS cusum
             |  FROM daily, tot)
             |SELECT day, actual, CAST(cusum AS BIGINT) AS cusum,
             |  abs(cusum) = MAX(abs(cusum)) OVER () AS is_change
             |FROM cs ORDER BY day""".stripMargin)
    ),
    // DAU / rolling 28-day MAU / stickiness (round 5) — the engagement
    // triple every product-analytics stack reports. The rolling distinct
    // is computed EXACTLY by joining the (day, user) activity relation
    // onto each report day's trailing window (distinct-over-window has
    // no streaming-aggregate form — sliding distinct sets don't merge),
    // with DAU folded into the same pass as a conditional distinct.
    // Stickiness = DAU·1000 div MAU in exact integer thousandths
    // (identical floor division on positives, R7-free).
    //
    // Determinism: exact distinct counts + integer division; ORDER BY
    // the unique day (R1). Partial leading windows (< 28 days of
    // history) report what exists — the standard convention.
    //
    // Plan shape (100 TB): ONE corpus scan → (day, user) distinct (the
    // only corpus-sized exchange); the |days|-sized calendar BROADCASTS
    // into a nested-loop range join — ≤ 28 output rows per activity row,
    // a fixed fan-out like q_time_sliding's explode — then one day-keyed
    // distinct agg. At petabyte user counts the exact path gives way to
    // the mergeable per-day HLL tiles of q_sketch_rollup (union 28
    // sketches per report day); this query IS the exact oracle that
    // validates that sketch rollup.
    GQ(
      "q_events_dau_mau",
      (s, d) => {
        val NanosPerDay = 86400L * 1000 * 1000 * 1000
        val du = Tables.events(s, d)
          .select(expr(s"ts DIV $NanosPerDay").as("day"), col("user_id"))
          .distinct()
        val days = du.select(col("day").as("d")).distinct()
        broadcast(days)
          .join(du, col("day").between(col("d") - 27, col("d")))
          .groupBy(col("d"))
          .agg(
            countDistinct(when(col("day") === col("d"), col("user_id")))
              .as("dau"),
            countDistinct(col("user_id")).as("mau"))
          .select(col("d").as("day"), col("dau"), col("mau"),
            expr("dau * 1000 div mau").as("stickiness_milli"))
          .orderBy(col("day"))
      },
      Some("""WITH du AS (SELECT DISTINCT
             |    epoch_ns(ts) // 86400000000000 AS day, user_id FROM events),
             |days AS (SELECT DISTINCT day AS d FROM du)
             |SELECT d AS day,
             |  COUNT(DISTINCT CASE WHEN du.day = d THEN du.user_id END) AS dau,
             |  COUNT(DISTINCT du.user_id) AS mau,
             |  (COUNT(DISTINCT CASE WHEN du.day = d THEN du.user_id END) * 1000)
             |    // COUNT(DISTINCT du.user_id) AS stickiness_milli
             |FROM days JOIN du ON du.day BETWEEN d - 27 AND d
             |GROUP BY d ORDER BY day""".stripMargin)
    ),
    // RFM segmentation (round 5) — the classic customer-value cube
    // (Hughes 1994): per purchasing user, Recency (last purchase day),
    // Frequency (purchase count), Monetary (exact decimal spend), each
    // scored 1-5 against the population's quintile boundaries, reported
    // as segment-level user counts + total spend.
    //
    // Deliberately NOT NTILE: a global NTILE(5) window is one sorted
    // partition carrying every user through a single task — the
    // anti-pattern this engine bans (q_sample_reservoir lesson). Instead
    // the four cut points per dimension come from percentile_disc
    // (cume_dist ≥ p, the convention pinned by q_agg_percentile), a
    // 1-row relation that BROADCASTS into a scan-side bucket projection:
    // score = 1 + Σ (metric > cut_k). Ties land in the lower bucket in
    // BOTH engines by the shared strict-> rule; counts-vs-NTILE equal
    // splits differ under ties, which is fine — the boundary rule IS the
    // declared semantics.
    //
    // Determinism: recency = exact integer day (R5); monetary compares
    // and sums in DECIMAL(18,2) (R2) — never raw doubles; one final
    // cast to DOUBLE per segment. ORDER BY the (rq, fq, mq) key (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → user-keyed hash agg; the
    // quintile agg reduces users → 1 row (percentile_disc's buffer is
    // value-distinct-bounded — day domain is calendar-bounded, freq
    // small-integer; monetary is the widest and at petabyte user counts
    // would quantize to cents-buckets first); bucket assignment is a
    // broadcast nested-loop over the 1-row bounds + one ≤125-group agg.
    GQ(
      "q_events_rfm",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_events_rfm")
        s.sql(RfmSql("graft_events_rfm", "ts DIV 86400000000000"))
      },
      Some(RfmSql("events", "epoch_ns(ts) // 86400000000000"))
    ),
    // Autocorrelation function of the hourly event-count series at lags
    // 1-3 h, per event type (round 5) — the seasonality/burst detector
    // run before picking q_time_seasonal's lag or trusting q_time_ewma's
    // smoothing: r(L) ≈ 1 means the series is self-similar L hours
    // apart, r(L) ≈ 0 means white noise. Pairs are the OBSERVED ALIGNED
    // hours (t and t−L both present) via a calendar self-join — the
    // q_time_seasonal rule: a row-lag window silently misaligns across
    // gaps in the hour series, a calendar join cannot.
    //
    // Determinism: hour = exact integer nanos div (R5); the five moment
    // sums are BIGINTs (counts and count-products — order-free); r is
    // ONE fixed IEEE tree (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)·(n·Syy −
    // Sy²)) over the moment doubles — IEEE sqrt is correctly rounded in
    // both engines — with roundz(6) + R8 (r can round to −0.0); a
    // constant side (zero variance) yields NULL by contract. Overflow
    // budget (R10): Σ c² needs c²·|hours| < 2^63 — c < 3·10⁷ events per
    // (type, hour) at 10⁴ hours; beyond, the moments widen to DECIMAL.
    //
    // Plan shape (100 TB): ONE corpus scan → (type, hour) hash agg
    // (map-side combine; output is calendar-bounded, corpus-size-
    // independent); the ×3-lag fan-out and self-join run on that
    // model-sized series — broadcast-able forever. Linear at any scale.
    GQ(
      "q_time_acf",
      (s, d) => {
        val NanosPerHour = 3600L * 1000 * 1000 * 1000
        val hourly = graft.Caches.persist(
          Tables.events(s, d)
            .groupBy(col("event_type"), expr(s"ts DIV $NanosPerHour").as("h"))
            .agg(count(lit(1)).as("c")))
        val x = hourly.select(col("event_type"), col("h"), col("c").as("x"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("lag"))
        val y = hourly.select(col("event_type").as("et2"),
          col("h").as("h2"), col("c").as("y"))
        val m = x.join(y, col("event_type") === col("et2") &&
            col("h2") === col("h") - col("lag"))
          .groupBy(col("event_type"), col("lag"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
        val nD = col("n").cast(DoubleType)
        def dbl(c: String) = col(c).cast(DoubleType)
        val covN = nD * dbl("sxy") - dbl("sx") * dbl("sy")
        val varX = nD * dbl("sxx") - dbl("sx") * dbl("sx")
        val varY = nD * dbl("syy") - dbl("sy") * dbl("sy")
        m.select(col("event_type"), col("lag"), col("n").as("n_pairs"),
            when(varX > 0 && varY > 0,
              graft.functions.vec.roundz(covN / sqrt(varX * varY), 6))
              .as("acf"))
          .orderBy(col("event_type"), col("lag"))
      },
      Some("""WITH hourly AS (SELECT event_type,
             |    epoch_ns(ts) // 3600000000000 AS h, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT a.event_type, l.lag, COUNT(*) AS n,
             |    CAST(SUM(a.c) AS DOUBLE) AS sx,
             |    CAST(SUM(b.c) AS DOUBLE) AS sy,
             |    CAST(SUM(a.c * b.c) AS DOUBLE) AS sxy,
             |    CAST(SUM(a.c * a.c) AS DOUBLE) AS sxx,
             |    CAST(SUM(b.c * b.c) AS DOUBLE) AS syy
             |  FROM hourly a
             |  CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (2), (3)) l(lag)
             |  JOIN hourly b ON b.event_type = a.event_type
             |    AND b.h = a.h - l.lag
             |  GROUP BY 1, 2)
             |SELECT event_type, lag, n AS n_pairs,
             |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
             |        AND CAST(n AS DOUBLE) * syy - sy * sy > 0
             |    THEN (ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             |      / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
             |            * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0.0)
             |  END AS acf
             |FROM m ORDER BY event_type, lag""".stripMargin)
    ),
    // Chi-squared contingency audit: o_orderpriority × o_orderstatus
    // (round 5) — the categorical-independence screen (Pearson 1900) a
    // data-quality pipeline runs to catch feed drift between two
    // dimensions (a status that suddenly skews toward one priority).
    // Emits the per-cell χ² contribution (o−e)²/e in the algebraically
    // exact form (o·N − r·c)² / (r·c·N); the caller sums cells and reads
    // the χ² table — emitting the sum would put an FP accumulation
    // order in the contract (the q_dq_benford expected-law precedent).
    //
    // Determinism: o, r, c, N are exact BIGINT counts; the numerator
    // widens EXPLICITLY to DECIMAL(38,0) vs HUGEINT BEFORE the first
    // multiply (R10 — diff² ≤ N⁴ passes 2^63 already at ~55k rows, i.e.
    // at bench scale; N⁴ stays under both engines' 128-bit ceilings to
    // N ≈ 3·10⁹ rows, beyond which the margins pre-scale), the
    // denominator likewise;
    // the contribution is ONE IEEE division of two correctly-rounded
    // casts, ROUND(6) (never negative, so no R8 clause). ORDER BY the
    // (priority, status) cell key (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → hash agg to the
    // |priorities|×|statuses|-bounded cell relation; margins are three
    // window sums OVER THAT TINY RELATION (not the corpus); everything
    // after the first agg is model-sized forever.
    GQ(
      "q_stats_chisq",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // persisted: the cell relation feeds the margins AND the 1-row
        // grand total (the total was a global window — banned round 6)
        val cells = graft.Caches.persist(Tables.t(s, d, "orders")
          .groupBy(col("o_orderpriority").as("p"), col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("o")))
        val wide = DecimalType(38, 0)
        val tot = cells.agg(sum(col("o")).as("nn"))
        val m = cells
          .withColumn("rp", sum(col("o")).over(Window.partitionBy(col("p"))))
          .withColumn("cs", sum(col("o")).over(Window.partitionBy(col("st"))))
          .crossJoin(broadcast(tot))
        val diff = col("o").cast(wide) * col("nn") -
          col("rp").cast(wide) * col("cs")
        val denom = col("rp").cast(wide) * col("cs") * col("nn")
        m.select(col("p"), col("st"), col("o"),
            round((diff * diff).cast(DoubleType) / denom.cast(DoubleType), 6)
              .as("chi2_part"))
          .orderBy(col("p"), col("st"))
      },
      Some("""WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus AS st,
             |    COUNT(*) AS o FROM orders GROUP BY 1, 2),
             |m AS (SELECT p, st, o,
             |    SUM(o) OVER (PARTITION BY p) AS rp,
             |    SUM(o) OVER (PARTITION BY st) AS cs,
             |    SUM(o) OVER () AS nn
             |  FROM cells),
             |d AS (SELECT p, st, o,
             |    CAST(o AS HUGEINT) * nn - CAST(rp AS HUGEINT) * cs AS df,
             |    CAST(rp AS HUGEINT) * cs * nn AS dn
             |  FROM m)
             |SELECT p, st, o,
             |  ROUND(CAST(df * df AS DOUBLE) / CAST(dn AS DOUBLE), 6)
             |    AS chi2_part
             |FROM d ORDER BY p, st""".stripMargin)
    ),
    // Welch's two-sample t statistic between every pair of order
    // statuses on o_totalprice (round 5) — the difference-of-means screen
    // (Welch 1947) run beside q_stats_chisq's independence test: the A/B
    // comparison every experimentation/drift pipeline computes. Emits the
    // t statistic per status pair; the caller reads the t table (the
    // q_dq_benford rule — no transcendental CDF in the contract).
    //
    // Determinism (R2/R7): per-group moments are exact decimal sums cast
    // once to DOUBLE; mean/variance/t is ONE fixed IEEE tree — sample
    // variance v = (Sxx − Sx²/n)/(n−1), se = sqrt(v1/n1 + v2/n2)
    // (correctly-rounded IEEE sqrt) — mirrored token for token in the
    // oracle; roundz(6) + R8 (t is signed). A group with n < 2 has no
    // sample variance: its pairs emit NULL by contract (fixture-pinned —
    // MiniData's P status has one order). ORDER BY the pair key (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → |statuses|-row moment agg;
    // the pair self-join and the t tree run on that model-sized relation.
    GQ(
      "q_stats_ttest",
      (s, d) => {
        val m = Tables.t(s, d, "orders")
          .groupBy(col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("n"),
            sum(C.dec2(col("o_totalprice"))).cast(DoubleType).as("sx"),
            sum(C.dec2(col("o_totalprice")) * C.dec2(col("o_totalprice")))
              .cast(DoubleType).as("sxx"))
        val a = m.select(col("st").as("st1"), col("n").as("n1"),
          col("sx").as("sx1"), col("sxx").as("sxx1"))
        val b = m.select(col("st").as("st2"), col("n").as("n2"),
          col("sx").as("sx2"), col("sxx").as("sxx2"))
        def nD(c: String) = col(c).cast(DoubleType)
        val v1 = (col("sxx1") - col("sx1") * col("sx1") / nD("n1")) /
          (nD("n1") - 1.0)
        val v2 = (col("sxx2") - col("sx2") * col("sx2") / nD("n2")) /
          (nD("n2") - 1.0)
        val t = (col("sx1") / nD("n1") - col("sx2") / nD("n2")) /
          sqrt(v1 / nD("n1") + v2 / nD("n2"))
        a.join(b, col("st1") < col("st2"))
          .select(col("st1"), col("st2"), col("n1"), col("n2"),
            when(col("n1") > 1 && col("n2") > 1,
              graft.functions.vec.roundz(t, 6)).as("t_welch"))
          .orderBy(col("st1"), col("st2"))
      },
      Some("""WITH m AS (SELECT o_orderstatus AS st, COUNT(*) AS n,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |      AS sx,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
             |      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
             |  FROM orders GROUP BY 1)
             |SELECT a.st AS st1, b.st AS st2, a.n AS n1, b.n AS n2,
             |  CASE WHEN a.n > 1 AND b.n > 1 THEN
             |    (ROUND((a.sx / CAST(a.n AS DOUBLE) - b.sx / CAST(b.n AS DOUBLE))
             |      / sqrt(((a.sxx - a.sx * a.sx / CAST(a.n AS DOUBLE))
             |            / (CAST(a.n AS DOUBLE) - 1.0)) / CAST(a.n AS DOUBLE)
             |          + ((b.sxx - b.sx * b.sx / CAST(b.n AS DOUBLE))
             |            / (CAST(b.n AS DOUBLE) - 1.0)) / CAST(b.n AS DOUBLE)),
             |      6) + 0.0)
             |  END AS t_welch
             |FROM m a JOIN m b ON a.st < b.st
             |ORDER BY st1, st2""".stripMargin)
    ),
    // Theil–Sen robust trend of the daily event-count series (round 5) —
    // the median of all pairwise slopes (Theil 1950, Sen 1968): immune to
    // up to ~29% outlier days, the robust complement of q_stats_linreg's
    // OLS (one anomalous day drags OLS arbitrarily; it moves one slope
    // among C(n,2) here). The intercept is the median residual under the
    // chosen slope (the standard estimator).
    //
    // Determinism: day/count are exact integers; each pairwise slope is
    // ONE IEEE division of two exact ints (identical doubles in both
    // engines); the medians are percentile_disc(0.5) — an ELEMENT of the
    // slope multiset under the pinned cume_dist ≥ p convention, never an
    // interpolation — so the output is bit-stable end to end. ONE SQL
    // text serves both engines (the RfmSql pattern).
    //
    // Plan shape (100 TB): ONE corpus scan → day-keyed hash agg (output
    // CALENDAR-bounded); the pair self-join is |days|² on that
    // model-sized series — 10 years of days is ~3.7k rows, 6.7M pairs,
    // broadcast-able forever; the medians aggregate that bounded set.
    GQ(
      "q_time_theilsen",
      (s, d) => {
        // persist the calendar-bounded day agg and point the shared math
        // at it as a view — the daily CTE's four references then read the
        // cached relation instead of re-scanning the corpus four times
        graft.Caches.persist(
          Tables.events(s, d)
            .select(expr("ts DIV 86400000000000").as("day"))
            .groupBy(col("day")).agg(count(lit(1)).as("c")))
          .createOrReplaceTempView("graft_theilsen_daily")
        s.sql(TheilSenMath("graft_theilsen_daily"))
      },
      Some(TheilSenSql("events", "epoch_ns(ts) // 86400000000000"))
    ),
    // Pearson correlation matrix over lineitem's numeric columns
    // (round 5) — the one-pass profiling classic: all six pairwise
    // correlations among {quantity, extendedprice, discount, tax} from a
    // SINGLE scan carrying 14 exact decimal moments (4 sums, 4 squares,
    // 6 cross-products). The q_stats_linreg scheme widened to a matrix:
    // each r is the five-moment IEEE tree, the moments are
    // order-independent decimal sums, and the column/pair lists are
    // GENERATED from one Seq on both sides (CorrCols → the Spark aggs
    // AND the oracle SQL — anti-drift).
    //
    // Determinism: R2 decimal moments → one cast each → ONE fixed IEEE
    // tree per pair with correctly-rounded sqrt, roundz(6) + R8
    // (r is signed); zero-variance columns yield NULL by contract.
    // ORDER BY the (col_a, col_b) pair key (R1).
    //
    // Plan shape (100 TB): ONE scan → 1-row agg (map-side partials carry
    // the 14 decimals); the 6 output rows are projections of that 1-row
    // relation. Nothing else moves — linear at any corpus size.
    GQ(
      "q_stats_corrmat",
      (s, d) => {
        val li = Tables.t(s, d, "lineitem")
        val aggs = count(lit(1)).as("n") +:
          (CorrCols.map(c =>
            sum(C.dec2(col(c))).cast(DoubleType).as(s"s_$c")) ++
            (for (a <- CorrCols; b <- CorrCols if a <= b) yield
              sum(C.dec2(col(a)) * C.dec2(col(b))).cast(DoubleType)
                .as(s"s_${a}_$b")))
        // persisted: the 1-row moment relation projects into all six pair
        // rows — without it each union branch re-scans the corpus (the
        // RegistrySpec scan-budget sweep gates it; runtime exchange reuse
        // masked it at test scale)
        val m = graft.Caches.persist(li.agg(aggs.head, aggs.tail: _*))
        val nD = col("n").cast(DoubleType)
        val rows = for (a <- CorrCols; b <- CorrCols if a < b) yield {
          val cov = nD * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")
          val va = nD * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a")
          val vb = nD * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b")
          m.select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
            when(va > 0 && vb > 0,
              graft.functions.vec.roundz(cov / sqrt(va * vb), 6))
              .as("pearson_r"))
        }
        rows.reduce(_ unionByName _).orderBy(col("col_a"), col("col_b"))
      },
      Some(corrMatSql)
    ),
    // Day-of-week seasonality profile (round 5) — the calendar
    // decomposition read before q_time_seasonal picks its lag: per
    // (event type, weekday) the event count and its share of the type's
    // total. A flat profile says the weekly lag is noise; a humped one
    // says lag-7 forecasting (q_time_seasonal) has signal.
    //
    // Determinism: weekday = (epoch_day + 4) mod 7 in exact integer
    // arithmetic (1970-01-01 was a Thursday; 0 = Sunday) — identical
    // `%` on non-negative BIGINTs in both engines, R5 nanos basis; the
    // share is ONE IEEE division (R7). ORDER BY (type, dow) (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → (type, dow) hash agg
    // (≤ 7·|types| rows out, map-side combine); the share joins the
    // |types|-row totals back broadcast. Nothing else moves.
    GQ(
      "q_time_weekday_profile",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byDow = Tables.events(s, d)
          .select(col("event_type"),
            expr("((ts DIV 86400000000000) + 4) % 7").as("dow"))
          .groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("cnt"))
        byDow
          .withColumn("tot",
            sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
          .select(col("event_type"), col("dow"), col("cnt"),
            (col("cnt").cast(DoubleType) / col("tot").cast(DoubleType))
              .as("share"))
          .orderBy(col("event_type"), col("dow"))
      },
      Some("""WITH b AS (SELECT event_type,
             |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
             |    COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, dow, cnt,
             |  CAST(cnt AS DOUBLE)
             |    / CAST(SUM(cnt) OVER (PARTITION BY event_type) AS DOUBLE)
             |    AS share
             |FROM b ORDER BY event_type, dow""".stripMargin)
    ),
    // Distribution-shape moments (round 5) — population skewness and
    // excess kurtosis of l_extendedprice per returnflag, the two shape
    // statistics q_agg_stats' mean/variance miss: skew flags asymmetric
    // drift (a fatter right tail of prices), kurtosis flags outlier
    // proneness — both standard feed-drift monitors next to q_dq_drift's
    // categorical test.
    //
    // Determinism (R2/R7/R10): the value is converted ONCE to exact
    // integer CENTS (via DECIMAL(18,2)·100 — never a double multiply),
    // widened to DECIMAL(38,0)/HUGEINT, and the FOUR power sums
    // accumulate as exact integers (cents⁴ ≈ 10²⁸ × 6·10⁵ rows ≈ 10³⁴ —
    // inside both 128-bit ceilings; decimal-scale power sums are
    // REJECTED because Spark's precision-loss rule trims the x⁴ product
    // from scale 8 to 6 while DuckDB keeps scale 8 — a silent
    // cross-engine divergence). Each sum casts once to DOUBLE and
    // de-scales by the exact power of 100, then ONE fixed IEEE tree per
    // statistic via the raw-moment identities m₂ = S₂/n − μ²,
    // m₃ = S₃/n − 3μS₂/n + 2μ³, m₄ = S₄/n − 4μS₃/n + 6μ²S₂/n − 3μ⁴,
    // skew = m₃/(m₂·sqrt(m₂)), kurt = m₄/m₂² − 3 — correctly-rounded
    // sqrt, roundz(6) + R8 (both signed); zero variance → NULL. ORDER BY
    // the group key (R1).
    //
    // Plan shape (100 TB): ONE scan → 3-row hash agg carrying four
    // integer partials; the moment trees run on the 3-row relation.
    GQ(
      "q_stats_moments",
      (s, d) => {
        val wide = DecimalType(38, 0)
        val cents = (C.dec2(col("l_extendedprice")) * 100)
          .cast(LongType).cast(wide)
        val m = Tables.t(s, d, "lineitem")
          .select(col("l_returnflag"), cents.as("c"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            (sum(col("c")).cast(DoubleType) / 1e2).as("s1"),
            (sum(col("c") * col("c")).cast(DoubleType) / 1e4).as("s2"),
            (sum(col("c") * col("c") * col("c")).cast(DoubleType) / 1e6)
              .as("s3"),
            (sum(col("c") * col("c") * col("c") * col("c"))
              .cast(DoubleType) / 1e8).as("s4"))
        val nD = col("n").cast(DoubleType)
        val mu = col("s1") / nD
        val m2 = col("s2") / nD - mu * mu
        val m3 = col("s3") / nD - lit(3.0) * mu * col("s2") / nD +
          lit(2.0) * mu * mu * mu
        val m4 = col("s4") / nD - lit(4.0) * mu * col("s3") / nD +
          lit(6.0) * mu * mu * col("s2") / nD - lit(3.0) * mu * mu * mu * mu
        m.select(col("l_returnflag"), col("n"),
            graft.functions.vec.roundz(mu, 6).as("mean"),
            when(m2 > 0, graft.functions.vec.roundz(m3 / (m2 * sqrt(m2)), 6))
              .as("skewness"),
            when(m2 > 0, graft.functions.vec.roundz(m4 / (m2 * m2) - 3.0, 6))
              .as("kurtosis_excess"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH ce AS (SELECT l_returnflag,
             |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS HUGEINT) AS c
             |  FROM lineitem),
             |m AS (SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(c) AS DOUBLE) / 1e2 AS s1,
             |    CAST(SUM(c * c) AS DOUBLE) / 1e4 AS s2,
             |    CAST(SUM(c * c * c) AS DOUBLE) / 1e6 AS s3,
             |    CAST(SUM(c * c * c * c) AS DOUBLE) / 1e8 AS s4
             |  FROM ce GROUP BY 1),
             |c AS (SELECT l_returnflag, n,
             |    s1 / CAST(n AS DOUBLE) AS mu,
             |    s2 / CAST(n AS DOUBLE)
             |      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m2,
             |    s3 / CAST(n AS DOUBLE)
             |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * s2 / CAST(n AS DOUBLE)
             |      + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |        * (s1 / CAST(n AS DOUBLE)) AS m3,
             |    s4 / CAST(n AS DOUBLE)
             |      - 4.0 * (s1 / CAST(n AS DOUBLE)) * s3 / CAST(n AS DOUBLE)
             |      + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |        * s2 / CAST(n AS DOUBLE)
             |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
             |        * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m4
             |  FROM m)
             |SELECT l_returnflag, n, (ROUND(mu, 6) + 0.0) AS mean,
             |  CASE WHEN m2 > 0
             |    THEN (ROUND(m3 / (m2 * sqrt(m2)), 6) + 0.0) END AS skewness,
             |  CASE WHEN m2 > 0
             |    THEN (ROUND(m4 / (m2 * m2) - 3.0, 6) + 0.0) END
             |    AS kurtosis_excess
             |FROM c ORDER BY l_returnflag""".stripMargin)
    ),
    // Two-sample Kolmogorov–Smirnov drift test (round 5) — the
    // distribution-FREE complement of the parametric screens: q_stats_chisq
    // tests categorical independence, q_stats_ttest compares means,
    // q_stats_moments summarizes shape; KS compares the WHOLE empirical
    // CDF (sup-norm distance) of o_totalprice between every pair of order
    // statuses, catching drift that leaves the mean untouched (variance
    // swaps, bimodality, truncation). The caller reads the K-alpha table —
    // no transcendental CDF in the contract (the q_dq_benford rule).
    //
    // Determinism: D's supremum is decided on EXACT INTEGERS — the value
    // converts once to cents (the q_stats_moments conversion), per-pair
    // pooled cumulative counts k1, k2 come from a window whose ORDER BY c
    // is total (c is unique within the pair partition after the pooled
    // agg — the R1 window rule), and the numerator |k1·n2 − k2·n1| widens
    // to DECIMAL(38,0)/HUGEINT BEFORE the multiply (R10 — k·n passes 2^63
    // once both pair members exceed ~3·10⁹ rows). The argmax location
    // ks_at_cents is MIN(c) among maximizers — an exact-integer tie-break.
    // Only the FINAL display value divides: ONE IEEE division of two
    // correctly-rounded casts (R7), roundz(6) + R8.
    //
    // Plan shape (100 TB): ONE corpus scan → (status, cents) hash agg
    // (map-side combine; output bounded by |statuses| × |price domain|,
    // corpus-independent); the 3-row pair relation explodes to 6 member
    // rows and broadcast-joins the domain-bounded counts; the cumulative
    // window partitions by pair. The per-pair cumsum is the documented
    // limit: one partition holds a pair's pooled domain (≤ 2·|domain|
    // rows) — at a wider domain, range-partitioned two-pass prefix sums
    // slot in without changing the contract.
    GQ(
      "q_stats_ks",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wide = DecimalType(38, 0)
        val cents = (C.dec2(col("o_totalprice")) * 100).cast(LongType)
        // persisted: the domain-bounded counts feed n, members, and the
        // pooled join — without it the corpus scans three times
        val v = graft.Caches.persist(Tables.t(s, d, "orders")
          .select(col("o_orderstatus").as("st"), cents.as("c"))
          .groupBy(col("st"), col("c")).agg(count(lit(1)).as("cnt")))
        val n = v.groupBy(col("st")).agg(sum(col("cnt")).as("n"))
        val pairs = n.as("a").join(n.as("b"), col("a.st") < col("b.st"))
          .select(col("a.st").as("st1"), col("b.st").as("st2"),
            col("a.n").as("n1"), col("b.n").as("n2"))
        val members = pairs.select(col("st1"), col("st2"), col("n1"),
          col("n2"), explode(array(col("st1"), col("st2"))).as("st"))
        val pooled = members.join(v, "st")
          .groupBy(col("st1"), col("st2"), col("n1"), col("n2"), col("c"))
          .agg(
            sum(when(col("st") === col("st1"), col("cnt")).otherwise(0L))
              .as("c1"),
            sum(when(col("st") === col("st2"), col("cnt")).otherwise(0L))
              .as("c2"))
        val cumW = Window.partitionBy(col("st1"), col("st2"))
          .orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = pooled.select(col("st1"), col("st2"), col("n1"),
          col("n2"), col("c"),
          abs(sum(col("c1")).over(cumW).cast(wide) * col("n2") -
            sum(col("c2")).over(cumW).cast(wide) * col("n1")).as("dnum"))
        val maxW = Window.partitionBy(col("st1"), col("st2"))
        cum.withColumn("dmax", max(col("dnum")).over(maxW))
          .filter(col("dnum") === col("dmax"))
          .groupBy(col("st1"), col("st2"), col("n1"), col("n2"), col("dmax"))
          .agg(min(col("c")).as("ks_at_cents"))
          .select(col("st1"), col("st2"), col("n1"), col("n2"),
            graft.functions.vec.roundz(
              col("dmax").cast(DoubleType) /
                (col("n1").cast(DoubleType) * col("n2").cast(DoubleType)),
              6).as("d_stat"),
            col("ks_at_cents"))
          .orderBy(col("st1"), col("st2"))
      },
      Some("""WITH v AS (SELECT o_orderstatus AS st,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS c,
             |    COUNT(*) AS cnt FROM orders GROUP BY 1, 2),
             |n AS (SELECT st, CAST(SUM(cnt) AS BIGINT) AS n
             |  FROM v GROUP BY 1),
             |p AS (SELECT a.st AS st1, b.st AS st2, a.n AS n1, b.n AS n2
             |  FROM n a JOIN n b ON a.st < b.st),
             |pooled AS (SELECT p.st1, p.st2, p.n1, p.n2, v.c,
             |    CAST(SUM(CASE WHEN v.st = p.st1 THEN v.cnt ELSE 0 END)
             |      AS BIGINT) AS c1,
             |    CAST(SUM(CASE WHEN v.st = p.st2 THEN v.cnt ELSE 0 END)
             |      AS BIGINT) AS c2
             |  FROM p JOIN v ON v.st = p.st1 OR v.st = p.st2
             |  GROUP BY 1, 2, 3, 4, 5),
             |cum AS (SELECT st1, st2, n1, n2, c,
             |    ABS(CAST(SUM(c1) OVER (PARTITION BY st1, st2 ORDER BY c
             |        ROWS UNBOUNDED PRECEDING) AS HUGEINT) * n2
             |      - CAST(SUM(c2) OVER (PARTITION BY st1, st2 ORDER BY c
             |        ROWS UNBOUNDED PRECEDING) AS HUGEINT) * n1) AS dnum
             |  FROM pooled),
             |mx AS (SELECT st1, st2, n1, n2, c, dnum,
             |    MAX(dnum) OVER (PARTITION BY st1, st2) AS dmax FROM cum)
             |SELECT st1, st2, n1, n2,
             |  (ROUND(CAST(dmax AS DOUBLE)
             |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) + 0.0)
             |    AS d_stat,
             |  MIN(c) AS ks_at_cents
             |FROM mx WHERE dnum = dmax
             |GROUP BY st1, st2, n1, n2, dmax
             |ORDER BY st1, st2""".stripMargin)
    ),
    // Mann–Whitney U / Wilcoxon rank-sum (round 5) — the RANK-based
    // two-sample screen beside q_stats_ttest's mean comparison and
    // q_stats_ks's sup-norm distance: U asks "how often does a random
    // draw from one group exceed one from the other", so a single outlier
    // order moves it by at most one rank where it drags the t statistic
    // arbitrarily — the robust A/B test. Per status pair on o_totalprice:
    // exact U₁ plus the tie-corrected normal approximation z; the caller
    // reads the normal table (the q_dq_benford rule).
    //
    // Determinism: midranks stay EXACT INTEGERS by doubling — for a
    // pooled value with group counts (c1, c2), t = c1+c2 and 2·avgrank =
    // 2·cum_before + t + 1, so 2R₁ = Σ c1·(2·cb + t + 1) accumulates as
    // exact integers, widened to DECIMAL(38,0)/HUGEINT BEFORE the
    // multiply (R10 — c·cum is O(n²)); 2U₁ = 2R₁ − n1(n1+1); the tie
    // term Σ(t³ − t) widens the same way (t³ passes 2^63 at t ≈ 2·10⁶).
    // u1 = 2U₁/2 is a division by two — EXACT in IEEE, no rounding
    // needed; z is ONE fixed mirrored tree over the exact casts with
    // correctly-rounded sqrt — z = (U₁ − n1n2/2)/sqrt(n1n2·((N³−N) −
    // Σ(t³−t))/(12·N·(N−1))) — roundz(6)+R8 (signed); all-tied pairs
    // (variance 0) emit NULL z by contract. ORDER BY the pair key (R1).
    //
    // Plan shape (100 TB): the same scaffold as q_stats_ks — ONE corpus
    // scan → (status, cents) hash agg persisted (domain-bounded), pair
    // explode + broadcast join, per-pair cumulative window on the
    // domain-bounded relation → 3-row pair agg carrying two wide-integer
    // partials; the z tree runs on the 3-row relation.
    GQ(
      "q_stats_mannwhitney",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wide = DecimalType(38, 0)
        val cents = (C.dec2(col("o_totalprice")) * 100).cast(LongType)
        val v = graft.Caches.persist(Tables.t(s, d, "orders")
          .select(col("o_orderstatus").as("st"), cents.as("c"))
          .groupBy(col("st"), col("c")).agg(count(lit(1)).as("cnt")))
        val n = v.groupBy(col("st")).agg(sum(col("cnt")).as("n"))
        val pairs = n.as("a").join(n.as("b"), col("a.st") < col("b.st"))
          .select(col("a.st").as("st1"), col("b.st").as("st2"),
            col("a.n").as("n1"), col("b.n").as("n2"))
        val members = pairs.select(col("st1"), col("st2"), col("n1"),
          col("n2"), explode(array(col("st1"), col("st2"))).as("st"))
        val pooled = members.join(v, "st")
          .groupBy(col("st1"), col("st2"), col("n1"), col("n2"), col("c"))
          .agg(
            sum(when(col("st") === col("st1"), col("cnt")).otherwise(0L))
              .as("c1"),
            sum(when(col("st") === col("st2"), col("cnt")).otherwise(0L))
              .as("c2"))
        val cumW = Window.partitionBy(col("st1"), col("st2"))
          .orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withCum = pooled
          .withColumn("t", col("c1") + col("c2"))
          .withColumn("cb", sum(col("t")).over(cumW) - col("t"))
        val agg = withCum
          .groupBy(col("st1"), col("st2"), col("n1"), col("n2"))
          .agg(
            sum(col("c1").cast(wide) *
              (col("cb") * 2 + col("t") + 1).cast(wide)).as("r2x"),
            sum(col("t").cast(wide) * col("t") * col("t") -
              col("t").cast(wide)).as("tie"))
        val u2x = (col("r2x") -
          col("n1").cast(wide) * (col("n1") + 1)).cast(DoubleType)
        val aD = (col("n1").cast(wide) * col("n2")).cast(DoubleType)
        val nD = (col("n1") + col("n2")).cast(DoubleType)
        val vr = aD * ((nD * nD * nD - nD) - col("tie").cast(DoubleType)) /
          (lit(12.0) * nD * (nD - 1.0))
        agg.select(col("st1"), col("st2"), col("n1"), col("n2"),
            (u2x / 2.0).as("u1"),
            when(vr > 0,
              graft.functions.vec.roundz((u2x - aD) / 2.0 / sqrt(vr), 6))
              .as("z"))
          .orderBy(col("st1"), col("st2"))
      },
      Some("""WITH v AS (SELECT o_orderstatus AS st,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS c,
             |    COUNT(*) AS cnt FROM orders GROUP BY 1, 2),
             |n AS (SELECT st, CAST(SUM(cnt) AS BIGINT) AS n
             |  FROM v GROUP BY 1),
             |p AS (SELECT a.st AS st1, b.st AS st2, a.n AS n1, b.n AS n2
             |  FROM n a JOIN n b ON a.st < b.st),
             |pooled AS (SELECT p.st1, p.st2, p.n1, p.n2, v.c,
             |    CAST(SUM(CASE WHEN v.st = p.st1 THEN v.cnt ELSE 0 END)
             |      AS BIGINT) AS c1,
             |    CAST(SUM(CASE WHEN v.st = p.st2 THEN v.cnt ELSE 0 END)
             |      AS BIGINT) AS c2
             |  FROM p JOIN v ON v.st = p.st1 OR v.st = p.st2
             |  GROUP BY 1, 2, 3, 4, 5),
             |w AS (SELECT st1, st2, n1, n2, c, c1, c1 + c2 AS t,
             |    SUM(c1 + c2) OVER (PARTITION BY st1, st2 ORDER BY c
             |      ROWS UNBOUNDED PRECEDING) - (c1 + c2) AS cb
             |  FROM pooled),
             |a AS (SELECT st1, st2, n1, n2,
             |    SUM(CAST(c1 AS HUGEINT) * CAST(cb * 2 + t + 1 AS HUGEINT))
             |      AS r2x,
             |    SUM(CAST(t AS HUGEINT) * t * t - CAST(t AS HUGEINT))
             |      AS tie
             |  FROM w GROUP BY 1, 2, 3, 4),
             |f AS (SELECT st1, st2, n1, n2,
             |    CAST(r2x - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
             |      AS u2x,
             |    CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) AS ad,
             |    CAST(n1 + n2 AS DOUBLE) AS nd,
             |    CAST(tie AS DOUBLE) AS tied
             |  FROM a),
             |g AS (SELECT st1, st2, n1, n2, u2x, ad,
             |    ad * ((nd * nd * nd - nd) - tied) / (12.0 * nd * (nd - 1.0))
             |      AS vr
             |  FROM f)
             |SELECT st1, st2, n1, n2, u2x / 2.0 AS u1,
             |  CASE WHEN vr > 0
             |    THEN (ROUND((u2x - ad) / 2.0 / sqrt(vr), 6) + 0.0) END AS z
             |FROM g ORDER BY st1, st2""".stripMargin)
    ),
    // Deterministic half-sample bootstrap CI for the mean (round 5) —
    // the uncertainty quantification the point-estimate screens lack:
    // every parallel-data system wants "mean ± what?" without a closed
    // form, and rand()-seeded resampling is banned by the determinism
    // contract. Scheme: 60 HALF-SAMPLE replicates indexed by the bits of
    // h60('boot:' || orderkey) — replicate b keeps rows whose b-th hash
    // bit is set, giving 60 pseudo-independent ~n/2 subsamples from ONE
    // hash evaluation per row (Politis–Romano subsampling; the
    // map-reduce-era Poisson-bootstrap idea with the randomness replaced
    // by the same scan-side hash gate q_sample_stratified uses). The CI
    // envelope is the 5th/95th percentile_disc ELEMENT of the replicate
    // means — half-sample spread overstates the full-sample SE by ~√2,
    // a constant the CALLER rescales by (no transcendental in the
    // contract, the q_dq_benford rule).
    //
    // Determinism: per-replicate sums are exact decimals; each replicate
    // mean is ONE IEEE division (R7) — bit-stable doubles — and the CI
    // bounds are percentile_disc ELEMENTS of that 60-value multiset
    // (cume_dist ≥ p convention, never interpolated), so the envelope is
    // bit-stable end to end; roundz(6) + R8 for display. Empty
    // replicates (possible only on toy inputs — P ≈ 2^-n per bit) are
    // excluded by contract and n_reps reports the survivor count.
    //
    // Plan shape (100 TB): ONE corpus scan — the b = −1 pseudo-replicate
    // carries the full-sample stats through the SAME explode, so the
    // corpus is never touched twice; the 61-way explode inflates rows
    // before the hash agg but map-side combine collapses to 61 partial
    // groups per task (the q_agg_skew_salted shape); everything after
    // the agg is a 61-row relation.
    GQ(
      "q_stats_bootstrap",
      (s, d) => {
        val h = graft.XHash.h60(
          concat(lit("boot:"), col("o_orderkey").cast(StringType)))
        val reps = Tables.t(s, d, "orders")
          .select(C.dec2(col("o_totalprice")).as("v"), h.as("h"))
          .select(col("v"), col("h"),
            explode(sequence(lit(-1), lit(59))).as("b"))
          .filter(col("b") === -1 ||
            expr("(shiftright(h, b) & 1) = 1"))
        // persisted: the 61-row replicate relation feeds both the full
        // pseudo-replicate and the CI agg — without it the corpus scans twice
        val g = graft.Caches.persist(reps.groupBy(col("b"))
          .agg(count(lit(1)).as("nb"),
            sum(col("v")).cast(DoubleType).as("sb")))
        val full = g.filter(col("b") === -1)
          .select(col("nb").as("n"),
            (col("sb") / col("nb").cast(DoubleType)).as("mean_full"))
        val means = g.filter(col("b") >= 0 && col("nb") > 0)
          .select((col("sb") / col("nb").cast(DoubleType)).as("mean_b"))
        val ci = means.agg(count(lit(1)).as("n_reps"),
          expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY mean_b)")
            .as("lo"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY mean_b)")
            .as("hi"))
        full.crossJoin(ci)
          .select(col("n"),
            graft.functions.vec.roundz(col("mean_full"), 6).as("mean_full"),
            col("n_reps"),
            graft.functions.vec.roundz(col("lo"), 6).as("ci_lo"),
            graft.functions.vec.roundz(col("hi"), 6).as("ci_hi"))
      },
      Some(s"""WITH r AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             |    ${XHash.sqlH60("'boot:' || CAST(o_orderkey AS VARCHAR)")}
             |      AS h
             |  FROM orders),
             |e AS (SELECT v, h, b.b FROM r, generate_series(-1, 59) b(b)
             |  WHERE b.b = -1 OR ((h >> b.b) & 1) = 1),
             |g AS (SELECT b, COUNT(*) AS nb, CAST(SUM(v) AS DOUBLE) AS sb
             |  FROM e GROUP BY 1),
             |f AS (SELECT nb AS n, sb / CAST(nb AS DOUBLE) AS mean_full
             |  FROM g WHERE b = -1),
             |m AS (SELECT sb / CAST(nb AS DOUBLE) AS mean_b
             |  FROM g WHERE b >= 0 AND nb > 0),
             |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
             |    percentile_disc(0.05) WITHIN GROUP (ORDER BY mean_b) AS lo,
             |    percentile_disc(0.95) WITHIN GROUP (ORDER BY mean_b) AS hi
             |  FROM m)
             |SELECT f.n, (ROUND(f.mean_full, 6) + 0.0) AS mean_full,
             |  s.n_reps, (ROUND(s.lo, 6) + 0.0) AS ci_lo,
             |  (ROUND(s.hi, 6) + 0.0) AS ci_hi
             |FROM f, s""".stripMargin)
    ),
    // Poisson bootstrap CI (round 5) — the ONE-PASS bootstrap for data
    // that cannot be resampled with replacement at scale (Chamandy et
    // al. 2012, "Estimating Uncertainty for Massive Data Streams"):
    // instead of drawing n rows WITH replacement per replicate (which
    // needs global coordination), each row independently contributes
    // k ~ Poisson(1) COPIES to each replicate — for large n the
    // multinomial resample converges to this product measure, and the
    // weights are computable scan-side with no shuffle. This is the
    // full-sample-size sibling of q_stats_bootstrap's half-sample
    // subsampling: same CI convention, but the replicate means estimate
    // the TRUE bootstrap distribution (no √2 caller rescale).
    //
    // Determinism AND hash economy: md5 is the only cross-engine hash,
    // and it is EXPENSIVE — a per-(row, replicate) digest measured 29 s
    // at sf0.1 (the optimizer also inlines the digest into every
    // threshold comparison). So, like q_stats_bootstrap derives 60
    // replicates from the BITS of one digest, this derives 30 uniforms
    // from ONE digest per row via a multiplicative universal family
    // over GF(p), p = 2^31−1 (Carter–Wegman): hm = h60('pois:' || key)
    // mod p, u_b = (a_b · hm) mod p with a_b = ((b+1)·2654435761) mod p
    // — a_b ≠ 0 (product of nonzero residues mod a prime), each map
    // hm → u_b is a bijection of [0, p), and all products stay < 2^62,
    // exact BIGINT in both engines. k = inverse-CDF of Poisson(1) via
    // SIX FIXED INTEGER THRESHOLDS (floor(F(i)·p), generated once in
    // [[poisThresholds]] and printed into BOTH query texts; k capped at
    // 6, P(K>6) < 1e-4 — shared by construction). Per-replicate Σk and
    // Σk·v are exact integers/decimals; each replicate mean is ONE IEEE
    // division (R7); the CI bounds are percentile_disc ELEMENTS
    // (cume_dist ≥ p convention, never interpolated); roundz(6) + R8.
    //
    // Plan shape (100 TB): ONE corpus scan, ONE digest per row — the
    // 31-way explode (30 replicates + the b = −1 full pseudo-replicate
    // with k pinned to 1) inflates rows scan-side with integer-only
    // per-replicate math, map-side combine collapses to 31 partial
    // groups per task, and everything after the agg is a 31-row
    // relation. No shuffle ever exceeds 31 groups; replicate count is a
    // literal, so the shape is corpus-size-independent.
    GQ(
      "q_stats_poissonboot",
      (s, d) => {
        val p = (1L << 31) - 1
        val a = ((col("b") + 1) * lit(2654435761L)) % p
        val u = (a * col("hm")) % p
        val k = when(col("b") === -1, lit(1L)).otherwise(
          poisThresholds.map(t => when(col("u") >= t, 1L).otherwise(0L))
            .reduce(_ + _))
        val reps = Tables.t(s, d, "orders")
          .select(C.dec2(col("o_totalprice")).as("v"),
            (XHash.h60(concat(lit("pois:"),
              col("o_orderkey").cast(StringType))) % p).as("hm"))
          .select(col("v"), col("hm"),
            explode(sequence(lit(-1), lit(29))).as("b"))
          .withColumn("u", u)
          .withColumn("k", k)
          .filter(col("k") > 0)
        val g = graft.Caches.persist(reps.groupBy(col("b"))
          .agg(sum(col("k")).as("nb"),
            sum(col("k") * col("v")).cast(DoubleType).as("sb")))
        val full = g.filter(col("b") === -1)
          .select(col("nb").as("n"),
            (col("sb") / col("nb").cast(DoubleType)).as("mean_full"))
        val means = g.filter(col("b") >= 0)
          .select((col("sb") / col("nb").cast(DoubleType)).as("mean_b"))
        val ci = means.agg(count(lit(1)).as("n_reps"),
          expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY mean_b)")
            .as("lo"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY mean_b)")
            .as("hi"))
        full.crossJoin(ci)
          .select(col("n"),
            graft.functions.vec.roundz(col("mean_full"), 6).as("mean_full"),
            col("n_reps"),
            graft.functions.vec.roundz(col("lo"), 6).as("ci_lo"),
            graft.functions.vec.roundz(col("hi"), 6).as("ci_hi"))
      },
      Some {
        val p = (1L << 31) - 1
        val kSql = poisThresholds
          .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH r AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
           |    ${XHash.sqlH60("'pois:' || CAST(o_orderkey AS VARCHAR)")}
           |      % $p AS hm
           |  FROM orders),
           |x AS (SELECT v, b.b,
           |    ((((b.b + 1) * 2654435761) % $p) * hm) % $p AS u
           |  FROM r, generate_series(-1, 29) b(b)),
           |w AS (SELECT v, b, CASE WHEN b = -1 THEN 1
           |    ELSE $kSql END AS k FROM x),
           |g AS (SELECT b, CAST(SUM(k) AS BIGINT) AS nb,
           |    CAST(SUM(k * v) AS DOUBLE) AS sb
           |  FROM w WHERE k > 0 GROUP BY 1),
           |f AS (SELECT nb AS n, sb / CAST(nb AS DOUBLE) AS mean_full
           |  FROM g WHERE b = -1),
           |m AS (SELECT sb / CAST(nb AS DOUBLE) AS mean_b
           |  FROM g WHERE b >= 0),
           |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
           |    percentile_disc(0.05) WITHIN GROUP (ORDER BY mean_b) AS lo,
           |    percentile_disc(0.95) WITHIN GROUP (ORDER BY mean_b) AS hi
           |  FROM m)
           |SELECT f.n, (ROUND(f.mean_full, 6) + 0.0) AS mean_full,
           |  s.n_reps, (ROUND(s.lo, 6) + 0.0) AS ci_lo,
           |  (ROUND(s.hi, 6) + 0.0) AS ci_hi
           |FROM f, s""".stripMargin
      }
    )
  )

  /** Cumulative Poisson(1) CDF at scale p = 2^31−1, k = 0..5:
    * floor(F(k)·p), computed once so both engines compare the SAME
    * integer literals. k(u) = #{i : u ≥ T_i} ∈ {0..6}.
    */
  // lazy: referenced while `queries` initializes above (the Theil–Sen
  // comment's init-order trap — a plain val would still be null there)
  private[graft] lazy val poisThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    Iterator.iterate((e1, 0.0, 0)) { case (p, f, k) => (p / (k + 1), f + p, k + 1) }
      .drop(1).take(6)
      .map { case (_, f, _) => math.floor(f * ((1L << 31) - 1)).toLong }
      .toSeq
  }

  /** One Theil–Sen SQL text for both engines (anti-drift): only the table
    * name and the epoch-day expression differ.
    */
  // def, not val: it is referenced while `queries` initializes above, and
  // a val declared below that point would still be null at that moment
  private def CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount",
    "l_tax")

  /** One correlation-matrix SQL text — generated from [[CorrCols]] so the
    * moment list and the pair list cannot drift from the Spark side.
    */
  private def corrMatSql: String = {
    val moments = CorrCols.map(c =>
      s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS s_$c") ++
      (for (a <- CorrCols; b <- CorrCols if a <= b) yield
        s"""CAST(SUM(CAST($a AS DECIMAL(18,2))
           |      * CAST($b AS DECIMAL(18,2))) AS DOUBLE) AS s_${a}_$b""".stripMargin)
    val pairs = for (a <- CorrCols; b <- CorrCols if a < b) yield
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         |  CASE WHEN CAST(n AS DOUBLE) * s_${a}_$a - s_$a * s_$a > 0
         |        AND CAST(n AS DOUBLE) * s_${b}_$b - s_$b * s_$b > 0
         |    THEN (ROUND((CAST(n AS DOUBLE) * s_${a}_$b - s_$a * s_$b)
         |      / sqrt((CAST(n AS DOUBLE) * s_${a}_$a - s_$a * s_$a)
         |           * (CAST(n AS DOUBLE) * s_${b}_$b - s_$b * s_$b)), 6) + 0.0)
         |  END AS pearson_r
         |FROM m""".stripMargin
    s"""WITH m AS (SELECT COUNT(*) AS n,
       |    ${moments.mkString(",\n    ")}
       |  FROM lineitem)
       |${pairs.mkString("\nUNION ALL\n")}
       |ORDER BY col_a, col_b""".stripMargin
  }

  private def TheilSenSql(table: String, dayExpr: String): String =
    TheilSenMath(
      s"""(SELECT $dayExpr AS day, COUNT(*) AS c
         |  FROM $table GROUP BY 1) src""".stripMargin)

  /** The shared Theil–Sen math over any daily (day, c) source — split out
    * (round 5) so the Spark side can feed a PERSISTED day-agg view: the
    * `daily` CTE is referenced four times (both pair sides, the residual
    * median, the day count) and Spark inlines CTEs, so the single text
    * re-scanned the corpus four times (the RegistrySpec scan-budget sweep
    * gates it). The math tokens stay one string for both engines
    * (anti-drift).
    */
  private def TheilSenMath(dailySrc: String): String =
    s"""WITH daily AS (SELECT day, c FROM $dailySrc),
       |pr AS (SELECT CAST(b.c - a.c AS DOUBLE)
       |      / CAST(b.day - a.day AS DOUBLE) AS sl
       |  FROM daily a JOIN daily b ON b.day > a.day),
       |m AS (SELECT COUNT(*) AS n_pairs,
       |    percentile_disc(0.5) WITHIN GROUP (ORDER BY sl) AS slope
       |  FROM pr),
       |ic AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY
       |      CAST(c AS DOUBLE) - (SELECT slope FROM m) * CAST(day AS DOUBLE))
       |    AS icept FROM daily)
       |SELECT (SELECT COUNT(*) FROM daily) AS n_days, m.n_pairs,
       |  m.slope AS ts_slope, ic.icept AS ts_intercept
       |FROM m CROSS JOIN ic""".stripMargin

  /** One RFM SQL text for both engines (anti-drift): only the table name
    * and the epoch-day expression differ (Spark `DIV` on the normalized
    * nanos column vs DuckDB `//` on `epoch_ns`). percentile_disc WITHIN
    * GROUP parses identically in Spark ≥3.4 and DuckDB.
    */
  private def RfmSql(table: String, dayExpr: String): String = {
    val dims = Seq("rec" -> "rec_day", "frq" -> "freq", "mon" -> "mon")
    val cuts = dims.map { case (pfx, c) =>
      Seq(2, 4, 6, 8).map(p =>
        s"percentile_disc(0.$p) WITHIN GROUP (ORDER BY $c) AS $pfx$p")
        .mkString(",\n    ")
    }.mkString(",\n    ")
    def score(pfx: String, c: String) =
      Seq(2, 4, 6, 8).map(p =>
        s"CASE WHEN $c > $pfx$p THEN 1 ELSE 0 END").mkString(s"1 + ", " + ", "")
    s"""WITH u AS (SELECT user_id,
       |    MAX($dayExpr) AS rec_day,
       |    COUNT(*) AS freq,
       |    SUM(CAST(value AS DECIMAL(18,2))) AS mon
       |  FROM $table WHERE event_type = 'purchase' GROUP BY user_id),
       |b AS (SELECT
       |    $cuts
       |  FROM u),
       |sc AS (SELECT u.user_id, u.mon,
       |    CAST(${score("rec", "rec_day")} AS BIGINT) AS rq,
       |    CAST(${score("frq", "freq")} AS BIGINT) AS fq,
       |    CAST(${score("mon", "mon")} AS BIGINT) AS mq
       |  FROM u CROSS JOIN b)
       |SELECT rq, fq, mq, COUNT(*) AS users,
       |  CAST(SUM(mon) AS DOUBLE) AS mon_total
       |FROM sc GROUP BY rq, fq, mq ORDER BY rq, fq, mq""".stripMargin
  }
}
