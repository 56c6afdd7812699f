package graft.operators

import graft.{C, GQ, Tables}
import graft.functions.Log2Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality gates (round 4) — the Deequ/Great-Expectations-shaped
  * verification pass every production pipeline runs BEFORE training data
  * ships: key uniqueness, referential integrity, domain and range
  * constraints, null contracts. The reference implicitly assumes all of
  * these (its pandas `astype(str)` would happily persist garbage,
  * /root/reference/spotify-etl.py:211); here they are a declared,
  * oracle-checked report.
  */
object DataQuality {

  val queries: Seq[GQ] = Seq(
    // One row per check: (check, n_bad, passed). The per-table constraint
    // checks FUSE into a single aggregation pass per table (at 100 TB you
    // never scan a table twice to evaluate two column constraints); the
    // two referential checks are anti-join counts whose dimension side
    // broadcasts. Pure integer counts — no FP anywhere.
    GQ(
      "q_dq_checks",
      (s, d) => {
        val orders = Tables.t(s, d, "orders")
        val li = Tables.t(s, d, "lineitem")
        val cust = Tables.t(s, d, "customer")
        // single fused pass over orders: domain + PK-uniqueness inputs
        val ordersAgg = orders.agg(
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
            .otherwise(0L)).as("bad_status"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_pk"))
        val liAgg = li.agg(
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("bad_qty"))
        val custAgg = cust.agg(
          sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("null_bal"))
        val fkOrders = orders.select(col("o_custkey"))
          .join(broadcast(cust.select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphans"))
        val fkLineitem = li.select(col("l_orderkey")).distinct()
          .join(orders.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("orphans"))
        def row(name: String, from: DataFrame, c: String): DataFrame =
          from.select(lit(name).as("check_name"),
            coalesce(col(c), lit(0L)).cast(LongType).as("n_bad"))
        row("customer_acctbal_nonnull", custAgg, "null_bal")
          .union(row("lineitem_orderkey_fk", fkLineitem, "orphans"))
          .union(row("lineitem_qty_range", liAgg, "bad_qty"))
          .union(row("orders_custkey_fk", fkOrders, "orphans"))
          .union(row("orders_pk_unique", ordersAgg, "dup_pk"))
          .union(row("orders_status_domain", ordersAgg, "bad_status"))
          .withColumn("passed", col("n_bad") === 0L)
          .orderBy(col("check_name"))
      },
      Some("""WITH checks(check_name, n_bad) AS (
             |  SELECT 'customer_acctbal_nonnull',
             |    (SELECT COUNT(*) FROM customer WHERE c_acctbal IS NULL)
             |  UNION ALL SELECT 'lineitem_orderkey_fk',
             |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
             |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |  UNION ALL SELECT 'lineitem_qty_range',
             |    (SELECT COUNT(*) FROM lineitem
             |     WHERE l_quantity < 1 OR l_quantity > 50)
             |  UNION ALL SELECT 'orders_custkey_fk',
             |    (SELECT COUNT(*) FROM orders
             |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             |  UNION ALL SELECT 'orders_pk_unique',
             |    (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
             |  UNION ALL SELECT 'orders_status_domain',
             |    (SELECT COUNT(*) FROM orders
             |     WHERE o_orderstatus NOT IN ('F', 'O', 'P')))
             |SELECT check_name, CAST(n_bad AS BIGINT) AS n_bad, n_bad = 0 AS passed
             |FROM checks ORDER BY check_name""".stripMargin)
    ),
    // k-anonymity audit (k=5) over the documents quasi-identifier pair
    // (lang, source) — the privacy gate run before a corpus release: any
    // equivalence class smaller than k re-identifies its members by the
    // quasi-identifiers alone (Sweeney 2002). Emits every violating class
    // with its size plus one summary row ('__total__', distinct violating
    // classes, docs at risk) so the gate is both actionable (which
    // classes) and thresholdable (how bad).
    //
    // Plan shape (100 TB): ONE hash agg on the quasi-identifier key —
    // group count is bounded by the QI domain (langs × sources), so the
    // violating set and the summary are tiny whatever the corpus size.
    GQ(
      "q_dq_kanonymity",
      (s, d) => {
        val k = 5
        val classes = Tables.t(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("class_size"))
          .filter(col("class_size") < k)
        classes
          .select(col("lang"), col("source"), col("class_size"))
          .union(classes.agg(
            lit("__total__").as("lang"), lit("__total__").as("source"),
            coalesce(sum(col("class_size")), lit(0L)).as("class_size")))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH cl AS (SELECT lang, source, COUNT(*) AS class_size
             |  FROM documents GROUP BY lang, source
             |  HAVING COUNT(*) < 5)
             |SELECT lang, source, class_size FROM cl
             |UNION ALL
             |SELECT '__total__', '__total__',
             |  CAST(COALESCE(SUM(class_size), 0) AS BIGINT) FROM cl
             |ORDER BY lang, source""".stripMargin)
    ),
    // Distribution-drift detection (round 4, batch 11) — the chi-square
    // independence test over the (source × lang) contingency table, scored
    // per source: "does this source's language mix differ from the
    // corpus?" — the drift gate a pipeline runs between crawl snapshots
    // before retraining (data-shift monitoring; same statistic as
    // sklearn's chi2 feature selection).
    //
    // Determinism: observed counts are exact BIGINTs; each cell's term
    // (O−E)²/E with E = (ns·nl)/N is ONE fixed IEEE tree over exact-int
    // doubles (ns·nl < 2^53 up to ~10^8-doc corpora per side — overflow
    // budget documented), then QUANTIZED to integer billionths per cell
    // BEFORE the per-source sum — a BIGINT Σ is order-free, where an IEEE
    // Σ of cell doubles would depend on engine accumulation order (the
    // q_text_textrank scheme). FLOOR boundaries agree because the cell
    // double is bit-identical cross-engine by construction. Ties →
    // source (R1).
    //
    // Plan shape (100 TB): ONE corpus scan → (source, lang) hash agg
    // (|sources|·|langs|-bounded); marginals are two aggs + joins on that
    // tiny relation (AQE broadcasts); N is a 1-row broadcast. The corpus
    // never shuffles — only the contingency table moves.
    GQ(
      "q_dq_drift",
      (s, d) => {
        val cells = Tables.t(s, d, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("o"))
        val bySrc = cells.groupBy(col("source")).agg(sum(col("o")).as("ns"))
        val byLang = cells.groupBy(col("lang")).agg(sum(col("o")).as("nl"))
        val n = cells.agg(sum(col("o")).as("n"))
        // full |sources|×|langs| grid: a cell a source is MISSING entirely
        // (o = 0) still contributes (0−E)²/E — that absence IS the drift
        val term = {
          val e = (col("ns") * col("nl")).cast(DoubleType) /
            col("n").cast(DoubleType)
          val diff = col("o").cast(DoubleType) - e
          floor(diff * diff / e * lit(1000000000.0)).cast(LongType)
        }
        bySrc.crossJoin(byLang)
          .join(cells, Seq("source", "lang"), "left")
          .withColumn("o", coalesce(col("o"), lit(0L)))
          .crossJoin(broadcast(n))
          .select(col("source"), col("ns"), term.as("tq"))
          .groupBy(col("source"), col("ns"))
          .agg(sum(col("tq")).as("chi2_q9"),
            (count(lit(1)) - 1L).as("dof"))
          .select(col("source"), col("ns").as("n_docs"), col("dof"),
            col("chi2_q9"))
          .orderBy(col("chi2_q9").desc, col("source"))
      },
      Some("""WITH c AS (SELECT source, lang, COUNT(*) AS o
             |  FROM documents GROUP BY 1, 2),
             |ms AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ns
             |  FROM c GROUP BY 1),
             |ml AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS nl
             |  FROM c GROUP BY 1),
             |tt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
             |g AS (SELECT ms.source, ms.ns, ml.lang, ml.nl,
             |    COALESCE(c.o, 0) AS o
             |  FROM ms CROSS JOIN ml
             |  LEFT JOIN c ON c.source = ms.source AND c.lang = ml.lang),
             |t AS (SELECT g.source, g.ns,
             |    CAST(FLOOR(
             |      (CAST(g.o AS DOUBLE) -
             |        CAST(g.ns * g.nl AS DOUBLE) / CAST(tt.n AS DOUBLE))
             |      * (CAST(g.o AS DOUBLE) -
             |        CAST(g.ns * g.nl AS DOUBLE) / CAST(tt.n AS DOUBLE))
             |      / (CAST(g.ns * g.nl AS DOUBLE) / CAST(tt.n AS DOUBLE))
             |      * 1000000000.0) AS BIGINT) AS tq
             |  FROM g, tt)
             |SELECT source, ns AS n_docs,
             |  COUNT(*) - 1 AS dof, CAST(SUM(tq) AS BIGINT) AS chi2_q9
             |FROM t GROUP BY source, ns
             |ORDER BY chi2_q9 DESC, source""".stripMargin)
    ),
    // Per-column data profile (round 4) — the Deequ/profiling report every
    // ingest pipeline runs before writing quality GATES (q_dq_checks tests
    // rules you already know; the profile is how you learn them): for each
    // orders column, row count, null count, exact distinct cardinality,
    // and the completeness ratio. Emitting it long-form (one row per
    // column) is the stable report shape — columns arrive and leave, rows
    // of a fixed schema don't.
    //
    // Determinism: counts exact; completeness is ONE IEEE division of
    // exact ints (R7); fixed column order via the name sort (R1).
    //
    // Plan shape (100 TB): ONE corpus scan computing every per-column
    // aggregate in a single 1-row hash agg (count + conditional sums +
    // count_distincts fused by Spark's distinct-agg planner - one expand,
    // not a scan per column), then a constant 6-row unpivot of that row.
    // The expand multiplies rows by |distinct-agg columns| before the
    // combine — the documented cost of exact multi-column cardinality in
    // one pass; swap exact for the hll_distinct sketch (q_sketch_rollup)
    // when the profile runs on every ingest batch.
    GQ(
      "q_dq_profile",
      (s, d) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        val aggs = Seq(count(lit(1)).as("n_rows")) ++
          cols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
            count_distinct(col(c)).as(s"dist_$c")))
        val one = Tables.t(s, d, "orders").agg(aggs.head, aggs.tail: _*)
        val rows = cols.map(c =>
          struct(lit(c).as("column_name"), col(s"null_$c").as("n_null"),
            col(s"dist_$c").as("n_distinct")))
        one.select(col("n_rows"), explode(array(rows: _*)).as("p"))
          .select(col("p.column_name"), col("n_rows"),
            col("p.n_null").as("n_null"),
            col("p.n_distinct").as("n_distinct"),
            ((col("n_rows") - col("p.n_null")).cast(DoubleType) /
              col("n_rows").cast(DoubleType)).as("completeness"))
          .orderBy(col("column_name"))
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        val branches = cols.map(c =>
          s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(COUNT(*) - SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
             |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS completeness
             |FROM orders""".stripMargin)
        branches.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }
    ),
    // Benford first-significant-digit audit (round 5) — the classic
    // fraud/synthetic-data smell test: naturally-occurring amounts follow
    // log10(1+1/d) first-digit frequencies, and fabricated or truncated
    // feeds don't. One row per digit 1–9 with exact count and observed
    // fraction (ONE IEEE division of exact ints, R7); the expected-law
    // comparison is the caller's (log10 is transcendental — emitting it
    // would put FP-library bits in the contract, the R8 lesson). First
    // significant digit = first [1-9] in the decimal's plain string form
    // — identical in Spark and DuckDB for DECIMAL(18,2) (no scientific
    // notation, leading zeros only for sub-1 values, handled by scanning
    // to the first NONZERO digit).
    //
    // Plan shape (100 TB): scan-side digit projection → 9-group hash agg
    // → the total is a 1-row agg over the 9-row relation, broadcast back
    // (round 6: even a 9-row global window trips the unpartitioned-
    // WindowExec ban — the cross-join total is the same cost and keeps
    // the plan window-free). One corpus exchange of 9 partial rows per
    // task — nothing else moves.
    GQ(
      "q_dq_benford",
      (s, d) => {
        val digits = graft.Caches.persist(Tables.t(s, d, "orders")
          .select(regexp_extract(col("o_totalprice").cast(StringType),
            "[1-9]", 0).as("digit"))
          .filter(col("digit") =!= "")
          .groupBy(col("digit").cast(IntegerType).as("digit"))
          .agg(count(lit(1)).as("cnt")))
        val tot = digits.agg(sum(col("cnt")).as("tot"))
        digits.crossJoin(broadcast(tot))
          .withColumn("frac",
            col("cnt").cast(DoubleType) / col("tot").cast(DoubleType))
          .select(col("digit"), col("cnt"), col("frac"))
          .orderBy(col("digit"))
      },
      Some("""WITH dg AS (SELECT CAST(regexp_extract(
             |    CAST(o_totalprice AS VARCHAR), '[1-9]') AS INT) AS digit
             |  FROM orders
             |  WHERE regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]') <> ''),
             |c AS (SELECT digit, COUNT(*) AS cnt FROM dg GROUP BY digit)
             |SELECT digit, cnt,
             |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER () AS DOUBLE) AS frac
             |FROM c ORDER BY digit""".stripMargin)
    ),
    // l-diversity audit (l=3) over customers — the second Sweeney-line
    // privacy gate: k-anonymity (q_dq_kanonymity) bounds CLASS SIZE, but
    // a large class whose members all share one sensitive value still
    // leaks it (the "homogeneity attack"; Machanavajjhala 2007).
    // Quasi-identifiers (c_nationkey, c_mktsegment); sensitive attribute
    // = account-balance band (floor(acctbal/1000) on the exact 2-dp
    // decimal — banding is itself the standard sensitive-value
    // generalization). Emits every class with fewer than l distinct
    // bands (class size, distinct-band count) plus the '__total__'
    // members-at-risk summary row, mirroring the k-anonymity report.
    //
    // Determinism: banding is pure integer math on exact cents — and
    // because balances go NEGATIVE (min −999.85 in the driver data) and
    // Spark's `div` TRUNCATES toward zero where DuckDB's `//` FLOORS,
    // the band is computed on cents SHIFTED into the non-negative domain
    // (+10^6 cents = the TPC-H −10000.00 balance floor, documented
    // assumption), where the two semantics coincide: band =
    // (cents + 10^6) div 10^5 − 10. BIGINT counts; ties → QI key (R1).
    // The summary's nationkey slot is -1 (the QI is numeric; no string
    // sentinel available).
    //
    // Plan shape (100 TB): ONE scan → hash agg on the QI key with a
    // distinct-band count (two-phase: (QI, band) partial distinct, then
    // QI rollup — Spark plans count_distinct exactly so); output bounded
    // by the QI domain. Nothing corpus-sized moves.
    GQ(
      "q_dq_ldiversity",
      (s, d) => {
        val l = 3
        val classes = Tables.t(s, d, "customer")
          .select(col("c_nationkey").cast(LongType).as("nationkey"),
            col("c_mktsegment").as("segment"),
            (C.dec2(col("c_acctbal")) * 100).cast(LongType).as("cents"))
          .withColumn("band", expr("(cents + 1000000) div 100000 - 10"))
          .groupBy(col("nationkey"), col("segment"))
          .agg(count(lit(1)).as("class_size"),
            countDistinct(col("band")).as("bands"))
          .filter(col("bands") < l)
        classes
          .select(col("nationkey"), col("segment"), col("class_size"),
            col("bands"))
          .union(classes.agg(
            lit(-1L).as("nationkey"), lit("__total__").as("segment"),
            coalesce(sum(col("class_size")), lit(0L)).as("class_size"),
            coalesce(count(lit(1)), lit(0L)).as("bands")))
          .orderBy(col("nationkey"), col("segment"))
      },
      Some("""WITH b AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             |    c_mktsegment AS segment,
             |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      + 1000000) // 100000 - 10 AS band
             |  FROM customer),
             |cl AS (SELECT nationkey, segment, COUNT(*) AS class_size,
             |    COUNT(DISTINCT band) AS bands
             |  FROM b GROUP BY 1, 2
             |  HAVING COUNT(DISTINCT band) < 3)
             |SELECT nationkey, segment, class_size, bands FROM cl
             |UNION ALL
             |SELECT -1, '__total__',
             |  CAST(COALESCE(SUM(class_size), 0) AS BIGINT),
             |  CAST(COUNT(*) AS BIGINT) FROM cl
             |ORDER BY nationkey, segment""".stripMargin)
    ),
    // Approximate functional-dependency audit (round 5) — the
    // profiling pass (Metanome/HoloClean lineage) that discovers which
    // column rules a feed ACTUALLY obeys: for each candidate A → B,
    // count determinant keys, keys violating the FD (> 1 distinct B),
    // and the violation rate. One exactly-held FD (o_orderkey →
    // o_orderstatus: the key is unique, rate 0) sits beside three
    // soft dependencies so drift in either direction is visible.
    //
    // Determinism: exact BIGINT distinct counts; rate is ONE IEEE
    // division (R7, never negative). ORDER BY the dependency name (R1).
    //
    // Plan shape (100 TB): each candidate is ONE scan → determinant-
    // keyed agg (map-side partial distinct on (A, B) pairs) → 1-row
    // summary; the four 1-row summaries union. Nothing after the aggs
    // exceeds four rows; each scan prunes to exactly its two columns.
    GQ(
      "q_dq_funcdep",
      (s, d) => {
        def fd(df: DataFrame, dep: String, a: String, b: String) =
          df.groupBy(col(a)).agg(count_distinct(col(b)).as("nb"))
            .agg(count(lit(1)).as("n_keys"),
              sum(when(col("nb") > 1, 1L).otherwise(0L)).as("violating_keys"))
            .select(lit(dep).as("dependency"), col("n_keys"),
              col("violating_keys"),
              (col("violating_keys").cast(DoubleType) /
                col("n_keys").cast(DoubleType)).as("violation_rate"))
        val orders = Tables.t(s, d, "orders")
        fd(orders, "o_orderkey->o_orderstatus", "o_orderkey", "o_orderstatus")
          .unionByName(fd(orders, "o_custkey->o_orderpriority",
            "o_custkey", "o_orderpriority"))
          .unionByName(fd(Tables.t(s, d, "lineitem"),
            "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
          .unionByName(fd(Tables.t(s, d, "customer"),
            "c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))
          .orderBy(col("dependency"))
      },
      Some {
        def fd(table: String, dep: String, a: String, b: String) =
          s"""SELECT '$dep' AS dependency, COUNT(*) AS n_keys,
             |  CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS violating_keys,
             |  CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS violation_rate
             |FROM (SELECT $a, COUNT(DISTINCT $b) AS nb FROM $table
             |      GROUP BY $a)""".stripMargin
        s"""${fd("orders", "o_orderkey->o_orderstatus",
              "o_orderkey", "o_orderstatus")}
           |UNION ALL
           |${fd("orders", "o_custkey->o_orderpriority",
              "o_custkey", "o_orderpriority")}
           |UNION ALL
           |${fd("lineitem", "l_orderkey->l_returnflag",
              "l_orderkey", "l_returnflag")}
           |UNION ALL
           |${fd("customer", "c_nationkey->c_mktsegment",
              "c_nationkey", "c_mktsegment")}
           |ORDER BY dependency""".stripMargin
      }
    ),
    // Shannon entropy profile of categorical columns (round 5) — the
    // cardinality/skew fingerprint a profiler reports next to
    // q_dq_profile's null/min/max surface: H(column) in bits, exact.
    // A column whose entropy collapses release-over-release is the
    // classic silent-feed-degradation signal (values defaulting, enum
    // drift); uniform k-value columns read log2(k), constants read 0.
    //
    // Determinism: each value's surprisal log2(N/c) is the EXACT DYADIC
    // LOG2 of the ≥ 1 rational (`log2q`, as in q_text_perplexity);
    // H_q = Σ c·q sums order-free in BIGINT, and the bits figure is ONE
    // IEEE division H_q/(N·1024) (R7, non-negative). Overflow budget (R10): the
    // Σ c·q ≤ N·64·1024 < 2^63 sum bound holds while N < 1.4·10¹⁴.
    // ORDER BY column name (R1).
    //
    // Plan shape (100 TB): each column is ONE pruned 1-column scan →
    // value-keyed hash agg (map-side combine; output value-domain-
    // bounded); the log2 and the 1-row reduce run on that
    // model-sized relation; four 1-row results union.
    GQ(
      "q_dq_entropy",
      (s, d) => {
        def colEntropy(df: DataFrame, name: String, c: String): DataFrame = {
          val cnt = df.groupBy(col(c).as("v")).agg(count(lit(1)).as("c"))
          val tot = cnt.agg(sum(col("c")).as("nn"), count(lit(1)).as("nd"))
          cnt.crossJoin(broadcast(tot))
            .select(col("nn"), col("nd"),
              (col("c") * Log2Q.col(col("nn"), col("c"))).as("cq"))
            .groupBy(col("nn"), col("nd")).agg(sum(col("cq")).as("hq"))
            .select(lit(name).as("column_name"), col("nn").as("n_rows"),
              col("nd").as("n_distinct"),
              (col("hq").cast(DoubleType) /
                (col("nn").cast(DoubleType) * 1024.0)).as("entropy_bits"))
        }
        colEntropy(Tables.t(s, d, "documents"), "documents.lang", "lang")
          .unionByName(colEntropy(Tables.t(s, d, "documents"),
            "documents.source", "source"))
          .unionByName(colEntropy(Tables.events(s, d),
            "events.event_type", "event_type"))
          .unionByName(colEntropy(Tables.t(s, d, "orders"),
            "orders.o_orderpriority", "o_orderpriority"))
          .orderBy(col("column_name"))
      },
      Some {
        def ent(tag: String, src: String, c: String, name: String): String =
          s"""${tag}c AS (SELECT $c AS v, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM $src GROUP BY 1),
             |${tag}t AS (SELECT CAST(SUM(c) AS BIGINT) AS nn,
             |    CAST(COUNT(*) AS BIGINT) AS nd FROM ${tag}c),
             |${tag}h AS (SELECT '$name' AS column_name, MIN(nn) AS n_rows,
             |    MIN(nd) AS n_distinct,
             |    CAST(SUM(c * ${Log2Q.sql("nn", "c")}) AS BIGINT) AS hq
             |  FROM ${tag}c CROSS JOIN ${tag}t)"""
        s"""WITH ${ent("la", "documents", "lang", "documents.lang")},
           |${ent("so", "documents", "source", "documents.source")},
           |${ent("ev", "events", "event_type", "events.event_type")},
           |${ent("op", "orders", "o_orderpriority",
              "orders.o_orderpriority")}
           |SELECT column_name, n_rows, n_distinct,
           |  CAST(hq AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 1024.0)
           |    AS entropy_bits
           |FROM (SELECT * FROM lah UNION ALL SELECT * FROM soh
           |  UNION ALL SELECT * FROM evh UNION ALL SELECT * FROM oph)
           |ORDER BY column_name""".stripMargin
      }
    ),
    // Feed-freshness audit (round 5) — the staleness check every ingest
    // monitor runs: per event type, the last-seen time, its lag behind
    // the NEWEST event anywhere in the corpus, and the volume in the
    // trailing 24 h of corpus time. A type whose staleness grows while
    // others stay current is a silently dead upstream — the operational
    // twin of q_dq_checks' structural gates. The reference point is the
    // corpus max (data-derived, NOT current_timestamp — R3), so the
    // audit is replayable forever.
    //
    // Determinism: all times exact epoch-µs integers (R4/R5), counts
    // BIGINT; ORDER BY event_type (R1).
    //
    // Plan shape (100 TB): the corpus max is ONE bounded 1-row driver
    // fetch (the kcore/balanced pattern — a corpus-wide max() window on
    // the raw events would be the banned single-partition shape), then
    // ONE corpus scan → type-keyed agg carrying max(ts), the total, and
    // the 24 h-window CONDITIONAL count gated by that literal. One pass,
    // |types| rows out.
    GQ(
      "q_dq_freshness",
      (s, d) => {
        val DayNs = 86400L * 1000 * 1000 * 1000
        // bounded driver fetch (1 row): the replayable reference point.
        // An EMPTY events table makes max() NULL (round-6 ADVICE): any
        // sentinel is output-neutral — the type-keyed groupBy below has
        // zero groups, so the audit is empty either way, never an NPE.
        val mxRow = Tables.events(s, d).agg(max(col("ts"))).head()
        val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(max(col("ts")).as("last_ns"), count(lit(1)).as("n_events"),
            sum(when(col("ts") > mx - DayNs, 1L).otherwise(0L))
              .as("last_day_events"))
          .select(col("event_type"),
            expr("last_ns DIV 1000").as("last_us"),
            expr(s"(${mx}L - last_ns) DIV 1000").as("staleness_us"),
            col("n_events"), col("last_day_events"))
          .orderBy(col("event_type"))
      },
      Some("""WITH m AS (SELECT MAX(epoch_ns(ts)) AS mx FROM events),
             |t AS (SELECT event_type, MAX(epoch_ns(ts)) AS last_ns,
             |    COUNT(*) AS n_events,
             |    CAST(SUM(CASE WHEN epoch_ns(ts) >
             |        (SELECT mx FROM m) - 86400000000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS last_day_events
             |  FROM events GROUP BY 1)
             |SELECT event_type, last_ns // 1000 AS last_us,
             |  ((SELECT mx FROM m) - last_ns) // 1000 AS staleness_us,
             |  n_events, last_day_events
             |FROM t ORDER BY event_type""".stripMargin)
    ),
    // Referential-integrity audit (round 5) — the cross-TABLE data-quality
    // check the row-level family (q_dq_checks: nulls/ranges; q_dq_funcdep:
    // in-table FDs) cannot express: for every foreign-key edge of the
    // schema, how many child rows point at a parent that does not exist —
    // THE first audit a warehouse runs after every load, and the one that
    // catches partial/out-of-order ingestion (child partition landed, parent
    // didn't). Emits per edge: child rows, NULL keys (three-valued logic
    // keeps them out of the orphan count by contract), orphan rows,
    // DISTINCT orphan keys (one bad producer vs many), and the orphan rate.
    //
    // The SIX edges are one Scala list generated into BOTH the Spark plan
    // and the oracle SQL (the CorrCols anti-drift pattern). Determinism:
    // everything is exact BIGINT counts; the rate is ONE IEEE division
    // (R7), roundz(6) + R8; ORDER BY edge name (R1).
    //
    // Plan shape (100 TB): each edge is ONE child scan (key column only —
    // pruned at the parquet footer) left-joined to the parent's DISTINCT
    // keys; small dims broadcast, the two corpus-sized parents
    // (orders/customer) shuffle once on the join key — the same exchange
    // a production load-validation would pay, linear per edge; the six
    // 1-row aggregates union driver-side for free.
    GQ(
      "q_dq_referential",
      (s, d) => {
        RefEdges.map { case (child, fk, parent, pk) =>
          val c = Tables.t(s, d, child).select(col(fk).cast(LongType).as("fk"))
          val p = Tables.t(s, d, parent)
            .select(col(pk).cast(LongType).as("k")).distinct()
            .withColumn("hit", lit(1))
          val orphan = col("fk").isNotNull && col("hit").isNull
          c.join(p, col("fk") === col("k"), "left")
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_nulls"),
              sum(when(orphan, 1L).otherwise(0L)).as("n_orphans"),
              countDistinct(when(orphan, col("fk"))).as("n_orphan_keys"))
            .select(lit(s"$child.$fk->$parent").as("edge"), col("n_rows"),
              col("n_nulls"), col("n_orphans"), col("n_orphan_keys"),
              graft.functions.vec.roundz(col("n_orphans").cast(DoubleType) /
                col("n_rows").cast(DoubleType), 6).as("orphan_rate"))
        }.reduce(_.union(_)).orderBy(col("edge"))
      },
      Some(RefEdges.map { case (child, fk, parent, pk) =>
        s"""SELECT '$child.$fk->$parent' AS edge,
           |  COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN c.fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(SUM(CASE WHEN c.fk IS NOT NULL AND p.k IS NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           |  COUNT(DISTINCT CASE WHEN c.fk IS NOT NULL AND p.k IS NULL
           |    THEN c.fk END) AS n_orphan_keys,
           |  (ROUND(CAST(SUM(CASE WHEN c.fk IS NOT NULL AND p.k IS NULL
           |      THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE), 6) + 0.0) AS orphan_rate
           |FROM (SELECT CAST($fk AS BIGINT) AS fk FROM $child) c
           |LEFT JOIN (SELECT DISTINCT CAST($pk AS BIGINT) AS k
           |  FROM $parent) p ON p.k = c.fk""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY edge")
    ),
    // Header-vs-detail reconciliation audit (round 5) — the LEDGER check
    // beside q_dq_referential's existence check: a child row can point at
    // a real parent and still disagree with it in VALUE. Classic form:
    // does o_totalprice equal Σ l_extendedprice·(1−l_discount)·(1+l_tax)
    // over the order's lines (the TPC-H invariant)? Real warehouses run
    // exactly this after every load (orders vs order_lines, invoices vs
    // postings); the answer on drifted data is a distribution of gaps,
    // so the audit emits the reconciliation profile: orders with lines,
    // headers with NO lines (the dangling-header complement of orphans),
    // exact matches, within-1% matches, and the worst/mean absolute gap.
    //
    // Determinism (R2): every product stays EXACT DECIMAL — price(18,2) ×
    // (1−disc)(scale 2) × (1+tax)(scale 2) is scale-6 exact, the per-order
    // sum and the header difference stay decimal, and the 1% tolerance
    // compares |gap|·100 ≤ total IN DECIMAL — no FP anywhere until the two
    // display casts (max/mean gap, one IEEE division, roundz(6) + R8).
    //
    // Plan shape (100 TB): ONE lineitem scan → order-keyed decimal agg
    // (map-side partials), ONE equi join to orders on the same key —
    // the exchange a header/detail reconciliation must pay — then a 1-row
    // global agg. Linear, no windows, no skew sensitivity beyond the join.
    GQ(
      "q_dq_reconcile",
      (s, d) => {
        val rev = (C.dec2(col("l_extendedprice")) *
          (lit(1).cast(C.Dec2) - C.dec2(col("l_discount"))) *
          (lit(1).cast(C.Dec2) + C.dec2(col("l_tax"))))
        val lines = Tables.t(s, d, "lineitem")
          .groupBy(col("l_orderkey")).agg(sum(rev).as("line_total"))
        val joined = Tables.t(s, d, "orders")
          .select(col("o_orderkey"), C.dec2(col("o_totalprice")).as("hdr"))
          .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
        val gap = col("hdr") - col("line_total")
        val absGap = abs(gap)
        joined.agg(
            count(lit(1)).as("n_orders"),
            sum(when(col("line_total").isNotNull, 1L).otherwise(0L))
              .as("n_with_lines"),
            sum(when(col("line_total").isNull, 1L).otherwise(0L))
              .as("n_no_lines"),
            sum(when(gap === 0, 1L).otherwise(0L)).as("n_exact"),
            sum(when(absGap * 100 <= col("hdr"), 1L).otherwise(0L))
              .as("n_within_1pct"),
            max(absGap).cast(DoubleType).as("max_abs_gap_raw"),
            sum(absGap).cast(DoubleType).as("sum_abs_gap"))
          .select(col("n_orders"), col("n_with_lines"), col("n_no_lines"),
            col("n_exact"), col("n_within_1pct"),
            graft.functions.vec.roundz(col("max_abs_gap_raw"), 6)
              .as("max_abs_gap"),
            graft.functions.vec.roundz(col("sum_abs_gap") /
              col("n_with_lines").cast(DoubleType), 6).as("mean_abs_gap"))
      },
      Some("""WITH l AS (SELECT l_orderkey,
             |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             |      * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))))
             |      AS line_total
             |  FROM lineitem GROUP BY 1),
             |j AS (SELECT CAST(o.o_totalprice AS DECIMAL(18,2)) AS hdr,
             |    l.line_total,
             |    CAST(o.o_totalprice AS DECIMAL(18,2)) - l.line_total AS gap
             |  FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey)
             |SELECT COUNT(*) AS n_orders,
             |  CAST(SUM(CASE WHEN line_total IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_with_lines,
             |  CAST(SUM(CASE WHEN line_total IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_no_lines,
             |  CAST(SUM(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_exact,
             |  CAST(SUM(CASE WHEN ABS(gap) * 100 <= hdr THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_within_1pct,
             |  (ROUND(CAST(MAX(ABS(gap)) AS DOUBLE), 6) + 0.0)
             |    AS max_abs_gap,
             |  (ROUND(CAST(SUM(ABS(gap)) AS DOUBLE)
             |    / CAST(SUM(CASE WHEN line_total IS NOT NULL THEN 1 ELSE 0 END)
             |        AS DOUBLE), 6) + 0.0) AS mean_abs_gap
             |FROM j""".stripMargin)
    ),
    // ID-sequence continuity audit (round 5) — the ingestion-hole
    // detector: a surrogate-key column that SHOULD be dense (orderkeys
    // from a sequence, event ids from a log offset) develops gaps exactly
    // when a loader drops a batch, and "how many holes, where does the
    // first one start" is the page-one question. The textbook
    // gaps-and-islands formulation (id − row_number() OVER (ORDER BY id))
    // needs a GLOBAL-ORDER window — the banned single-partition sort — so
    // this uses the shifted-key join form instead: an island STARTS at
    // every id whose predecessor id−1 is absent, and the first gap starts
    // at min(id+1) over ids whose successor is absent (excluding max) —
    // both plain hash anti/semi joins, shuffle-partitioned on the key,
    // sort-free at any scale. n_missing = (max − min + 1) − n_ids closes
    // the account exactly.
    //
    // Determinism: exact BIGINTs end to end; the 1-row output needs no
    // ORDER BY; distinct applied first so duplicated ids (audited
    // separately by q_dq_checks) cannot double-count islands.
    //
    // Plan shape (100 TB): ONE pruned key-column scan → distinct (hash,
    // map-side partial) → one self anti-join on id−1 (count + min only)
    // + the 1-row min/max/count agg; every exchange keyed on the id hash.
    GQ(
      "q_dq_sequence",
      (s, d) => {
        // persisted: the distinct id relation feeds bounds, both sides of
        // the island anti-join, and both sides of the gap probe
        val ids = graft.Caches.persist(Tables.t(s, d, "orders")
          .select(col("o_orderkey").as("id")).distinct())
        val bounds = ids.agg(count(lit(1)).as("n_ids"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        val present = ids.select((col("id") + 1).as("succ"))
        // island starts: ids with no predecessor present
        val starts = ids.join(present, col("id") === col("succ"), "left_anti")
          .agg(count(lit(1)).as("n_islands"))
        // first gap: the smallest absent successor below the max
        val firstGap = ids.select((col("id") + 1).as("cand"))
          .join(ids, col("cand") === col("id"), "left_anti")
          .crossJoin(bounds.select(col("max_id").as("mx")))
          .filter(col("cand") <= col("mx"))
          .agg(min(col("cand")).as("first_gap_start"))
        bounds.crossJoin(starts).crossJoin(firstGap)
          .select(col("n_ids"), col("min_id"), col("max_id"),
            (col("max_id") - col("min_id") + 1 - col("n_ids"))
              .as("n_missing"),
            col("n_islands"), col("first_gap_start"))
      },
      Some("""WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders),
             |b AS (SELECT COUNT(*) AS n_ids, MIN(id) AS min_id,
             |    MAX(id) AS max_id FROM ids),
             |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_islands
             |  FROM ids WHERE id - 1 NOT IN (SELECT id FROM ids)),
             |fg AS (SELECT MIN(id + 1) AS first_gap_start
             |  FROM ids WHERE id + 1 NOT IN (SELECT id FROM ids)
             |    AND id + 1 <= (SELECT max_id FROM b))
             |SELECT b.n_ids, b.min_id, b.max_id,
             |  b.max_id - b.min_id + 1 - b.n_ids AS n_missing,
             |  st.n_islands, fg.first_gap_start
             |FROM b, st, fg""".stripMargin)
    )
  )

  /** The schema's FK edges — ONE list feeding both the Spark plan and the
    * generated oracle SQL (anti-drift, the CorrCols pattern).
    */
  private def RefEdges: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"))
}
