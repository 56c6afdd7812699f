package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Shared test SparkSession (one per forked test JVM), started by
  * [[Session.start]] like every main, on 4 cores, with its warehouse in a
  * temp dir.
  */
object TestSpark {
  lazy val spark: SparkSession =
    Session.start(4, "spark.sql.warehouse.dir" -> jvmTempDir("graft-warehouse-"))

  /** A fresh directory under `java.io.tmpdir`, deleted with everything in
    * it when the test JVM exits (`File.deleteOnExit` skips a non-empty
    * directory). The delete never follows a symbolic link. */
  def jvmTempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    sys.addShutdownHook(Caches.deleteTree(d))
    d.toString
  }

  /** `in` projected onto `c` (as column `c`) and collected through
    * whole-stage generated code. A local `toDF` input would otherwise be
    * folded by `ConvertToLocalRelation`, which evaluates the projection on
    * the driver with the interpreted path, so that rule is excluded here;
    * codegen fallback is off, so a generated class that does not compile
    * fails the test instead of running interpreted; and the executed plan
    * must hold the projection inside a `*(n)` codegen span. */
  def generated(in: => DataFrame, c: Column): Array[Row] = {
    val confs = Seq(
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
      "spark.sql.codegen.fallback" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = in.select(c.as("c"))
      val plan = df.queryExecution.executedPlan.toString
      assert("""(?m)^\*\(\d+\) Project \[""".r.findFirstIn(plan).nonEmpty,
        s"the projection is not in a whole-stage codegen span:\n$plan")
      df.collect()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** The exact dyadic log2 of n/d in 2^-10-bit units, `e*1024 + f`, replayed
  * in BigInt from its definition: e = bitlen(n div d) - 1, the seed
  * (n·2^30) div (d·2^e), then 10 squaring steps m2 = m² div 2^30 (bit 1 and
  * m = m2 div 2 when m2 ≥ 2^31). The one reference every log2 test reads.
  */
object Log2Ref {
  def log2q(n: BigInt, d: BigInt): Long = {
    val e = (n / d).bitLength - 1
    var m = (n << 30) / (d << e)
    var f = 0L
    for (_ <- 1 to 10) {
      val m2 = (m * m) >> 30
      if (m2 >= (BigInt(1) << 31)) { f = f * 2 + 1; m = m2 >> 1 }
      else { f = f * 2; m = m2 }
    }
    e.toLong * 1024 + f
  }
}

/** A miniature, hand-written sfDir: the ten driver tables (FIXTURES.md §A
  * schemas) with a handful of rows each, chosen to hit operator edges —
  * a region with no nations, a customer with no orders, duplicate document
  * texts, a <3-word document (shingle guard), events spanning hour buckets.
  * Written once per JVM to a temp dir that is deleted when the JVM exits;
  * every declared query runs against it.
  */
object MiniData {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  lazy val dir: String = {
    val p = TestSpark.jvmTempDir("graft-mini-")

    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$p/$name.parquet")

    w(
      Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"))
        .toDF("r_regionkey", "r_name"),
      "region")

    w(
      Seq((0, "ALGERIA", 0), (1, "BRAZIL", 1), (2, "CANADA", 1), (3, "EGYPT", 0))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "nation")

    // c_custkey=5 has no orders (anti-join / left-outer zero-count edge)
    w(
      Seq(
        (1L, "Customer#001", 0, 100.25, "BUILDING"),
        (2L, "Customer#002", 1, -50.10, "AUTOMOBILE"),
        (3L, "Customer#003", 2, 0.00, "BUILDING"),
        (4L, "Customer#004", 3, 999.99, "MACHINERY"),
        (5L, "Customer#005", 0, 10.00, "AUTOMOBILE"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "customer")

    // nationkey 3 has a supplier but no... (customers exist for 0..3; nation 1
    // has customers AND a supplier -> intersect hit; nation 2 customers-only
    // -> except hit)
    w(
      Seq((1L, "Supplier#001", 1, 500.00), (2L, "Supplier#002", 3, 42.42))
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "supplier")

    w(
      Seq(
        (1L, "ivory part", "Brand#1", "SMALL BRUSHED", 5, 901.00),
        (2L, "azure part", "Brand#2", "LARGE POLISHED", 50, 902.00),
        (3L, "plum part", "Brand#1", "MEDIUM PLATED", 10, 903.00))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "part")

    w(
      Seq(
        (100L, 1L, "F", 1000.50, ts("1995-03-15 00:00:00"), "1-URGENT"),
        (101L, 1L, "O", 2000.25, ts("1996-07-01 00:00:00"), "2-HIGH"),
        (102L, 2L, "F", 1500.00, ts("1995-03-15 00:00:00"), "1-URGENT"),
        (103L, 3L, "P", 300.10, ts("1997-11-30 00:00:00"), "5-LOW"),
        (104L, 4L, "O", 1000.50, ts("1998-01-02 00:00:00"), "3-MEDIUM"),
        (105L, 2L, "O", 750.75, ts("1999-12-31 00:00:00"), "2-HIGH"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"),
      "orders")

    w(
      Seq(
        (100L, 1L, 1L, 1, 17.0, 1000.00, 0.05, 0.02, "R", "F", ts("1995-03-20 00:00:00")),
        (100L, 2L, 2L, 2, 36.0, 2000.00, 0.10, 0.03, "A", "F", ts("1995-03-21 00:00:00")),
        (101L, 3L, 1L, 1, 40.0, 1500.00, 0.00, 0.05, "N", "O", ts("1996-07-05 00:00:00")),
        (102L, 1L, 2L, 1, 8.0, 800.00, 0.07, 0.01, "R", "F", ts("1995-03-25 00:00:00")),
        (102L, 2L, 1L, 2, 31.0, 1200.00, 0.02, 0.04, "R", "F", ts("1995-03-26 00:00:00")),
        (103L, 3L, 2L, 1, 55.0, 950.00, 0.09, 0.06, "A", "O", ts("1997-12-05 00:00:00")),
        (104L, 1L, 1L, 1, 3.0, 100.00, 0.01, 0.00, "N", "O", ts("1998-01-10 00:00:00")),
        (105L, 2L, 2L, 1, 29.0, 600.00, 0.06, 0.02, "R", "O", ts("2000-01-05 00:00:00")))
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
          "l_shipdate"),
      "lineitem")

    // ts held as LongType epoch-nanos, exactly what Tables.events surfaces
    // under the nanosAsLong shim. Two hour buckets; one user with 3 events
    // (lag chain), event types hitting every CASE branch.
    val h0 = 1704067200L * 1000000000L // 2024-01-01 00:00:00 UTC in nanos
    val h1 = h0 + 3600L * 1000000000L
    w(
      Seq(
        (1L, h0 + 1L, 10L, "purchase", 185.22, """{"k": 7}"""),
        (2L, h0 + 2L, 10L, "error", 1.50, """{"k": 42}"""),
        (3L, h0 + 3L, 11L, "click", 0.25, """{"k": 7}"""),
        (4L, h1 + 1L, 10L, "view", 2.75, """{"k": 9}"""),
        (5L, h1 + 2L, 12L, "signup", 0.00, """{"k": 1}"""),
        (6L, h1 + 3L, 11L, "purchase", 99.99, """{"k": 3}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")

    // doc 1/2 share text (exact-dup hit); doc 5 has <3 words (shingle guard);
    // doc 6 shares a 3-gram with doc 3 within the same (lang, source) block.
    w(
      Seq(
        (1L, "the fast key order sort merge", "en", "src0", 30L),
        (2L, "the fast key order sort merge", "en", "src0", 30L),
        (3L, "der hund und die katze ist nicht hier", "de", "src1", 38L),
        (4L, "el perro es una casa que la los", "es", "src0", 31L),
        (5L, "two words", "en", "src1", 9L),
        (6L, "die katze ist nicht hier heute", "de", "src1", 30L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      "documents")

    // 6 vectors, 4-dim: vec 0 == vec 5 direction (cosine 1.0 pair), vec 1
    // orthogonal to vec 0.
    w(
      Seq(
        (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
        (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
        (2L, Array(0.5f, 0.5f, 0.0f, 0.0f), 2),
        (3L, Array(0.0f, 0.0f, 1.0f, 1.0f), 3),
        (4L, Array(0.2f, 0.1f, 0.9f, 0.0f), 4),
        (5L, Array(2.0f, 0.0f, 0.0f, 0.0f), 5))
        .toDF("vec_id", "embedding", "label"),
      "embeddings")

    p
  }
}
