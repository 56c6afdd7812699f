package graft.sources

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/** Proves the two layout properties from the physical plans themselves:
  * bucketed joins run with zero shuffle exchanges, and partition pruning
  * reads only matching directories.
  */
class WarehouseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Full traversal incl. AQE wrappers (AdaptiveSparkPlanExec hides the
    * final plan outside `children`). */
  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(collectPlan)
  }

  test("bucketed tables join with no shuffle exchange on either side") {
    val facts = (1L to 1000L).map(k => (k % 50, s"f$k")).toDF("k", "payload")
    val dims = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "name")
    Warehouse.writeBucketed(facts, "wh_facts", "k", 4)
    Warehouse.writeBucketed(dims, "wh_dims", "k", 4)

    // disable broadcast (incl. AQE's runtime demotion) so the shuffle-free
    // property can only come from the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      bucketedJoinBody()
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  private def bucketedJoinBody(): Unit = {
    val joined = spark.table("wh_facts")
      .join(spark.table("wh_dims"), "k")
      .hint("merge")
    assert(joined.count() === 1000L)

    val exec = joined.queryExecution.executedPlan
    val shuffles = collectPlan(exec).count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles === 0, s"expected shuffle-free bucketed join:\n$exec")

    val bucketedScans = collectPlan(exec).collect {
      case f: FileSourceScanExec if f.bucketedScan => f
    }
    assert(bucketedScans.size === 2,
      collectPlan(exec).map(_.getClass.getSimpleName).mkString(", "))
  }

  test("partitioned write prunes non-matching partitions at scan") {
    val dir = TestSpark.jvmTempDir("wh-part-")
    val df = Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-01", 2L, 20.0),
      ("2024-01-02", 3L, 30.0), ("2024-01-03", 4L, 40.0))
      .toDF("dt", "id", "v")
    Warehouse.writePartitioned(df, dir, "dt")

    val read = spark.read.parquet(dir).filter($"dt" === "2024-01-01")
    assert(read.select("id").as[Long].collect().sorted === Array(1L, 2L))

    // planner-level evidence: the dt predicate became a partition filter
    val scan = collectPlan(read.queryExecution.executedPlan).collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("dt")),
      scan.metadata.toString)

    // behavioral evidence: corrupt a non-matching partition's data file —
    // a pruned scan never opens it, an unpruned scan dies on it
    val corruptDir = new java.io.File(s"$dir/dt=2024-01-03")
    corruptDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.write(f.toPath, Array[Byte](1, 2, 3, 4))
    }
    assert(spark.read.parquet(dir).filter($"dt" === "2024-01-01")
      .select("id").as[Long].collect().sorted === Array(1L, 2L))
    intercept[Exception] {
      spark.read.parquet(dir).select("id").as[Long].collect()
    }
  }

  test("JSONL roundtrip under a pinned schema; malformed lines quarantined") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.jvmTempDir("wh-jsonl-") + "/docs"
    val df = Seq((1L, "hello world", "en"), (2L, "hola", "es"))
      .toDF("doc_id", "text", "lang")
    Warehouse.writeJsonl(df, dir)

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val back = Warehouse.readJsonl(spark, dir, schema)
    assert(back.filter($"_bad".isNull).drop("_bad").collect().map(_.toSeq).toSet ===
      df.collect().map(_.toSeq).toSet)

    // corrupt line lands in _bad with the other columns null — not dropped,
    // not fatal
    val badFile = TestSpark.jvmTempDir("wh-jsonl-bad-") + "/docs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(badFile))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(badFile, "part-0.json"),
      """{"doc_id": 1, "text": "ok", "lang": "en"}
        |{not json at all}
        |""".stripMargin)
    // collect whole rows: Spark refuses scans whose referenced columns are
    // ONLY the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val mixed = Warehouse.readJsonl(spark, badFile, schema).collect()
    assert(mixed.length === 2)
    assert(mixed.count(r => !r.isNullAt(3)) === 1, "one quarantined line")
    assert(mixed.filter(_.isNullAt(3)).map(_.getLong(0)).toSeq === Seq(1L))
  }
}
