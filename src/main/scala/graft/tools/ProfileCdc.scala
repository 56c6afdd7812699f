package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only stage profiler for q_dedup_cdc's ×100 slope (round 10, VERDICT
  * item 8 — the slope read 8.4, still sub-linear but closest to the line):
  * times each pipeline piece separately at the given dirs so the growth
  * can be attributed to the scan-side chunking, the chunk-hash frequency
  * aggregation (distinct + groupBy ch), or the chunk-hash join + per-doc
  * agg.
  *
  * Usage: runMain graft.tools.ProfileCdc [dir1 dir2 ...]
  */
object ProfileCdc {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale_x10",
        "/tmp/graft_scale_x100")
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(label: String, dir: String)(body: => Long): Unit = {
      body // warm
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"[cdc] $dir%-28s $label%-12s min=${ts.min}%.2fs")
    }

    for (d <- dirs if new java.io.File(s"$d/documents.parquet").exists()) {
      val chunks = graft.Tables.t(spark, d, "documents")
        .select(col("doc_id"), explode(graft.functions.CdcChunks.col(col("text"), 7)).as("ch"))
      timed("scan-chunk", d)(chunks.count())
      val dedup = chunks.select(col("doc_id"), col("ch")).distinct()
      timed("distinct", d)(dedup.count())
      val freq = dedup.groupBy(col("ch")).agg(count(lit(1)).as("nd"))
      timed("freq-agg", d)(freq.count())
      val full = chunks.join(freq, "ch")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
          bit_xor(col("ch")).as("chunks_fp"))
      timed("join+docagg", d)(full.count())
      timed("full-query", d)(
        graft.Registry.byName("q_dedup_cdc").run(spark, d).count())
      spark.catalog.clearCache()
      graft.Caches.release(spark)
    }
    spark.stop()
  }
}
