package graft

import graft.functions.{CdcChunks, CmsEstimate, CmsSketch, CosineSimilarity, HllSketch, KGrams}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The engine's public SQL integration point: a `SparkSessionExtensions`
  * installer exposing the native graft functions to plain SQL —
  *
  *   graft.Session.start(cores, "spark.sql.extensions" -> "graft.GraftExtensions")
  *
  * or, under `spark-submit --conf spark.sql.extensions=graft.GraftExtensions
  * --conf spark.sql.codegen.cache.maxEntries=20000`, `graft.Session.configure(spark)`
  * — so a user (or Thrift/Connect server) gets `cosine_sim`,
  * `hll_distinct`, `h60`, `cms_sketch`/`cms_estimate`, the Bloom pair
  * (`graft_bloom_agg`/`graft_bloom_might_contain`), `kgrams` and
  * `cdc_chunks` without touching internals. This is the only place that
  * knows SQL names: the operators build the same expressions as Columns
  * (`KGrams.col`, `vec.cosine`, … over `org.apache.spark.sql.NativeColumn`)
  * and never write into a session's function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, (arity, build)) <- GraftExtensions.functions)
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          if (args.size != arity) throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${args.size}")
          build(args)
        }))
}

object GraftExtensions {
  /** SQL name → (arity, builder). */
  private[graft] val functions: Map[String, (Int, Seq[Expression] => Expression)] = Map(
    "cosine_sim" -> (2, a => CosineSimilarity(a(0), a(1))),
    "hll_distinct" -> (1, a => HllSketch(a(0)).toAggregateExpression()),
    // cross-engine md5-prefix hash, SQL-reachable for ad-hoc sketch work
    "h60" -> (1, a => XHash.h60Expr(a(0))),
    "cms_sketch" -> (1, a => CmsSketch(a(0)).toAggregateExpression()),
    "cms_estimate" -> (2, a => CmsEstimate(a(0), a(1))),
    "graft_bloom_agg" -> (3, a =>
      new BloomFilterAggregate(a(0), a(1), a(2)).toAggregateExpression()),
    "graft_bloom_might_contain" -> (2, a => BloomFilterMightContain(a(0), a(1))),
    // the two scan-side text shredders: shingling and content-defined
    // chunking for ad-hoc dedup work
    "kgrams" -> (2, a => KGrams(a(0), intLit("kgrams", "k", a(1)))),
    "cdc_chunks" -> (2, a => CdcChunks(a(0), intLit("cdc_chunks", "mask", a(1)))))

  private def intLit(fn: String, param: String, e: Expression): Int =
    (if (e.foldable) e.eval() else null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn: $param must be an integer literal, got ${e.sql}")
    }
}
