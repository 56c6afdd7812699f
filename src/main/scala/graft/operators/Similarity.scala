package graft.operators

import graft.functions.vec
import graft.{GQ, Tables}
import org.apache.spark.sql.functions._

/** Embedding similarity search (north star).
  *
  * `q_sim_cosine` is the brute-force top-k baseline: one fixed query vector
  * broadcast against all candidates — at 100 TB this is a broadcast-nested-
  * loop with a `TakeOrderedAndProject` top-k, i.e. a single scan, no shuffle
  * of the candidate side. The bucketed/IVF scale path lives in
  * `graft.operators.Ann`.
  *
  * Cosine is the codegen'd native expression `graft.functions.CosineSimilarity`
  * (not a boxing UDF). Outputs round to 3 dp and order by the rounded value
  * with a unique tie-break (SURVEY.md R7): cross-engine last-ulp float drift
  * cannot flip the emitted ordering unless two cosines round equal, in which
  * case vec_id decides identically in both engines.
  */
object Similarity {

  val queries: Seq[GQ] = Seq(
    GQ(
      "q_sim_cosine",
      (s, d) => {
        val e = Tables.t(s, d, "embeddings")
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"))
        val candidates = e.filter(col("vec_id") =!= 0)
        candidates
          .crossJoin(broadcast(query))
          .select(
            col("vec_id"),
            vec.roundz(vec.cosine(col("embedding"), col("q_embedding")), 3).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(5)
      },
      Some("""SELECT c.vec_id,
             |(ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |                              CAST(q.embedding AS DOUBLE[])), 3) + 0.0) AS cos_sim
             |FROM embeddings c, embeddings q
             |WHERE q.vec_id = 0 AND c.vec_id <> 0
             |ORDER BY cos_sim DESC, c.vec_id LIMIT 5""".stripMargin)
    )
  )
}
