package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Late-interaction (MaxSim) scoring over MULTI-vector documents — the
  * ColBERT-style retrieval primitive: a document is a bag of token
  * vectors, a query likewise, and score(q, d) = Σ over query tokens of
  * the max dot product against any document token. Single-vector ANN
  * (Ann/Pq) compresses a document to one point; late interaction keeps
  * per-token geometry and is the standard second-stage ranker in
  * retrieval-augmented training-data pipelines.
  *
  * Everything is Column-level higher-order functions over `array<array
  * <float>>` — `aggregate` (the Σ fold), `array_max`, `transform`, and the
  * [[VectorFunctions.dot]] native fold — so the whole score is one codegen
  * projection; no UDF, no explode-to-rows of token vectors. Scale shape:
  * query side broadcast (a ranker's query batch is small by contract),
  * corpus side narrow scan + projection, one per-query top-k window on
  * |Q|·|C| scored rows. For corpus-scale candidate generation, run a
  * single-vector [[Ann]] stage first and MaxSim-rerank its candidates —
  * the two-stage shape this module exists for.
  *
  * The fold order is pinned for the cross-engine oracle: Σ starts at 0.0
  * and folds query tokens left-to-right (0 + x == x exactly, so a
  * seedless left fold computes the identical IEEE tree), and each dot is
  * the sequential index-order fold both engines share (ann1's regime).
  */
object MaxSim {

  /** score(q, d) as a Column over two `array<array<float>>` columns. */
  def maxSimScore(qVecs: Column, dVecs: Column): Column =
    aggregate(qVecs, lit(0.0),
      (acc, qt) => acc + array_max(transform(dVecs, dt => VectorFunctions.dot(qt, dt))))

  /** Exact MaxSim top-k: every query doc against every corpus doc, ranked
    * per query (ties broken by corpus id for determinism). `queries` is
    * expected to be small (broadcast). */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "q_doc", qVecs: String = "q_vecs",
      cId: String = "c_doc", cVecs: String = "c_vecs"): DataFrame = {
    val q = queries.select(col(qId).as("q_doc"), col(qVecs).as("__qv"))
    val c = corpus.select(col(cId).as("c_doc"), col(cVecs).as("__cv"))
    val scored = c.join(broadcast(q))
      .withColumn("score", maxSimScore(col("__qv"), col("__cv")))
    // bounded-heap rank (Ann.rankTopK shape): the q×c score product is
    // consumed by a map-side partial heap, never shuffled
    Ann.rankTopK(scored.select(col("q_doc").as("q_id"),
        col("c_doc").as("c_id"), col("score").as("sim")), k)
      .select(col("q_id").as("q_doc"), col("c_id").as("c_doc"),
        col("sim").as("score"), col("rank"))
  }
}
