package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ: coarse inverted-file cells with product quantization of the
  * RESIDUALS (vector − its cell centroid) — the composition production ANN
  * systems actually deploy (FAISS's IndexIVFPQ; Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — public
  * algorithm): the coarse quantizer removes the corpus's global structure
  * so the m sub-codebooks spend their budget on the locally-varying
  * remainder, and the scan touches only the probed cells' code lists.
  *
  * Distributed shapes: centroids and codebooks are BROADCAST model state
  * (k·dim + m·k·subDim doubles); assignment and residual encode are narrow
  * projections; the ADC scan joins the code table against the broadcast
  * (query × probed-cell) distance tables co-keyed on the CELL — at scale
  * this is the IVF promise (only nprobe/k of the corpus is read) stacked
  * on PQ's (what is read is codes, not vectors). Exact rerank fetches at
  * most |queries|·rerank raw vectors by equi-join AFTER the cut.
  *
  * `nprobe >= #cells` AND `rerank >= |corpus|` degenerates to exact
  * brute-force ranking — the oracle-checkable configuration pinning the
  * train→residual→encode→probe→ADC→rerank integration (ann4/ann5's
  * contract style); IvfPqSpec pins recall for genuinely-approximate
  * settings.
  */
object IvfPq {

  /** Assign each vector to its nearest centroid and append the residual:
    * (id, cent, res). Ties go to the lower cent id (struct-min order). */
  def residuals(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centId: String = "cent_id",
      centVec: String = "cent_vec"): DataFrame = {
    import graft.functions.VectorExprFunctions.nearest_cell
    // per-row argmin over the constant cells array ([[Ann.cellsCol]]):
    // same (d2, cent) winner as the rank-1 window, no corpus shuffle;
    // the winner's cv rides in the argmin struct for the residual
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), col("v"),
        nearest_cell(col("v"), Ann.cellsCol(centroids, centId, centVec))
          .as("__nc"))
      .select(col("id"), col("__nc.cent").as("cent"),
        zip_with(col("v"), col("__nc.cv"), (a, b) => a - b).as("res"))
  }

  /** ADC top-k over the probed cells. `encoded` = (id, cent, code) from
    * [[residuals]] + [[Pq.encode]]; `corpus` supplies raw vectors for the
    * exact rerank; the query side (small) probes its `nprobe` nearest
    * cells and carries ONE distance table per (query, cell) — built from
    * the query's residual against THAT cell, the asymmetric-distance
    * counterpart of the corpus-side residual encode. */
  def adcTopK(queries: DataFrame, encoded: DataFrame, corpus: DataFrame,
      centroids: DataFrame, books: Pq.Codebooks, k: Int, nprobe: Int,
      rerank: Int, qId: String = "vec_id", qVec: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding",
      centId: String = "cent_id", centVec: String = "cent_vec"): DataFrame = {
    import graft.functions.VectorExprFunctions.probe_cells
    // per (query, probed cell): residual vs that cell -> m×k ADC table.
    // Probes per-row over the constant cells array ([[Ann.cellsCol]]) —
    // same (d2, cent) rank order as the old window, no shuffle; each
    // probe struct carries its cell's cv for the residual
    val q = queries
      .select(col(qId).as("q_id"), col(qVec).cast("array<double>").as("q_vec"))
      .select(col("q_id"), col("q_vec"), explode(probe_cells(col("q_vec"),
        Ann.cellsCol(centroids, centId, centVec), nprobe)).as("p"))
      .withColumn("q_res",
        zip_with(col("q_vec"), col("p.cv"), (a, b) => a - b))
      .select(col("q_id"), col("p.cent").as("cent"),
        Pq.distanceTable(col("q_res"), books).as("dtab"))
    // code scan co-keyed on the CELL: only probed cells' codes are scored
    val scored = encoded.select(col("id").as("c_id"), col("cent"), col("code"))
      .join(broadcast(q), Seq("cent"))
      .withColumn("adc", graft.functions.VectorExprFunctions
        .pq_adc(col("code"), col("dtab")))
    // cut + exact rerank ([[Pq.cutAndRerank]]); the final k-rank is the
    // bounded heap (Ann.rankTopK) — reranked candidates never cross a
    // shuffle, only n_q·k ranked rows do
    val vectors = corpus.select(col(cId).as("c_id"),
      col(cVec).cast("array<double>").as("c_vec"))
    Ann.rankTopK(Pq.cutAndRerank(scored, rerank, vectors)(
      _.join(broadcast(queries.select(col(qId).as("q_id"),
        col(qVec).cast("array<double>").as("q_vec"))), Seq("q_id"))), k)
  }
}
