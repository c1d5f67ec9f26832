package graft.similarity

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.BroadcastLookup

/** What an [[IvfCore]] cell stores beside (id, vec, cell, d2), the model
  * frozen with it at build, and how the probed candidates are scored into
  * `(q_id, c_id, sim)`. The defaults are the raw codec's identities. */
sealed trait CellCodec {
  /** The frozen per-index model trained at build. */
  type Model
  /** Index flavor named in errors. */
  def label: String
  /** The meta file — the build's commit point. */
  def metaFile: String
  /** Stored columns beyond (id, vec, cell, d2). */
  def columns: Seq[String] = Nil
  /** Extra meta-file fields, each `"name":value,`. */
  def metaFields(model: Model): String = ""
  /** Per-row codec input derived from the assigned rows (before the
    * append's drift aggregate, so both read one plan). */
  def prepare(ix: IvfCore[_], assigned: DataFrame,
      centroids: DataFrame): DataFrame = assigned
  /** Train the model — runs BEFORE the build invalidates anything, so its
    * validation failures leave the previous index intact. */
  def train(ix: IvfCore[_], rows: DataFrame): Model
  /** Persist the model (after invalidation, before the store init). */
  def persist(ix: IvfCore[_], model: Model): Unit = ()
  /** The persisted model; fails loudly while the index is not built. */
  def load(ix: IvfCore[_]): Model
  def encode(rows: DataFrame, model: Model): DataFrame = rows
  /** Score the pruned partitions against the driver-derived probe rows
    * (q_id, q_vec, cent, cv) of [[Ann.collectProbes]]. */
  def score(ix: IvfCore[_], pruned: DataFrame, probeRows: Array[Row],
      probeSchema: StructType, model: Model, rerank: Int): DataFrame
}

/** Raw vectors, scored by exact cosine; no model beyond the centroids. */
object RawCodec extends CellCodec {
  type Model = Unit
  val label = "IVF"
  val metaFile = "ivf_meta.json"
  def train(ix: IvfCore[_], rows: DataFrame): Unit = ()
  def load(ix: IvfCore[_]): Unit = ()
  def score(ix: IvfCore[_], pruned: DataFrame, probeRows: Array[Row],
      probeSchema: StructType, model: Unit, rerank: Int): DataFrame =
    Ann.scoreOverProbes(pruned, probeRows, probeSchema,
      ix.cellCol, ix.idCol, ix.vecCol)
}

/** Product-quantized residual codes beside each vector — what production
  * IVF serving deploys at 100 TB (FAISS IndexIVFPQ as a lakehouse table;
  * the static composition is q:ann11 / [[IvfPq]]). The serving scan reads
  * (cell, id, code) — a few bytes per vector, column-pruned out of the
  * parquet so the raw vectors never move — and only the `rerank` ADC
  * survivors per query fetch their raw vector for the exact re-score,
  * from the same probed partitions, AFTER the cut. The residual codebooks
  * are frozen with the coarse quantizer (`pq_codebooks.parquet`, m·k rows
  * of bounded model state); their sub-dimension rides the meta file, so a
  * crash that left NEW codebooks beside OLD codes reads as "not built". */
final case class PqCodec(m: Int, k: Int) extends CellCodec {
  require(m >= 1 && k >= 2, s"m/k must be >= 1/2: $m/$k")
  type Model = Pq.Codebooks
  val label = "IVF-PQ"
  val metaFile = "ivfpq_meta.json"
  override val columns = Seq("code")

  private def booksPath(ix: IvfCore[_]) =
    Paths.get(ix.root, "pq_codebooks.parquet").toString

  override def metaFields(books: Pq.Codebooks): String =
    s""""m":$m,"k":$k,"sub_dim":${books.subDim},"""

  /** The residual against the ASSIGNED cell's centroid — the corpus side
    * of the asymmetric distance; the centroids ship as a broadcast
    * variable keyed by cell, so no broadcast job runs per action. */
  override def prepare(ix: IvfCore[_], assigned: DataFrame,
      centroids: DataFrame): DataFrame = {
    val cent = centroids.select(col(ix.centId).as("__cell"),
      col(ix.centVec).cast("array<double>").as("__cv"))
    assigned.withColumn("__res", zip_with(col(ix.vecCol).cast("array<double>"),
      BroadcastLookup.join(cent, "__cell", col(ix.cellCol)).getItem(0)
        .getField("__cv"), (a, b) => a - b))
  }

  def train(ix: IvfCore[_], rows: DataFrame): Pq.Codebooks =
    Pq.train(rows.select(col(ix.idCol), col("__res")), ix.idCol, "__res",
      m, k, iters = 2)

  // ONE definition of the (sub, cent, cv) codebook row layout, shared
  // with Pq, so what load() reads can't desynchronize from what was written
  override def persist(ix: IvfCore[_], books: Pq.Codebooks): Unit = {
    Pq.codebookFrame(ix.spark, books.cents)
      .coalesce(1).write.mode("overwrite").parquet(booksPath(ix))
    ix.onStep("codebooksWritten")
  }

  /** The frozen codebooks, read through the driver's model cache
    * ([[IvfCore.modelRows]]): a serve of an unchanged build reads them
    * with no job. */
  def load(ix: IvfCore[_]): Pq.Codebooks = {
    val d = ix.metaField("sub_dim").toInt
    val (rows, _) = IvfCore.modelRows(ix.spark, booksPath(ix))
    require(rows.length == m * k,
      s"codebooks at ${ix.root} hold ${rows.length} entries, expected ${m * k}")
    val arr = Array.fill(m, k)(Seq.empty[Double])
    rows.foreach(r => arr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2))
    Pq.Codebooks(m, k, d, arr.map(_.toIndexedSeq).toIndexedSeq)
  }

  override def encode(rows: DataFrame, books: Pq.Codebooks): DataFrame =
    Pq.encode(rows, "__res", books)

  /** ADC cut + exact rerank: per (query, probed cell) the query's residual
    * against THAT cell → one m×k distance table; keep `rerank` candidates
    * per query by quantized distance; `sim` is the EXACT cosine. The
    * distance tables are computed in a projection over the driver-side
    * probe rows (each carries its cell's centroid), so their broadcast
    * runs no job. An exhaustive `rerank` keeps every candidate, so the
    * quantized distances decide nothing: the probed partitions' vectors
    * are scored exactly, the raw codec's one scan, with no code scan and
    * no candidate join. */
  def score(ix: IvfCore[_], pruned: DataFrame, probeRows: Array[Row],
      probeSchema: StructType, books: Pq.Codebooks,
      rerank: Int): DataFrame = {
    if (rerank == Int.MaxValue)
      return RawCodec.score(ix, pruned, probeRows, probeSchema, (), rerank)
    val cellType = pruned.schema(ix.cellCol).dataType
    val probesLocal = ix.spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    val probes = probesLocal.select(col("cent").cast(cellType).as("__cell"),
      col("q_id"), Pq.distanceTable(zip_with(col("q_vec").cast("array<double>"),
        col("cv").cast("array<double>"), (a, b) => a - b), books).as("__dtab"))
    // ADC scan: ONLY (cell, id, code) of the probed partitions — the
    // parquet reader prunes the raw-vector column out of this stage
    val scored = pruned.select(col(ix.idCol).as("c_id"), col("code"),
        explode(BroadcastLookup.join(probes, "__cell", col(ix.cellCol)))
          .as("__p"))
      .select(col("__p.q_id").as("q_id"), col("c_id"),
        graft.functions.VectorExprFunctions
          .pq_adc(col("code"), col("__p.__dtab")).as("adc"))
    // exact rerank ([[Pq.cutAndRerank]]): |queries|·rerank raw vectors from
    // the probed partitions; the query vectors (one per query id) attach
    // through a broadcast-variable lookup, so no broadcast job runs
    val qVecs = ix.spark.createDataFrame(
        java.util.Arrays.asList(probeRows.distinctBy(_.get(0)): _*), probeSchema)
      .select(col("q_id"), col("q_vec").cast("array<double>").as("q_vec"))
    Pq.cutAndRerank(scored, rerank, pruned.select(col(ix.idCol).as("c_id"),
        col(ix.vecCol).cast("array<double>").as("c_vec"))) {
      _.select(col("*"),
        inline(BroadcastLookup.join(qVecs, "q_id", col("q_id"))))
    }
  }
}
