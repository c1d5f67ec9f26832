package graft.similarity

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lloyd's k-means trainer for the IVF coarse quantizer ([[Ann.ivfTopK]]'s
  * `centroids` input) — the piece that turns caller-supplied cells into a
  * trained index.
  *
  * Design for 100 TB: the trainer is meant to run on a SAMPLE
  * (`df.sample(...)` upstream — standard IVF practice: centroids from a few
  * hundred thousand vectors quantize billions). Per iteration:
  *
  *  - assignment = a per-row argmin over the constant cells array
  *    ([[graft.functions.NearestCell]], ties to the lower cent id) — a
  *    narrow projection: no join, no shuffle, no window sort;
  *  - mean update = posexplode to (cell, dim) partial sums — map-side
  *    partial agg; only k·dim aggregated doubles ever reach the driver
  *    (the centroids themselves, which must become broadcast literals for
  *    the next round anyway).
  *
  * Deterministic end-to-end: init = the k lowest-id vectors, fixed iteration
  * count, ties on distance broken by centroid id.
  */
object KMeans {

  /** Train k centroids; returns a (cent_id long, cent_vec array<double>)
    * frame directly consumable by [[Ann.ivfTopK]]. Empty cells keep their
    * previous centroid. */
  def train(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 5): DataFrame = {
    val spark = df.sparkSession
    val sample = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))

    var centroids: IndexedSeq[Seq[Double]] = sample.orderBy("id").limit(k)
      .collect().map(_.getSeq[Double](1)).toIndexedSeq
    require(centroids.size == k, s"need at least $k vectors to init")

    for (_ <- 0 until iters) {
      val cents = centroidFrame(spark, centroids)
      val assigned = assignCells(sample, cents)
      // (cell, dim) → sum/count; k·dim rows total
      val stats = assigned
        .select(col("cent"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy("cent", "dim")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(k)(i => centroids(i).toArray)
      stats.groupBy(_.getLong(0)).foreach { case (cell, rows) =>
        rows.foreach { r =>
          next(cell.toInt)(r.getInt(1)) = r.getLong(3) match {
            case 0 => next(cell.toInt)(r.getInt(1))
            case n => r.getDouble(2) / n
          }
        }
      }
      centroids = next.map(_.toSeq).toIndexedSeq
    }
    centroidFrame(spark, centroids)
  }

  /** Mean squared distance of every vector to its assigned centroid — the
    * k-means objective (monotonically non-increasing over Lloyd's rounds). */
  def objective(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): Double = {
    val sample = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    assignCells(sample, centroids
        .select(col("cent_id"), col("cent_vec")))
      .agg(avg("d2")).head().getDouble(0)
  }

  private def centroidFrame(spark: SparkSession,
      cs: IndexedSeq[Seq[Double]]): DataFrame = {
    val rows = cs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("cent_id", LongType, nullable = false),
        StructField("cent_vec", ArrayType(DoubleType), nullable = false))))
  }

  /** Nearest-cell assignment: (id, vec, cent, d2) with d2 = min over cells,
    * ties to the lower cent_id — per-row argmin over the constant cells
    * array ([[Ann.cellsCol]]): same (d2, cent) winner as the old
    * broadcast-join + min(struct) aggregate, with no shuffle of the
    * sample and no broadcast job per Lloyd's round. */
  private def assignCells(sample: DataFrame, cents: DataFrame): DataFrame =
    sample
      .select(col("id"), col("vec"),
        graft.functions.VectorExprFunctions.nearest_cell(col("vec"),
          Ann.cellsCol(cents, "cent_id", "cent_vec")).as("__nc"))
      .select(col("id"), col("vec"),
        col("__nc.cent").as("cent"), col("__nc.d2").as("d2"))
}
