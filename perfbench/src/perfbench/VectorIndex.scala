package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Clustering
import graft.similarity.{Ann, IvfIndex, KMeans}

/** Curation and serving over a maintained IVF index built from a seeded
  * Gaussian-mixture corpus (20k × 64-d, `array<float>` straight from an
  * embedding UDF). The loop mixes single-vector k-NN serves with ingest
  * batches of 1000 vectors (10 % near duplicates of stored ones) that go
  * through a radius join, connected components and an append of the
  * survivors; every tenth operation removes vectors and every tenth
  * compacts the index. */
final class VectorIndex(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  def cycle = 10

  val CorpusRows = 20000L
  val Cells = 32
  val K = 10
  val NProbe = 4
  /** probes of the near-duplicate join: a near duplicate lands in its
    * original's cell */
  val DedupProbe = 1
  val Batch = 1000
  val DupShare = 0.10
  val MinSim = 0.97

  private val EdgeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "corpus_id BIGINT, new_id BIGINT")
  private var idx: IvfIndex = _
  private var cents: DataFrame = _
  private val stored = mutable.HashSet.empty[Long]
  private var nextId = 0L
  private var queryId = 0L
  private val rng = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)

  // traced-run counters, per op index
  private val pairs = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val kept = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val results = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

  def setup(): Unit = {
    val root = freshDir("ivf_index")
    val corpus = Data.corpus(spark, seed, 0, CorpusRows)
    cents = Trace.call("similarity", "kmeans")(
      KMeans.train(corpus, "vec_id", "embedding", k = Cells, iters = 3))
    idx = new IvfIndex(spark, root.toString, nPartitions = Cells)
    Trace.call("similarity", "build")(idx.build(corpus, cents))
    stored.clear()
    stored ++= 0L until CorpusRows
    nextId = 1000000L
    queryId = 100000000L
  }

  private def query(n: Int): DataFrame = {
    val from = queryId
    queryId += n
    Data.corpus(spark, seed, from, from + n)
  }

  /** A serve and a 100-vector ingest before the loop, untimed. */
  override def warmup(): Unit = { serve(-1); ingest(-1, 100) }

  // fixed cycle, so every run sees the same mix: 6 serves, 2 ingests, one
  // remove and one compact per 10 operations
  private val Cycle = IndexedSeq("serve", "serve", "ingest", "serve", "remove",
    "serve", "serve", "ingest", "serve", "compact")

  def step(i: Int): Unit = Cycle(i % Cycle.size) match {
    case "serve" => serve(i)
    case "ingest" => ingest(i)
    case "remove" => remove(i)
    case "compact" => timedOp("compact", i, 'm')(
      Trace.call("similarity", "compact")(idx.compact(maxDirs = 1)))
  }

  private def serve(i: Int): Unit = {
    val q = query(1)
    var n = 0
    timedOp("serve", i, 'r') {
      n = Trace.call("similarity", "serve")(idx.serve(q, cents, K, NProbe).collect()).length
      results(i) = n
    }
    expect(n == K, s"serve returned $n rows, wanted $K")
  }

  private def ingest(i: Int, size: Int = Batch): Unit = {
    val from = nextId
    nextId += size
    val batch = Data.ingestBatch(spark, seed, from, from + size, CorpusRows, DupShare)
    var survivors = Seq.empty[Long]
    val ok = timedOp("ingest", i, 'w') {
      val edges = Trace.call("dedup", "neighbors")(
        idx.neighborsWithin(batch, cents, MinSim, DedupProbe).select("corpus_id", "new_id").collect())
      val matched = edges.map(_.getLong(0)).distinct.toSeq
      val nodes = batch.select(col("vec_id").as("node"))
        .unionByName(spark.createDataset(matched)(org.apache.spark.sql.Encoders.scalaLong).toDF("node"))
      val edgeDf = spark.createDataFrame(java.util.Arrays.asList(edges: _*), EdgeSchema)
      val labels = Trace.call("dedup", "cc")(
        Clustering.connectedComponents(edgeDf, nodes).collect())
      // a batch vector survives when its component holds no stored vector
      survivors = labels.collect {
        case r if r.getLong(0) >= from && r.getLong(1) >= from && r.getLong(0) == r.getLong(1) =>
          r.getLong(0)
      }.toSeq
      Trace.call("similarity", "append")(
        idx.append(batch.filter(col("vec_id").isInCollection(survivors)), cents))
      pairs(i) = edges.length
      kept(i) = survivors.size
    }
    if (ok) stored ++= survivors
  }

  private def remove(i: Int): Unit = {
    val victims = Seq.fill(20)(rng.nextLong(CorpusRows)).distinct.filter(stored)
    val frame = Data.corpus(spark, seed, 0, CorpusRows)
      .filter(col("vec_id").isInCollection(victims))
    val ok = timedOp("remove", i, 'm')(
      Trace.call("similarity", "remove")(idx.remove(frame, cents)))
    if (ok) stored --= victims
  }

  private def ranks(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  var recall = Double.NaN

  def check(): Unit = {
    val all = idx.store.read().select("vec_id", "embedding")
    val ids = all.agg(count(lit(1)), countDistinct("vec_id"), sum("vec_id")).collect()(0)
    expect(ids.getLong(0) == stored.size && ids.getLong(1) == stored.size &&
      ids.getLong(2) == stored.sum, s"index holds ${ids.getLong(0)} vectors " +
      s"(${ids.getLong(1)} distinct), model ${stored.size}")
    val q = query(10)
    val exact = ranks(Ann.bruteForceTopK(q, all, K))
    // exact mode (every cell probed) must equal brute force
    expect(ranks(idx.serve(q, cents, K, nprobe = Cells)) == exact,
      "exhaustive serve differs from brute-force top-k")
    // recall of the served configuration
    val truth = exact.map(t => (t._1, t._2))
    val got = ranks(idx.serve(q, cents, K, NProbe)).map(t => (t._1, t._2))
    recall = (got & truth).size.toDouble / truth.size
  }

  override def reportExtras: Seq[(String, Double, String)] = Seq(
    ("recall_at_10", recall, "fraction"),
    ("stored_vectors", stored.size.toDouble, "count"))

  def layerExtras(spans: Seq[Span], w: JobListener): Map[String, Double] = {
    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def med(layer: String, name: String) = Stats.median(named(layer, name).map(_.wall))
    def jobsPer(layer: String, name: String) = {
      val ss = named(layer, name)
      if (ss.isEmpty) 0.0 else ss.flatMap(s => w.work.get(s.id)).map(_.jobs).sum.toDouble / ss.size
    }
    val serves = named("similarity", "serve")
    val scanned = serves.flatMap(s => w.work.get(s.id)).map(_.inputRecords).sum
    val returned = serves.map(s => results(s.op)).sum
    val ingests = named("similarity", "append").map(_.op)
    val dirs = Trace.op("stats", -3, traced = true)(
      Trace.call("store", "dir_counts")(idx.store.dirCounts()))
    Seq("serve", "append", "remove", "compact", "build", "kmeans")
      .map(n => s"similarity.${n}_ms" -> med("similarity", n)).toMap ++ Map(
      "similarity.jobs_per_serve" -> jobsPer("similarity", "serve"),
      "similarity.jobs_per_append" -> jobsPer("similarity", "append"),
      "similarity.candidates_per_result" -> (if (returned == 0) 0.0 else scanned.toDouble / returned),
      "similarity.recall_at_10" -> recall,
      "dedup.neighbors_ms" -> med("dedup", "neighbors"),
      "dedup.cc_ms" -> med("dedup", "cc"),
      "dedup.cc_jobs" -> jobsPer("dedup", "cc"),
      "dedup.pairs_per_batch" -> (if (ingests.isEmpty) 0.0 else ingests.map(pairs).sum.toDouble / ingests.size),
      "dedup.kept_frac" -> (if (ingests.isEmpty) 0.0 else ingests.map(kept).sum.toDouble / (ingests.size * Batch)),
      "store.dirs_per_partition" -> (if (dirs.isEmpty) 0.0 else dirs.values.sum.toDouble / dirs.size))
  }
}
