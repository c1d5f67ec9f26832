package graft.similarity

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.store.{Commit, PartitionedStore}

/** A PERSISTED, incrementally-maintained IVF index — the op a real serving
  * pipeline runs daily: append a new embedding batch into the persisted
  * index WITHOUT rebuilding it. ONE lifecycle skeleton (build, append,
  * remove, compact, probe-pruned serve, drift check, meta commit) over a
  * [[CellCodec]] that decides what a cell stores beside (id, vec, cell,
  * d2) and how probed candidates are scored: [[RawCodec]] scores by exact
  * cosine, [[PqCodec]] stores residual PQ codes and ADC-cuts before an
  * exact rerank. [[RotatingIvf]] adds no-blackout rebuilds on top.
  * The reference's analog is the time-sliced index append + rollover
  * lifecycle (`aleph2_search_index_service_elasticsearch/.../services/
  * ElasticsearchIndexService.java:335-391`), re-expressed as a lakehouse
  * layout instead of an ES alias dance.
  *
  * Layout: a [[PartitionedStore]] keyed by `cell`, so a partition holds
  * whole cells (at nPartitions ≈ |cells|, about one cell per directory).
  * Serving prunes at the partition-directory level: a query batch probing
  * p of C cells reads ~p/C of the index. Appends commit ONE added data dir
  * per touched partition behind one atomic manifest swap — O(batch) write
  * I/O, crash-safe, time-travelable, version-CAS write-guarded (all
  * inherited, spec'd store contracts); [[compact]] collapses the dirs.
  *
  * Frozen models: the centroids (and the codec's model, e.g. PQ codebooks)
  * are FROZEN at build time — that is what makes appends cheap — so each
  * append measures the batch's mean squared assignment distance against
  * the train-time mean in the meta file and fails loudly, BEFORE any
  * write, past `maxDriftRatio` (the retrain signal). Every row persists
  * its own `d2`, so a post-hoc drift audit never re-scores the corpus.
  *
  * Id contract: appended ids are expected new. A replayed batch (same id,
  * same vector → same cell) is caught by a guard bounded to the touched
  * partitions; a duplicate id arriving with a DIFFERENT vector that lands
  * in another cell is the caller's uniqueness contract, same as any keyed
  * sink here.
  */
class IvfCore[C <: CellCodec](val spark: SparkSession, val root: String,
    val nPartitions: Int, val codec: C, val idCol: String = "vec_id",
    val vecCol: String = "embedding", val cellCol: String = "cell",
    val centId: String = "cent_id", val centVec: String = "cent_vec") {

  val store = new PartitionedStore(spark, root, Seq(cellCol), nPartitions)

  /** Test-only fault-injection seam: invoked after [[build]]'s ordered
    * persistent steps (`metaInvalidated`, the PQ codec's
    * `codebooksWritten`, `storeInit`) so FaultInjectionSpec can snapshot
    * the state a crash at that point would leave. No-op in production. */
  private[graft] var onStep: String => Unit = _ => ()

  private def metaPath = Paths.get(root, codec.metaFile)

  /** A numeric field of the meta file — the build's commit point, so a
    * missing file reads as "not built". */
  private[similarity] def metaField(name: String): Double = {
    require(Files.exists(metaPath), s"${codec.label} index at $root not built")
    val body = new String(Files.readAllBytes(metaPath), "UTF-8")
    ("\"" + name + "\"\\s*:\\s*([-0-9.eE]+)").r.findFirstMatchIn(body)
      .getOrElse(throw new IllegalStateException(
        s"malformed meta at $metaPath: $body")).group(1).toDouble
  }

  /** Train-time mean squared assignment distance (the drift baseline). */
  def trainMeanD2: Double = metaField("train_mean_d2")

  /** The FROZEN residual codebooks of a PQ-coded index. */
  def codebooks()(implicit pq: C <:< PqCodec): Pq.Codebooks =
    pq(codec).load(this)

  private def assign(df: DataFrame, centroids: DataFrame): DataFrame =
    Ann.assignCellsWithDist(df, centroids, idCol, vecCol, centId, centVec,
      cellCol)

  private def storedCols =
    (Seq(idCol, vecCol, cellCol, "d2") ++ codec.columns).map(col)

  /** Build (overwriting any existing index): assign every corpus vector to
    * its nearest frozen centroid, train the codec's model, persist per
    * cell via the store's init, and commit the drift baseline by the
    * meta-file swap.
    *
    * Poisoned-corpus contract: with [[RawCodec]] a null or wrong-dimension
    * vector is first evaluated by the store's init write, i.e. after the
    * previous meta was invalidated (the PQ codec meets it earlier, in
    * `Pq.train`). Catching it sooner would cost a corpus-sized pass. So
    * the build fails naming the vector's id, the previous index then reads
    * "not built" although its data is intact, and a clean rebuild recovers
    * it. */
  def build(corpus: DataFrame, centroids: DataFrame): Unit = {
    // validate BEFORE invalidating anything: an empty rebuild corpus (an
    // upstream filter bug) must fail HERE, while the previous index's data
    // and baseline are still fully intact — not after the overwrite
    require(!corpus.isEmpty, s"${codec.label} build corpus is empty — an " +
      s"index at $root needs at least one vector")
    val rows = codec.prepare(this, assign(corpus, centroids), centroids)
    // the codec's own validation (PQ: >= k sample vectors, dim divisible
    // by m) also runs while the previous index is intact
    val model = codec.train(this, rows)
    // invalidate the PREVIOUS build's baseline (and with it the pairing of
    // stored codes and codec model) BEFORE the first persistent mutation:
    // a crash before the new meta swap must leave "index not built", never
    // a fresh index drift-checked against a stale baseline
    Files.deleteIfExists(metaPath)
    onStep("metaInvalidated")
    codec.persist(this, model)
    // the drift baseline rides the init write as an observed metric: one
    // action, no post-write d2-column scan of the just-written index
    val obs = Observation()
    store.init(codec.encode(rows, model).select(storedCols: _*)
      .observe(obs, avg(col("d2")).as("mean_d2")))
    onStep("storeInit")
    val mean = obs.get.get("mean_d2").flatMap(Option(_))
    require(mean.isDefined, s"${codec.label} build corpus yielded no " +
      s"assignment distances (empty centroid set?) — the index at $root " +
      "has no drift baseline")
    val body = s"""{"train_mean_d2":${mean.get},${codec.metaFields(model)}""" +
      s""""n_partitions":$nPartitions}"""
    Commit.replaceFile(metaPath, ".meta_tmp", body.getBytes("UTF-8"))
  }

  /** Append a batch under the FROZEN models: assign, drift-check, encode
    * and commit through the store's APPEND commit — write I/O is
    * O(|batch|) (one new dir per touched partition, existing dirs
    * untouched), and a failure at any point (drift, replay, a poisoned
    * batch) leaves the index byte-identical at its previous version.
    * Returns the measured drift ratio (batch mean d2 over the train-time
    * mean). */
  def append(batch: DataFrame, centroids: DataFrame,
      maxDriftRatio: Double = Double.MaxValue): Double = {
    val baseline = trainMeanD2
    val model = codec.load(this)
    val rows = codec.prepare(this, assign(batch, centroids), centroids)
    // ONE pre-commit job: the drift statistic and the touched-partition
    // set ride the same aggregate (an append is latency-sensitive — a
    // separate action per statistic hands the win to the rebuild on pure
    // job-submission overhead, which the ann14_append_scale gate measures)
    val pre = rows.agg(avg(col("d2")).as("mean"),
      collect_set(store.partitionId).as("touched")).collect()(0)
    require(!pre.isNullAt(0), "append batch is empty")
    val mean = pre.getDouble(0)
    // a zero baseline (every training vector ON its centroid) with a
    // zero-distance batch is NO drift, not infinite drift
    val ratio = if (baseline > 0) mean / baseline
      else if (mean == 0) 1.0 else Double.PositiveInfinity
    if (ratio > maxDriftRatio)
      throw new IllegalStateException(
        f"quantizer drift: batch mean d2 $mean%.6f is $ratio%.2fx the " +
          f"train-time mean $baseline%.6f (max $maxDriftRatio%.2f) — " +
          "re-train the centroids and rebuild the index (RotatingIvf" +
          s".rebuild swaps a fresh ${codec.label} build in without a " +
          "serving blackout)")
    // replay guard, bounded to the touched partitions (where a same-vector
    // duplicate MUST land) and FUSED into the commit's own write job
    val touched = pre.getSeq[Int](1).sorted
    store.append(touched, PartitionedStore.guardReplays(
      codec.encode(rows, model), store.readPartitions(touched), idCol)
      .select(storedCols: _*))
    ratio
  }

  /** Right-to-erasure delete. `victims` carries the SAME columns as an
    * append batch (id + vector): the vector re-derives the victim's cell
    * under the frozen quantizer (same argmin ⇒ same partition as when it
    * was indexed), so only the touched partitions are read, anti-joined
    * and rewritten. An id with no stored vector is a loud error by default
    * (`requirePresent`): deleting a doc that was never indexed usually
    * means an id-space bug. Returns the count of rows removed. */
  def remove(victims: DataFrame, centroids: DataFrame,
      requirePresent: Boolean = true): Long =
    store.removeIds(assign(victims, centroids), idCol, storedCols,
      requirePresent)

  /** Collapse every partition fragmented past `maxDirs` append dirs back
    * to one — the OPTIMIZE lever bounding append-path read amplification.
    * Returns the compacted partition ids (empty = no commit). */
  def compact(maxDirs: Int = 1): Seq[Int] = store.compact(maxDirs)

  /** Top-`k` serve, partition-pruned. `nprobe = |cells|` probes everything
    * (with the default exhaustive `rerank`, provably exact — the oracle
    * config); bounded nprobe reads ~nprobe/C of the index; `rerank` bounds
    * the PQ codec's ADC cut (raw scores are already exact). */
  def serve(queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int, rerank: Int = Int.MaxValue): DataFrame = {
    require(k >= 1 && nprobe >= 1 && rerank >= k,
      s"need k >= 1, nprobe >= 1, rerank >= k: $k/$nprobe/$rerank")
    // bounded-heap rank: candidates never cross a shuffle
    Ann.rankTopK(scored(queries, centroids, nprobe, rerank), k)
  }

  /** Threshold (radius) neighbor join — the SEMANTIC-DEDUP serving shape:
    * every stored vector within cosine >= `minSim` of a batch vector, as
    * `(corpus_id, new_id, sim)`, through the same probe machinery as
    * [[serve]]; `sim` is always the exact cosine (the PQ codec's rerank
    * verifies the threshold, never the approximate distance). Bounded
    * nprobe/rerank is the documented one-sided recall trade. Identity
    * pairs (same id) are excluded so an append-then-query service doesn't
    * report each row as its own duplicate. */
  def neighborsWithin(batch: DataFrame, centroids: DataFrame,
      minSim: Double, nprobe: Int, rerank: Int = Int.MaxValue): DataFrame = {
    require(nprobe >= 1 && rerank >= 1,
      s"need nprobe >= 1, rerank >= 1: $nprobe/$rerank")
    scored(batch, centroids, nprobe, rerank)
      .filter(col("sim") >= minSim && col("c_id") =!= col("q_id"))
      .select(col("c_id").as("corpus_id"), col("q_id").as("new_id"),
        col("sim"))
  }

  /** Probe + prune + score, `(q_id, c_id, sim)`. Probing and routing run
    * on the driver: [[Ann.collectProbes]] collects the query batch (the one
    * job before scoring) and derives each query's `nprobe` nearest cells
    * with the `probe_cells` kernel, and [[PartitionedStore.touchedBy]]
    * routes those cells through the store's own partitioning expression
    * over a local relation (no job). Bounded driver state: the batch is
    * broadcast-sized by contract, and the centroids and the codec's model
    * are model-sized. Spark then runs only the codec's scoring of the
    * pruned partitions. */
  private def scored(queries: DataFrame, centroids: DataFrame, nprobe: Int,
      rerank: Int): DataFrame = {
    val model = codec.load(this)
    val (probeRows, probeSchema) = Ann.collectProbes(
      queries, centroids, nprobe, idCol, vecCol, centId, centVec)
    // cell type from the PINNED schema (one small file), never from a
    // read() plan — a file index over every data dir per serve would be
    // O(store) Spark-driver metadata I/O. The probed cells must carry the
    // stored type exactly, or xxhash64 would route to other partitions
    val cellType = store.schema(cellCol).dataType
    val cells = Ann.probeCells(probeRows, cellType)
    val cellsDf = spark.createDataFrame(
      java.util.Arrays.asList(cells.map(c => Row(c)): _*),
      StructType(Seq(StructField(cellCol, cellType, nullable = false))))
    // an EMPTY query batch probes no cells: read one partition anyway so
    // the empty result keeps the full output schema
    val ids = if (cells.isEmpty) Seq(0) else store.touchedBy(cellsDf)
    codec.score(this, store.readPartitions(ids), probeRows, probeSchema,
      model, rerank)
  }
}

object IvfCore {
  private type Listing = Vector[(String, Long)]

  /** [[modelRows]]' entries: model file path → (its data-file listing,
    * rows, schema). */
  private val models =
    new ConcurrentHashMap[String, (Listing, Array[Row], StructType)]()

  /** The rows of a small parquet model file a serve reads — the PQ
    * codebooks, a rotating index's generation centroids — cached on the
    * driver per path and reused while the file's data-file listing is
    * unchanged. The listing is the commit the index already makes: a
    * build writes its model once, and Spark names every written file with
    * a fresh UUID, so a rebuild's model (in place, or in a new generation
    * dir) never matches an old entry; nothing is keyed by time. A miss
    * drops the entries whose file is gone (reclaimed generations), so the
    * cache holds one model-sized entry per live model file. */
  private[similarity] def modelRows(spark: SparkSession,
      path: String): (Array[Row], StructType) = {
    val dir = Paths.get(path).toAbsolutePath.normalize
    val seen = Commit.dataFiles(dir, dir)
    Option(models.get(dir.toString)).filter(e => seen.contains(e._1))
      .map(e => (e._2, e._3)).getOrElse {
        val df = spark.read.parquet(path)
        val rows = df.collect()
        models.keySet.removeIf(p => !Files.exists(Paths.get(p)))
        // a write that raced the read leaves no entry
        if (seen.nonEmpty && Commit.dataFiles(dir, dir) == seen)
          models.put(dir.toString, (seen.get, rows, df.schema))
        (rows, df.schema)
      }
  }
}

/** The raw-codec maintained index: `new IvfIndex(spark, root, nPartitions)`. */
final class IvfIndex(spark: SparkSession, root: String, nPartitions: Int)
  extends IvfCore(spark, root, nPartitions, RawCodec)
