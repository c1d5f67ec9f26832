package graft.similarity

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.Commit

/** Drift-triggered ONLINE rebuild for a maintained [[IvfCore]] of any
  * codec — serving continuity across a retrain. A rebuild IN PLACE would
  * black out serving for the whole build; instead each build lands in a
  * fresh GENERATION directory with its frozen centroids persisted beside
  * it (the codec's model, e.g. PQ codebooks, is persisted by the build
  * itself), and a small `current` pointer file promotes it in one atomic
  * rename. Serves resolve the pointer PER CALL: a serve that started
  * before the swap reads the old generation end to end, one after reads
  * the new — never a mix of quantizer, model and data (RotatingIvfSpec
  * races a serve loop against a live rebuild). The reference analog is
  * the secondary-buffer primary swap (`aleph2_search_index_service_
  * elasticsearch/.../utils/ElasticsearchIndexUtils.java:68-87` and the
  * alias rollover in `.../services/ElasticsearchIndexService.java:
  * 335-391`).
  *
  * Retention: the PREVIOUS generation outlives the swap (an in-flight
  * serve may still be reading it — the bounded reader race
  * BucketStore.rewrite documents); older generations, crash-orphaned builds and
  * crashed writers' pointer tmp files are reclaimed at the next rebuild.
  *
  * Centroids ownership: callers hand centroids to [[build]]/[[rebuild]]
  * ONCE; every other op reads the live generation's persisted copy, so a
  * caller can never pair gen-N queries with gen-M data.
  *
  * Writer contract: all mutations of one root serialize on the root's
  * writer monitor ([[graft.store.Commit.lock]], the one the store commits
  * use), so an in-process append waits out a concurrent rebuild and lands
  * in the PROMOTED generation. Across PROCESSES the supported deployment is one
  * writer (unlimited readers); a second process promoting mid-write is
  * caught by a post-commit pointer re-check that fails the write LOUDLY
  * naming the stranded batch instead of letting it silently vanish at the
  * next reclaim. Serves never take the lock.
  */
final class RotatingIvf[C <: CellCodec](val spark: SparkSession,
    val root: String, val nPartitions: Int, val codec: C,
    val idCol: String = "vec_id", val vecCol: String = "embedding",
    val centId: String = "cent_id", val centVec: String = "cent_vec") {

  private def rootPath: Path = Paths.get(root)
  private def pointerPath: Path = rootPath.resolve("current")
  private def writerLock: Object = Commit.lock(rootPath)

  /** Test-only fault-injection seam: invoked after each ordered step of a
    * rebuild (`centroidsPersisted`, `genBuilt`, `ptrWritten`, `promoted`)
    * and once a write resolved its generation (`resolved:<op>`). No-op in
    * production. */
  private[graft] var onStep: String => Unit = _ => ()

  /** The handle the fault-injection specs reach the rebuild seam through
    * (`rotator.onStep`). */
  private[graft] def rotator: this.type = this

  /** The live generation's directory name (one small file read). */
  def currentGen(): String = {
    require(Files.exists(pointerPath), s"rotating index at $root not built")
    new String(Files.readAllBytes(pointerPath), "UTF-8").trim
  }

  private def genIndex(gen: String): IvfCore[C] = new IvfCore(spark,
    rootPath.resolve(gen).toString, nPartitions, codec, idCol, vecCol,
    "cell", centId, centVec)

  private def centroidsPath(gen: String): String =
    rootPath.resolve(gen).resolve("centroids.parquet").toString

  /** The generation's frozen centroids as a driver-local frame, read
    * through the driver's model cache ([[IvfCore.modelRows]]; the
    * generation dir name is unique per rebuild), so a serve of the live
    * generation reads them with no job. */
  private def genCentroids(gen: String): DataFrame = {
    val (rows, schema) = IvfCore.modelRows(spark, centroidsPath(gen))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The live generation's index plus its frozen centroids — resolved
    * together, so every composed operation is self-consistent. */
  def current(): (IvfCore[C], DataFrame) = {
    val g = currentGen()
    (genIndex(g), genCentroids(g))
  }

  /** First build — a rebuild with nothing to retain. */
  def build(corpus: DataFrame, centroids: DataFrame): Unit =
    rebuild(corpus, centroids)

  /** Retrain-and-swap: persist the centroids into a fresh generation,
    * build there AGAINST THE PERSISTED COPY while the live one keeps
    * serving, promote with one atomic pointer rename, then reclaim all but
    * the new generation and its predecessor. Holds the writer lock end to
    * end, so two rebuilds never interleave their promotes. The reclaim is
    * best-effort: once promoted the rebuild stands, and a failed reclaim
    * is logged and retried by the next rebuild. */
  def rebuild(corpus: DataFrame, centroids: DataFrame): Unit =
    writerLock.synchronized {
      Files.createDirectories(rootPath)
      val prev = if (Files.exists(pointerPath)) Some(currentGen()) else None
      val gen = s"gen${System.nanoTime()}"
      centroids.write.mode("overwrite").parquet(centroidsPath(gen))
      onStep("centroidsPersisted")
      // build against the JUST-PERSISTED copy, not the caller's frame: a
      // lazy centroids plan that isn't replay-stable would otherwise
      // persist quantizer X while assigning the data under quantizer Y
      genIndex(gen).build(corpus, genCentroids(gen))
      onStep("genBuilt")
      Commit.replaceFile(pointerPath, ".ptr", gen.getBytes("UTF-8"),
        onStep("ptrWritten"))
      onStep("promoted")
      val keep = Set(gen) ++ prev
      Commit.bestEffort(s"[RotatingIvf] reclaim at $root failed ($gen stands; " +
          "the next rebuild retries)")(Commit.sweep(rootPath)(_.filter { p =>
        val name = p.getFileName.toString
        (Files.isDirectory(p) && name.startsWith("gen") &&
          !keep.contains(name)) || name.startsWith(".ptr")
      }))
    }

  /** One mutation against the live generation under the writer lock,
    * then RE-READ the pointer: a promote that slipped in (only a writer in
    * ANOTHER process can) left this commit in a superseded generation the
    * next rebuild reclaims, so fail loudly naming the stranded op. The
    * inner commit itself is crash-safe (the store's contract); this closes
    * the lost-VISIBILITY window on top of it. */
  private def guardedWrite[A](op: String)(body: String => A): A =
    writerLock.synchronized {
      val gen = currentGen()
      onStep(s"resolved:$op")
      val result = body(gen)
      val now = currentGen()
      if (now != gen)
        throw new java.util.ConcurrentModificationException(
          s"rotating index at $root: generation $gen was promoted away " +
            s"to $now while a $op was committing into it — the $op's " +
            "batch is stranded in the superseded generation (reclaimed at " +
            "the next rebuild) and is NOT in the served view; re-apply it " +
            "against the live generation. A second writer PROCESS did " +
            "this: the supported deployment is one writer process")
      result
    }

  /** O(batch) append into the live generation under its frozen models;
    * past `maxDriftRatio` it fails loudly naming [[rebuild]]. */
  def append(batch: DataFrame, maxDriftRatio: Double = Double.MaxValue): Double =
    guardedWrite("append")(g =>
      genIndex(g).append(batch, genCentroids(g), maxDriftRatio))

  /** Erasure against the live generation. The retained PREVIOUS
    * generation still holds the victims until the next rebuild reclaims
    * it — right-to-erasure pipelines should follow a remove with a
    * [[rebuild]] once in-flight serves drain. */
  def remove(victims: DataFrame, requirePresent: Boolean = true): Long =
    guardedWrite("remove")(g =>
      genIndex(g).remove(victims, genCentroids(g), requirePresent))

  def compact(maxDirs: Int = 1): Seq[Int] =
    guardedWrite("compact")(g => genIndex(g).compact(maxDirs))

  /** [[IvfCore.serve]] over the live generation. */
  def serve(queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int = Int.MaxValue): DataFrame = {
    val (ix, cents) = current()
    ix.serve(queries, cents, k, nprobe, rerank)
  }

  /** [[IvfCore.neighborsWithin]] over the live generation — the dedup
    * service keeps answering across a rebuild. */
  def neighborsWithin(batch: DataFrame, minSim: Double, nprobe: Int,
      rerank: Int = Int.MaxValue): DataFrame = {
    val (ix, cents) = current()
    ix.neighborsWithin(batch, cents, minSim, nprobe, rerank)
  }
}
