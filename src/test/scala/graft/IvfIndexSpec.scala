package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Ann, IvfIndex, KMeans}
import graft.util.Scratch

/** The incrementally-maintained persisted IVF index (q:ann14): append ≡
  * rebuild at every config, crash/drift/replay failures leave the index
  * byte-identical at its previous version, and serving prunes at the
  * partition-directory level. */
class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()

  private def newIndex(nPartitions: Int = 8) = new IvfIndex(spark,
    Scratch.dir("graft_ivfidx"), nPartitions)

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("append ≡ rebuild: serve results identical at bounded nprobe and " +
      "exhaustive; exhaustive equals exact over the full corpus") {
    val base = emb.filter(col("vec_id") % 4 <= 1)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 8, iters = 3)
    val appended = newIndex()
    appended.build(base, cents)
    val r1 = appended.append(emb.filter(col("vec_id") % 4 === 2), cents)
    val r2 = appended.append(emb.filter(col("vec_id") % 4 === 3), cents)
    // same-distribution batches barely drift under the frozen quantizer
    assert(r1 > 0.25 && r1 < 4.0, s"in-distribution drift ratio: $r1")
    assert(r2 > 0.25 && r2 < 4.0, s"in-distribution drift ratio: $r2")
    val rebuilt = newIndex()
    rebuilt.build(emb, cents) // whole corpus, same frozen centroids
    val q = emb.filter(col("vec_id") < 8)
    for (np <- Seq(1, 2, 8)) {
      val a = pairs(appended.serve(q, cents, k = 3, nprobe = np))
      val b = pairs(rebuilt.serve(q, cents, k = 3, nprobe = np))
      assert(a === b, s"append path != rebuild path at nprobe=$np")
    }
    // exhaustive probes over the appended index == exact top-k, full corpus
    val exact = pairs(Ann.bruteForceTopK(q, emb, k = 3))
    assert(pairs(appended.serve(q, cents, k = 3, nprobe = 8)) === exact)
  }

  test("a poisoned append leaves the index at its previous version; " +
      "drift and replay guards fail BEFORE any write") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val idx = newIndex(4)
    idx.build(base, cents)
    val before = pairs(idx.serve(emb.filter(col("vec_id") < 4), cents,
      k = 3, nprobe = 4))
    val v1 = idx.store.version()
    // 1) poisoned batch: fails mid-write, store rolls back
    val poisoned = emb.filter(col("vec_id") % 2 === 1)
      .select(when(col("vec_id") >= 0,
        expr("raise_error('poison')")).cast("long").as("vec_id"),
        col("embedding"))
    intercept[Exception] { idx.append(poisoned, cents) }
    // 2) drifted batch (every vector shifted far off the trained cells):
    // the ratio check throws before any data lands
    val shifted = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(25.0f)))
    val e = intercept[IllegalStateException] {
      idx.append(shifted, cents, maxDriftRatio = 3.0)
    }
    assert(e.getMessage.contains("drift"))
    assert(e.getMessage.contains("re-train"))
    // 3) replayed batch (ids already indexed): the replay guard — fused
    // into the commit's write job — fails the append and the store tears
    // the partial down
    val replay = intercept[Exception] {
      idx.append(emb.filter(col("vec_id") % 2 === 0).limit(3), cents)
    }
    assert(Iterator.iterate[Throwable](replay)(_.getCause)
      .takeWhile(_ != null).take(8)
      .exists(t => t.getMessage != null && t.getMessage.contains("replays")),
      s"replay failure lost its message: ${replay.getMessage}")
    // after all three failures: same version, byte-identical serving
    assert(idx.store.version() === v1)
    assert(pairs(idx.serve(emb.filter(col("vec_id") < 4), cents,
      k = 3, nprobe = 4)) === before)
    // and the drift ratio IS the retrain signal: measured far above 3x
    val measured = {
      val fresh = newIndex(4)
      fresh.build(base, cents)
      fresh.append(shifted, cents) // no ceiling: returns the ratio
    }
    assert(measured > 3.0, s"shifted batch should drift hard: $measured")
  }

  test("compact collapses appended dir lists to one dir per partition; " +
      "serving is unchanged; a clean index is a no-op") {
    val base = emb.filter(col("vec_id") % 4 <= 1)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val idx = newIndex(4)
    idx.build(base, cents)
    idx.append(emb.filter(col("vec_id") % 4 === 2), cents)
    idx.append(emb.filter(col("vec_id") % 4 === 3), cents)
    val fragged = idx.store.manifest()
    assert(fragged.values.exists(_.contains(";")),
      s"appends did not fragment any partition: $fragged")
    val q = emb.filter(col("vec_id") < 4)
    val before = pairs(idx.serve(q, cents, k = 3, nprobe = 4))
    val v = idx.store.version()
    val compacted = idx.compact()
    assert(compacted.nonEmpty)
    assert(idx.store.manifest().values.forall(!_.contains(";")),
      s"dir lists survived compact: ${idx.store.manifest()}")
    assert(idx.store.version() === v + 1)
    assert(pairs(idx.serve(q, cents, k = 3, nprobe = 4)) === before)
    // already-compact index: no commit, no version bump
    assert(idx.compact() === Seq.empty)
    assert(idx.store.version() === v + 1)
  }

  test("remove: victims localize to their cells, fragmented partitions " +
      "compact through the rewrite, absent ids fail loudly by default") {
    val base = emb.filter(col("vec_id") % 4 <= 1)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val idx = newIndex(4)
    idx.build(base, cents)
    idx.append(emb.filter(col("vec_id") % 4 === 2), cents) // fragment dirs
    // victims span the built half (%8=1 ⊂ %4=1) AND the appended batch
    // (%8=2 ⊂ %4=2), so the rewrite crosses fragmented partitions
    val victims = emb.filter(col("vec_id") % 8 === 1 ||
      col("vec_id") % 8 === 2)
    val nVictims = victims.count()
    val removed = idx.remove(victims, cents)
    assert(removed === nVictims, s"removed $removed of $nVictims")
    // exhaustive serve over the post-delete index == exact over survivors
    val survivors = emb.filter(col("vec_id") % 4 <= 2 &&
      col("vec_id") % 8 =!= 1 && col("vec_id") % 8 =!= 2)
    val q = emb.filter(col("vec_id") < 4)
    assert(pairs(idx.serve(q, cents, k = 3, nprobe = 4)) ===
      pairs(Ann.bruteForceTopK(q, survivors, k = 3)))
    // the victims' ids are genuinely gone from storage, not just masked
    assert(idx.store.read().join(victims.select("vec_id"), Seq("vec_id"))
      .count() === 0L)
    // an id the index never held: loud by default, a no-op when waived
    val ghost = emb.filter(col("vec_id") % 4 === 3).limit(2)
    val e1 = intercept[IllegalArgumentException] { idx.remove(ghost, cents) }
    assert(e1.getMessage.contains("not in the index"))
    assert(idx.remove(ghost, cents, requirePresent = false) === 0L)
  }

  test("empty inputs: an empty erasure batch is a 0-row no-op (no version " +
      "bump); an empty build corpus fails loudly; a build that crashes " +
      "mid-commit invalidates the drift baseline rather than going stale") {
    val base = emb.filter(col("vec_id") % 4 <= 1)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val idx = newIndex(4)
    idx.build(base, cents)
    val v = idx.store.version()
    // empty victims frame: a normal no-op, not "no partitions requested"
    assert(idx.remove(emb.filter(col("vec_id") < 0), cents) === 0L)
    assert(idx.store.version() === v, "empty remove must not commit")
    // empty corpus: a clear requirement failure, not an NPE on avg(d2) —
    // and on an EXISTING index it fails BEFORE anything is invalidated
    // (an upstream filter bug must not destroy a healthy index's data or
    // its drift baseline)
    val e = intercept[IllegalArgumentException] {
      idx.build(emb.filter(col("vec_id") < 0), cents)
    }
    assert(e.getMessage.contains("empty"))
    assert(idx.trainMeanD2 > 0.0, "empty rebuild bricked the baseline")
    assert(idx.store.read().count() > 0, "empty rebuild destroyed the data")
    // crash-window: a rebuild whose corpus poisons mid-write must leave
    // the PREVIOUS baseline invalidated (loud "not built"), never a stale
    // train_mean_d2 silently drift-checking the next index's appends
    val baselineBefore = idx.trainMeanD2
    assert(baselineBefore > 0.0)
    val poisoned = base.select(when(col("vec_id") >= 0,
      expr("raise_error('poison')")).cast("long").as("vec_id"),
      col("embedding"))
    intercept[Exception] { idx.build(poisoned, cents) }
    val e2 = intercept[IllegalArgumentException] { idx.trainMeanD2 }
    assert(e2.getMessage.contains("not built"))
  }

  test("a null or wrong-dimension vector fails build, append and remove " +
      "naming its id; only an empty centroid set assigns 0 rows") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val badId = 1000003L
    val nullVec = lit(null).cast(emb.schema("embedding").dataType)
    val shortVec = slice(col("embedding"), 1, 63) // 63-d against 64-d cells
    def withBad(df: org.apache.spark.sql.DataFrame,
        vec: org.apache.spark.sql.Column) =
      df.select("vec_id", "embedding").unionByName(emb.limit(1).select(
        lit(badId).as("vec_id"),
        vec.as("embedding")))
    def failsNaming(op: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(t => t.getMessage != null &&
          t.getMessage.contains(s"vector of id $badId")),
        s"$op: degenerate vector not named: ${e.getMessage}")
    }
    for ((kind, vec) <- Seq("null" -> nullVec, "63-d" -> shortVec)) {
      failsNaming(s"build/$kind")(newIndex(4).build(withBad(base, vec), cents))
      val idx = newIndex(4)
      idx.build(base, cents)
      val v = idx.store.version()
      failsNaming(s"append/$kind")(idx.append(
        withBad(emb.filter(col("vec_id") % 2 === 1).limit(3), vec), cents))
      failsNaming(s"remove/$kind")(idx.remove(
        withBad(base.limit(3), vec), cents))
      assert(idx.store.version() === v, s"$kind: a failed op committed")
    }
    // the empty-centroids contract: no cell to assign to, so no rows —
    // degenerate vectors included
    val noCells = cents.limit(0)
    assert(Ann.assignCellsWithDist(emb, noCells).count() === 0L)
    assert(Ann.assignCellsWithDist(withBad(emb.limit(2), nullVec), noCells)
      .count() === 0L)
  }

  test("poisoned-corpus rebuild (raw codec): fails after the meta " +
      "invalidation naming the id, data intact, a clean rebuild recovers") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val idx = newIndex(4)
    idx.build(base, cents)
    val q = emb.filter(col("vec_id") < 4)
    val before = pairs(idx.serve(q, cents, k = 3, nprobe = 4))
    val baseline = idx.trainMeanD2
    val v = idx.store.version()
    val steps = scala.collection.mutable.ArrayBuffer.empty[String]
    idx.onStep = steps += _
    val badId = 1000003L
    val poisoned = base.select("vec_id", "embedding").unionByName(
      emb.limit(1).select(lit(badId).as("vec_id"),
        lit(null).cast(emb.schema("embedding").dataType).as("embedding")))
    val e = intercept[Exception](idx.build(poisoned, cents))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null &&
        t.getMessage.contains(s"vector of id $badId")), s"id not named: $e")
    // the window: the check rides store.init, after the invalidation
    assert(steps.contains("metaInvalidated") && !steps.contains("storeInit"),
      s"steps: $steps")
    assert(intercept[IllegalArgumentException](idx.trainMeanD2).getMessage
      .contains("not built"))
    assert(idx.store.version() === v, "the failed init committed")
    steps.clear()
    idx.build(base, cents)
    assert(steps.contains("storeInit"))
    assert(math.abs(idx.trainMeanD2 - baseline) <= 1e-9 * math.abs(baseline))
    assert(pairs(idx.serve(q, cents, k = 3, nprobe = 4)) === before)
  }

  test("randomized append/remove/compact lifecycle tracks a brute-force " +
      "model (fixed seed) — exhaustive serve exact after every op") {
    val rnd = new scala.util.Random(97)
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toVector
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val idx = newIndex()
    var present = allIds.filter(_ % 4 == 0).toSet
    idx.build(emb.filter(col("vec_id").isInCollection(present)), cents)
    val q = emb.filter(col("vec_id") < 8)
    def check(tag: String): Unit = {
      val got = pairs(idx.serve(q, cents, k = 3, nprobe = 8))
      val want = pairs(Ann.bruteForceTopK(q,
        emb.filter(col("vec_id").isInCollection(present)), k = 3))
      assert(got === want, s"serve diverged from the model after $tag " +
        s"(|present| = ${present.size})")
    }
    check("build")
    for (round <- 1 to 6) {
      rnd.nextInt(3) match {
        case 0 => // append a fresh batch (ids never indexed)
          val fresh = rnd.shuffle(allIds.filterNot(present))
            .take(1 + rnd.nextInt(40)).toSet
          if (fresh.nonEmpty) {
            idx.append(emb.filter(col("vec_id").isInCollection(fresh)), cents)
            present ++= fresh
            check(s"append#$round(${fresh.size})")
          }
        case 1 => // erase a present subset, keeping >= 8 for a full top-3
          val removable = rnd.shuffle(present.toVector)
            .take(rnd.nextInt(math.max(1, present.size - 8)))
          if (removable.nonEmpty) {
            val n = idx.remove(
              emb.filter(col("vec_id").isInCollection(removable.toSet)), cents)
            assert(n === removable.size.toLong)
            present --= removable
            check(s"remove#$round(${removable.size})")
          }
        case 2 =>
          idx.compact()
          check(s"compact#$round")
      }
    }
    // the model genuinely exercised all three ops' state space
    assert(present !== allIds.filter(_ % 4 == 0).toSet, "lifecycle was a no-op")
  }

  test("serving reads a strict subset of the index's partition dirs at " +
      "bounded nprobe (directory-level prune through the store manifest)") {
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val idx = newIndex(8)
    idx.build(emb, cents)
    val all = idx.store.read().inputFiles.toSet
    val served = idx.serve(emb.filter(col("vec_id") === 0), cents,
      k = 3, nprobe = 1)
    val touched = served.inputFiles.filter(all.contains).toSet
    assert(touched.nonEmpty, "serve plan reads no index files?")
    assert(touched.size < all.size,
      s"nprobe=1 read all ${all.size} index files — no partition prune")
    // correctness of the pruned read: results match the unpruned
    // row-filtered path over the same persisted layout
    val viaFull = Ann.ivfTopKPruned(idx.store.read().drop("d2"),
      emb.filter(col("vec_id") === 0), cents, k = 3, nprobe = 1)
    assert(pairs(served) === pairs(viaFull))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("corpus_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("neighborsWithin (q:dd20): exhaustive probes ≡ the one-shot " +
      "threshold join over the final corpus; bounded nprobe is a subset") {
    val base = emb.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 9)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 8, iters = 3)
    val idx = newIndex()
    idx.build(base, cents)
    idx.append(emb.filter(col("vec_id") % 10 === 9), cents)
    idx.remove(emb.filter(col("vec_id") % 10 === 5), cents)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val served = idx.neighborsWithin(batch, cents, minSim = 0.30, nprobe = 8)
    // the from-scratch recompute never touches the index: exhaustive
    // threshold join of the batch against the FINAL corpus state
    val fin = emb.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 5)
    val oracle = batch.as("q").join(fin.as("c"),
        graft.functions.VectorFunctions.cosine(
          col("q.embedding"), col("c.embedding")) >= 0.30)
      .select(col("c.vec_id").as("corpus_id"), col("q.vec_id").as("new_id"))
    assert(pairSet(served) === pairSet(oracle))
    assert(pairSet(served).nonEmpty, "threshold too high — vacuous test")
    // bounded nprobe: the documented IVF recall trade is one-sided — never
    // a pair the exhaustive config wouldn't report
    val bounded = idx.neighborsWithin(batch, cents, minSim = 0.30, nprobe = 1)
    assert(pairSet(bounded).subsetOf(pairSet(served)))
  }

  test("neighborsWithin append-then-query: identity pairs excluded, a " +
      "re-sent vector under a new id IS reported; empty batch keeps schema") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val idx = newIndex(4)
    idx.build(base, cents)
    // a delivery re-sending stored vector 0 byte-identical under a NEW id
    // — the true duplicate the service exists to catch
    val dup = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000001L).as("vec_id"), col("embedding"))
    idx.append(dup, cents)
    val got = idx.neighborsWithin(dup, cents, minSim = 0.999, nprobe = 4)
      .select("corpus_id", "new_id", "sim").collect()
    assert(!got.exists(r => r.getLong(0) == r.getLong(1)),
      "identity pair leaked through the append-then-query exclusion")
    assert(got.exists(r =>
        r.getLong(0) == 0L && r.getLong(1) == 1000001L && r.getDouble(2) > 0.999),
      s"byte-identical duplicate not reported: ${got.mkString(", ")}")
    val empty = idx.neighborsWithin(emb.filter(lit(false)), cents,
      minSim = 0.30, nprobe = 4)
    assert(empty.columns.toSeq === Seq("corpus_id", "new_id", "sim"))
    assert(empty.count() === 0L)
  }
}
