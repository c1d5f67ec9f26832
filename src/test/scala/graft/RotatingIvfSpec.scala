package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Ann, KMeans, PqCodec, RawCodec, RotatingIvf}
import graft.util.Scratch

/** Online rebuild with serving continuity (q:ann17): the pointer swap is
  * the promote, serves resolve old-or-new generations atomically (never a
  * mix), appends land in the live generation, and stale generations are
  * reclaimed with one-predecessor grace. */
class RotatingIvfSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def gens(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("gen")).toSet finally s.close()
  }

  test("build → serve is exact; rebuild with a RETRAINED quantizer swaps " +
      "atomically; appends land in the live generation; old gens reclaimed " +
      "with one-predecessor grace") {
    val root = Scratch.dir("graft_rotivf")
    val rot = new RotatingIvf(spark, root, nPartitions = 8, RawCodec)
    val half = emb.filter(col("vec_id") % 2 === 0)
    rot.build(half, KMeans.train(half, "vec_id", "embedding", k = 8, iters = 2))
    val q = emb.filter(col("vec_id") < 8)
    assert(pairs(rot.serve(q, k = 3, nprobe = 8)) ===
      pairs(Ann.bruteForceTopK(q, half, k = 3)))
    assert(gens(root).size === 1)
    val g1 = rot.currentGen()
    // drift past the ceiling names the online-rebuild remediation
    val shifted = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("embedding", transform(col("embedding"), x => x + lit(25.0f)))
    val e = intercept[IllegalStateException] {
      rot.append(shifted, maxDriftRatio = 3.0)
    }
    assert(e.getMessage.contains("RotatingIvf.rebuild"))
    // the rebuild: full corpus, retrained centroids, no blackout
    rot.rebuild(emb, KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2))
    assert(rot.currentGen() !== g1)
    assert(gens(root) === Set(g1, rot.currentGen()), "predecessor retained")
    assert(pairs(rot.serve(q, k = 3, nprobe = 8)) ===
      pairs(Ann.bruteForceTopK(q, emb, k = 3)))
    // append now lands in the NEW generation under ITS frozen quantizer
    val extra = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val ratio = rot.append(extra)
    assert(ratio > 0.0 && ratio < 4.0)
    assert(rot.current()._1.store.read()
      .filter(col("vec_id") >= 1000000L).count() === extra.count())
    // a third generation reclaims the first (one-predecessor grace)
    val g2 = rot.currentGen()
    rot.rebuild(emb, KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2))
    assert(gens(root) === Set(g2, rot.currentGen()))
  }

  test("PQ rotator: retrain re-freezes quantizer AND codebooks together; " +
      "serves stay exact across the swap; appends land in the new " +
      "generation under its own frozen models") {
    val root = Scratch.dir("graft_rotpq")
    val rot = new RotatingIvf(spark, root, nPartitions = 8,
      PqCodec(m = 8, k = 16))
    val half = emb.filter(col("vec_id") % 2 === 0)
    rot.build(half, KMeans.train(half, "vec_id", "embedding", k = 8, iters = 2))
    val q = emb.filter(col("vec_id") < 8)
    assert(pairs(rot.serve(q, k = 3, nprobe = 8, rerank = Int.MaxValue))
      === pairs(Ann.bruteForceTopK(q, half, k = 3)))
    val g1 = rot.currentGen()
    // the swap: full corpus, retrained centroids, NEW codebooks trained on
    // the new residuals — all frozen inside the promoted generation
    rot.rebuild(emb, KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2))
    assert(rot.currentGen() !== g1)
    assert(gens(root) === Set(g1, rot.currentGen()), "predecessor retained")
    assert(pairs(rot.serve(q, k = 3, nprobe = 8, rerank = Int.MaxValue))
      === pairs(Ann.bruteForceTopK(q, emb, k = 3)))
    // append encodes under the NEW generation's frozen models and serves
    // exactly alongside the rebuilt corpus
    val extra = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val ratio = rot.append(extra)
    assert(ratio > 0.0 && ratio < 4.0)
    assert(rot.current()._1.store.read()
      .filter(col("vec_id") >= 1000000L).count() === extra.count())
    // erasure + bounded-config recall still hold through the rotator
    assert(rot.remove(extra) === extra.count())
    val exact = rot.serve(q, k = 3, nprobe = 2, rerank = 16)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Ann.bruteForceTopK(q, emb, k = 3)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & want).size.toDouble / want.size
    assert(recall >= 0.5, s"post-rotation bounded recall@3 = $recall")
  }

  test("randomized PQ-rotating lifecycle (append/remove/compact/REBUILD) " +
      "tracks a brute-force model (fixed seed) — exhaustive serve exact " +
      "after every op, across generation swaps") {
    val rnd = new scala.util.Random(101)
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toVector
    val root = Scratch.dir("graft_rotpq_life")
    val rot = new RotatingIvf(spark, root, nPartitions = 8,
      PqCodec(m = 8, k = 16))
    var present = allIds.filter(_ % 4 == 0).toSet
    def dfOf(ids: Set[Long]) = emb.filter(col("vec_id").isInCollection(ids))
    def retrain(ids: Set[Long]) =
      KMeans.train(dfOf(ids), "vec_id", "embedding", k = 8, iters = 2)
    rot.build(dfOf(present), retrain(present))
    val q = emb.filter(col("vec_id") < 8)
    def check(tag: String): Unit = {
      val got = pairs(rot.serve(q, k = 3, nprobe = 8, rerank = Int.MaxValue))
      val want = pairs(Ann.bruteForceTopK(q, dfOf(present), k = 3))
      assert(got === want, s"serve diverged from the model after $tag " +
        s"(|present| = ${present.size}, gen = ${rot.currentGen()})")
    }
    check("build")
    var rotations = 0
    for (round <- 1 to 7) {
      // round 4 ALWAYS rotates (the composed PQ+rotation surface must be
      // exercised regardless of the draw); other rounds draw all four ops
      (if (round == 4) 3 else rnd.nextInt(4)) match {
        case 0 => // append a fresh batch under the live frozen models
          val fresh = rnd.shuffle(allIds.filterNot(present))
            .take(1 + rnd.nextInt(40)).toSet
          if (fresh.nonEmpty) {
            rot.append(dfOf(fresh))
            present ++= fresh
            check(s"append#$round(${fresh.size})")
          }
        case 1 => // erase a present subset, keeping >= 64 (codebook floor)
          val removable = rnd.shuffle(present.toVector)
            .take(rnd.nextInt(math.max(1, present.size - 64)))
          if (removable.nonEmpty) {
            val n = rot.remove(dfOf(removable.toSet))
            assert(n === removable.size.toLong)
            present --= removable
            check(s"remove#$round(${removable.size})")
          }
        case 2 =>
          rot.compact()
          check(s"compact#$round")
        case 3 => // online rebuild: retrained quantizer AND codebooks swap
          val before = rot.currentGen()
          rot.rebuild(dfOf(present), retrain(present))
          rotations += 1
          assert(rot.currentGen() !== before)
          check(s"rebuild#$round")
      }
    }
    assert(present !== allIds.filter(_ % 4 == 0).toSet, "lifecycle was a no-op")
    assert(rotations >= 1, "seed never exercised a rotation — change it")
  }

  test("an append racing a live rebuild SERIALIZES behind it and lands in " +
      "the PROMOTED generation — never silently stranded in the superseded " +
      "one") {
    val root = Scratch.dir("graft_rotivf")
    val rot = new RotatingIvf(spark, root, nPartitions = 4, RawCodec)
    val half = emb.filter(col("vec_id") % 2 === 0)
    rot.build(half, KMeans.train(half, "vec_id", "embedding", k = 4, iters = 2))
    val g1 = rot.currentGen()
    // arm the latch on the rotate's FIRST in-lock step, then rebuild in a
    // background thread: once the latch drops, the rebuild provably holds
    // the writer lock, so the main thread's append MUST serialize behind
    // the promote and resolve the NEW generation (the round-14 verdict's
    // lost-append window, closed by construction)
    val rebuildHoldsLock = new java.util.concurrent.CountDownLatch(1)
    rot.rotator.onStep = s =>
      if (s == "centroidsPersisted") rebuildHoldsLock.countDown()
    @volatile var rebuildFailure: Option[Throwable] = None
    val rebuilder = new Thread(() =>
      try rot.rebuild(emb, KMeans.train(emb, "vec_id", "embedding", k = 4, iters = 2))
      catch { case t: Throwable => rebuildFailure = Some(t) })
    rebuilder.start()
    try {
      assert(rebuildHoldsLock.await(180, java.util.concurrent.TimeUnit.SECONDS),
        "rebuild never reached its in-lock step")
      val extra = emb.filter(col("vec_id") < 4)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val ratio = rot.append(extra) // blocks until the promote, then lands
      assert(ratio > 0.0 && ratio < 4.0)
      rebuilder.join(180000)
      assert(rebuildFailure.isEmpty, s"rebuild failed: $rebuildFailure")
      rot.rotator.onStep = _ => ()
      assert(rot.currentGen() !== g1)
      // the batch is IN the served view of the promoted generation
      val stored = rot.current()._1.store.read()
      assert(stored.filter(col("vec_id") >= 1000000L).count() === extra.count(),
        "append was stranded in the superseded generation")
      val q = emb.filter(col("vec_id") < 4)
      assert(pairs(rot.serve(q, k = 3, nprobe = 4)) ===
        pairs(Ann.bruteForceTopK(q,
          emb.select("vec_id", "embedding").unionByName(extra), k = 3)))
    } finally { rot.rotator.onStep = _ => (); rebuilder.join(180000) }
  }

  test("a cross-PROCESS promote mid-append (pointer tampered under the " +
      "writer lock, as a second writer process would) fails the append " +
      "LOUDLY naming the stranded batch — never a silent vanish") {
    val root = Scratch.dir("graft_rotivf")
    val rot = new RotatingIvf(spark, root, nPartitions = 4, RawCodec)
    val half = emb.filter(col("vec_id") % 2 === 0)
    rot.build(half, KMeans.train(half, "vec_id", "embedding", k = 4, iters = 2))
    val g1 = rot.currentGen()
    // the in-JVM writer lock serializes every local writer, so only a
    // second PROCESS can move the pointer mid-write: simulate it by
    // rewriting the pointer file directly once the append has resolved
    // its generation (the supported deployment is one writer process —
    // this pins what the violation looks like: loud, named, actionable)
    rot.rotator.onStep = s =>
      if (s == "resolved:append")
        Files.write(Paths.get(root, "current"), "genIMPOSTER".getBytes("UTF-8"))
    val extra = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val e = intercept[java.util.ConcurrentModificationException] {
      rot.append(extra)
    }
    rot.rotator.onStep = _ => ()
    assert(e.getMessage.contains("promoted away") &&
      e.getMessage.contains("append") &&
      e.getMessage.contains("stranded"), e.getMessage)
    // restore the real pointer: the index is fully intact underneath —
    // the batch DID commit into g1's store (the error says exactly that),
    // nothing was corrupted, and serving resumes
    Files.write(Paths.get(root, "current"), g1.getBytes("UTF-8"))
    assert(rot.current()._1.store.read()
      .filter(col("vec_id") >= 2000000L).count() === extra.count())
    val q = emb.filter(col("vec_id") < 4)
    assert(pairs(rot.serve(q, k = 3, nprobe = 4)) ===
      pairs(Ann.bruteForceTopK(q,
        half.select("vec_id", "embedding").unionByName(extra), k = 3)))
  }

  test("a serve racing a live rebuild reads the OLD generation or the NEW " +
      "one end-to-end — never a mix of quantizer and data") {
    val root = Scratch.dir("graft_rotivf")
    val rot = new RotatingIvf(spark, root, nPartitions = 4, RawCodec)
    val a = emb.filter(col("vec_id") % 2 === 0)
    rot.build(a, KMeans.train(a, "vec_id", "embedding", k = 4, iters = 2))
    val q = emb.filter(col("vec_id") < 4)
    val exactA = pairs(Ann.bruteForceTopK(q, a, k = 3))
    val exactB = pairs(Ann.bruteForceTopK(q, emb, k = 3))
    assert(exactA !== exactB, "race fixture degenerate: halves rank equal")
    @volatile var failure: Option[String] = None
    @volatile var sawOld = false
    @volatile var sawNew = false
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = new Thread(() => {
      try while (!done.get()) {
        val got = pairs(rot.serve(q, k = 3, nprobe = 4))
        if (got == exactA) sawOld = true
        else if (got == exactB) sawNew = true
        else { failure = Some(s"mixed serve result: $got"); done.set(true) }
      } catch { case t: Throwable =>
        failure = Some(s"serve threw during rebuild: $t"); done.set(true) }
    })
    server.start()
    try {
      // wait until the server has COMPLETED a pre-swap serve (a fixed
      // sleep would flake on a loaded machine whose first cold serve
      // outlives the rebuild), then swap under it
      val t0 = System.nanoTime()
      while (!sawOld && failure.isEmpty &&
        (System.nanoTime() - t0) < 120e9) Thread.sleep(50)
      assert(sawOld || failure.nonEmpty, "no serve completed in 120s")
      rot.rebuild(emb, KMeans.train(emb, "vec_id", "embedding", k = 4, iters = 2))
      // and let it observe the new one
      val t1 = System.nanoTime()
      while (!sawNew && failure.isEmpty &&
        (System.nanoTime() - t1) < 60e9) Thread.sleep(50)
    } finally { done.set(true); server.join(120000) }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(sawOld, "race never observed the pre-swap generation")
    assert(sawNew, "race never observed the post-swap generation")
  }

  test("threshold serve (neighborsWithin) through the live generation: " +
      "exact before AND after a retrain swap on both flavors — the dedup " +
      "service keeps answering across a rebuild") {
    val emb2 = emb
    val corpus = emb2.filter(col("vec_id") % 10 =!= 0)
    val batch = emb2.filter(col("vec_id") % 10 === 0)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_id", "new_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the generation-independent truth: exhaustive threshold join
    val want = pset(batch.as("q").join(corpus.as("c"),
        graft.functions.VectorFunctions.cosine(
          col("q.embedding"), col("c.embedding")) >= 0.30)
      .select(col("c.vec_id").as("corpus_id"), col("q.vec_id").as("new_id")))
    assert(want.nonEmpty, "threshold too high — vacuous test")
    val rot = new RotatingIvf(spark,
      Scratch.dir("graft_rotivf_nw"), nPartitions = 8,
      RawCodec)
    rot.build(corpus, KMeans.train(corpus, "vec_id", "embedding", k = 4, iters = 2))
    assert(pset(rot.neighborsWithin(batch, minSim = 0.30, nprobe = 4)) === want)
    // retrain 4 → 8 cells: the exhaustive config is exact under EITHER
    // generation, so the swap cannot show through
    rot.rebuild(corpus, KMeans.train(corpus, "vec_id", "embedding", k = 8, iters = 2))
    assert(pset(rot.neighborsWithin(batch, minSim = 0.30, nprobe = 8)) === want)
    val rotPq = new RotatingIvf(spark,
      Scratch.dir("graft_rotivfpq_nw"),
      nPartitions = 8, PqCodec(m = 8, k = 16))
    rotPq.build(corpus, KMeans.train(corpus, "vec_id", "embedding", k = 4, iters = 2))
    assert(pset(rotPq.neighborsWithin(batch, minSim = 0.30, nprobe = 4,
      rerank = Int.MaxValue)) === want)
    rotPq.rebuild(corpus, KMeans.train(corpus, "vec_id", "embedding", k = 8, iters = 2))
    assert(pset(rotPq.neighborsWithin(batch, minSim = 0.30, nprobe = 8,
      rerank = Int.MaxValue)) === want)
  }
}
