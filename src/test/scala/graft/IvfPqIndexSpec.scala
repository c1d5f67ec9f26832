package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Ann, IvfCore, IvfPq, KMeans, Pq, PqCodec}
import graft.util.Scratch

/** The PQ-coded maintained index (q:ann16): exhaustive config is exact
  * after appends, bounded configs keep useful recall while reading a
  * strict subset of the partition dirs, guards fail before any write, and
  * erasure serves exact over the survivors. */
class IvfPqIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()

  private def newIndex(nPartitions: Int = 8) = new IvfCore(spark,
    Scratch.dir("graft_ivfpqidx"), nPartitions,
    PqCodec(m = 8, k = 16))

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def topPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exhaustive config after two appends equals exact top-k over the " +
      "full corpus; appended codes match a rebuild under the same models") {
    val base = emb.filter(col("vec_id") % 4 <= 1)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 8, iters = 3)
    val idx = newIndex()
    idx.build(base, cents)
    val r1 = idx.append(emb.filter(col("vec_id") % 4 === 2), cents)
    val r2 = idx.append(emb.filter(col("vec_id") % 4 === 3), cents)
    assert(r1 > 0.25 && r1 < 4.0, s"in-distribution drift ratio: $r1")
    assert(r2 > 0.25 && r2 < 4.0, s"in-distribution drift ratio: $r2")
    val q = emb.filter(col("vec_id") < 8)
    val exact = pairs(Ann.bruteForceTopK(q, emb, k = 3))
    assert(pairs(idx.serve(q, cents, k = 3, nprobe = 8,
      rerank = Int.MaxValue)) === exact)
    // appended rows carry codes from the SAME frozen codebooks the build
    // trained: every stored code re-derives identically under them
    val books = idx.codebooks()
    val centsDf = cents.select(col("cent_id").as("cell"),
      col("cent_vec").as("__cv"))
    val mismatches = graft.similarity.Pq.encode(
        idx.store.read().withColumnRenamed("code", "code_stored")
          .join(broadcast(centsDf), Seq("cell"))
          .withColumn("__res", zip_with(
            col("embedding").cast("array<double>"),
            col("__cv").cast("array<double>"), (a, b) => a - b)),
        "__res", books)
      .filter(expr("exists(zip_with(code, code_stored, (a, b) -> a <> b), t -> t)"))
    assert(mismatches.count() === 0,
      "appended codes diverge from the frozen codebooks")
  }

  test("bounded nprobe/rerank keeps useful recall and reads a strict " +
      "subset of the index's partition dirs") {
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val idx = newIndex()
    idx.build(emb, cents)
    val q = emb.filter(col("vec_id") < 8)
    val exact = topPairs(Ann.bruteForceTopK(q, emb, k = 3))
    val approx = idx.serve(q, cents, k = 3, nprobe = 2, rerank = 16)
    val recall = (topPairs(approx) & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@3 = $recall")
    // directory-level prune: a 1-query, nprobe=1 serve touches fewer files
    val all = idx.store.read().inputFiles.toSet
    val served = idx.serve(emb.filter(col("vec_id") === 0), cents,
      k = 3, nprobe = 1, rerank = 8)
    val touched = served.inputFiles.filter(all.contains).toSet
    assert(touched.nonEmpty && touched.size < all.size,
      s"nprobe=1 read ${touched.size} of ${all.size} index files — no prune")
  }

  test("bounded nprobe/rerank: the maintained serve returns the static " +
      "IvfPq.adcTopK rows under the same cells and codebook training") {
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val idx = newIndex()
    idx.build(emb, cents)
    val q = emb.filter(col("vec_id") < 8)
    val res = IvfPq.residuals(emb, "vec_id", "embedding", cents)
    val books = Pq.train(res, "id", "res", m = 8, k = 16, iters = 2)
    val static = pairs(IvfPq.adcTopK(q, Pq.encode(res, "res", books), emb,
      cents, books, k = 3, nprobe = 2, rerank = 16))
    assert(static.size === 24)
    assert(pairs(idx.serve(q, cents, k = 3, nprobe = 2,
      rerank = 16)) === static)
  }

  test("drift and replay guards fail BEFORE any write; a poisoned append " +
      "rolls back; remove serves exact over the survivors") {
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 4, iters = 2)
    val idx = newIndex(4)
    idx.build(base, cents)
    val q = emb.filter(col("vec_id") < 4)
    val before = pairs(idx.serve(q, cents, k = 3, nprobe = 4,
      rerank = Int.MaxValue))
    val v1 = idx.store.version()
    val shifted = emb.filter(col("vec_id") % 2 === 1)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(25.0f)))
    val e = intercept[IllegalStateException] {
      idx.append(shifted, cents, maxDriftRatio = 3.0)
    }
    // the PQ flavor's remediation is the PQ rotator (codebooks re-freeze
    // with the quantizer), not the raw-vector one
    assert(e.getMessage.contains("drift") &&
      e.getMessage.contains("RotatingIvf.rebuild swaps a fresh IVF-PQ build"))
    val replay = intercept[Exception] {
      idx.append(emb.filter(col("vec_id") % 2 === 0).limit(3), cents)
    }
    assert(Iterator.iterate[Throwable](replay)(_.getCause)
      .takeWhile(_ != null).take(8)
      .exists(t => t.getMessage != null && t.getMessage.contains("replays")))
    assert(idx.store.version() === v1)
    assert(pairs(idx.serve(q, cents, k = 3, nprobe = 4,
      rerank = Int.MaxValue)) === before)
    // erasure: victims out, exhaustive serve ≡ exact over survivors
    val victims = emb.filter(col("vec_id") % 8 === 2) // ⊂ the built half
    val removed = idx.remove(victims, cents)
    assert(removed === victims.count())
    val survivors = emb.filter(col("vec_id") % 2 === 0 &&
      col("vec_id") % 8 =!= 2)
    assert(pairs(idx.serve(q, cents, k = 3, nprobe = 4,
      rerank = Int.MaxValue)) ===
      pairs(Ann.bruteForceTopK(q, survivors, k = 3)))
    // and an empty erasure batch is a no-op
    assert(idx.remove(emb.filter(col("vec_id") < 0), cents) === 0L)
    // an empty REBUILD call validates before invalidating: loud error,
    // and the live index's drift baseline survives un-bricked
    val e3 = intercept[IllegalArgumentException] {
      idx.build(emb.filter(col("vec_id") < 0), cents)
    }
    assert(e3.getMessage.contains("empty"))
    assert(idx.trainMeanD2 > 0.0)
    // an under-k rebuild corpus passes the non-empty guard but fails
    // inside codebook training — ALSO before anything was invalidated
    val e4 = intercept[IllegalArgumentException] {
      idx.build(emb.filter(col("vec_id") < 10), cents) // 10 < k=16
    }
    assert(e4.getMessage.contains("16"))
    assert(idx.trainMeanD2 > 0.0, "under-k rebuild bricked the baseline")
    assert(idx.store.read().count() > 0)
  }

  test("neighborsWithin (q:dd21): exhaustive probes + unbounded rerank ≡ " +
      "the exact threshold join; a bounded ADC cut only drops, never adds; " +
      "identity pairs excluded; reported sim is the exact cosine") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val cents = KMeans.train(base, "vec_id", "embedding", k = 8, iters = 3)
    val idx = newIndex()
    idx.build(base, cents)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_id", "new_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = idx.neighborsWithin(batch, cents, minSim = 0.30,
      nprobe = 8, rerank = Int.MaxValue)
    val oracle = batch.as("q").join(base.as("c"),
        graft.functions.VectorFunctions.cosine(
          col("q.embedding"), col("c.embedding")) >= 0.30)
      .select(col("c.vec_id").as("corpus_id"), col("q.vec_id").as("new_id"))
    assert(pset(served) === pset(oracle))
    assert(pset(served).nonEmpty, "threshold too high — vacuous test")
    // the exact rerank is what reports sim: every reported value matches
    // the brute-force cosine of that pair (the ADC distance never leaks)
    val exactSims = batch.as("q").join(base.as("c"),
        col("q.vec_id") =!= col("c.vec_id"))
      .select(col("c.vec_id").as("corpus_id"), col("q.vec_id").as("new_id"),
        graft.functions.VectorFunctions.cosine(
          col("q.embedding"), col("c.embedding")).as("exact_sim"))
    assert(served.join(exactSims, Seq("corpus_id", "new_id"))
      .filter(col("sim") =!= col("exact_sim")).count() === 0L)
    // bounded ADC cut and bounded probes: one-sided (containment)
    for ((np, rr) <- Seq((8, 5), (2, Int.MaxValue), (2, 5)))
      assert(pset(idx.neighborsWithin(batch, cents, minSim = 0.30,
        nprobe = np, rerank = rr)).subsetOf(pset(served)),
        s"bounded config nprobe=$np rerank=$rr reported extra pairs")
  }
}
