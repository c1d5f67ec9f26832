package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession.jobsDuring
import graft.similarity.{Ann, IvfCore, IvfIndex, KMeans, PqCodec, RawCodec, RotatingIvf}
import graft.util.Scratch

/** The maintained IVF index's serve path: probes and partition routing run
  * on the driver, so a one-vector serve costs the query collect plus the
  * pruned score and top-k jobs; the driver-side probes are the
  * `probe_cells` expression's output; a serve resolves the index's commits
  * (appends, removes, compactions, rotations) made by another instance. */
class IvfServeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()

  private def pairs(df: DataFrame) =
    df.select("q_id", "c_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("a warm one-vector serve runs at most 3 jobs: raw, PQ and rotating") {
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val raw = new IvfIndex(spark, Scratch.dir("graft_serve_raw"), 8)
    raw.build(emb, cents)
    val pq = new IvfCore(spark, Scratch.dir("graft_serve_pq"), 8,
      PqCodec(m = 8, k = 16))
    pq.build(emb, cents)
    val rot = new RotatingIvf(spark, Scratch.dir("graft_serve_rot"), 8,
      RawCodec)
    rot.build(emb, cents)
    val serves = Seq[(String, DataFrame => DataFrame)](
      "IvfIndex" -> (q => raw.serve(q, cents, k = 3, nprobe = 2)),
      "IvfCore(PqCodec)" -> (q => pq.serve(q, cents, k = 3, nprobe = 2)),
      "RotatingIvf" -> (q => rot.serve(q, k = 3, nprobe = 2)))
    val counts = serves.map { case (name, serve) =>
      serve(emb.filter(col("vec_id") === 1L)).collect() // warm
      val (rows, jobs) =
        jobsDuring(serve(emb.filter(col("vec_id") === 2L)).collect())
      assert(rows.length === 3, name)
      name -> jobs
    }
    assert(counts.forall(_._2 <= 3),
      s"a warm one-vector serve ran more than 3 jobs: $counts")
  }

  test("a warm one-vector bounded-rerank PQ serve runs at most 5 jobs") {
    // the ADC cut's exchange and the post-cut vector join add AQE stage
    // jobs to the exhaustive serve's 3: the query collect plus 4 stages
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val pq = new IvfCore(spark, Scratch.dir("graft_serve_pq_bounded"), 8,
      PqCodec(m = 8, k = 16))
    pq.build(emb, cents)
    def serve(q: DataFrame) =
      pq.serve(q, cents, k = 3, nprobe = 2, rerank = 16).collect()
    serve(emb.filter(col("vec_id") === 1L)) // warm
    val (rows, jobs) = jobsDuring(serve(emb.filter(col("vec_id") === 2L)))
    assert(rows.length === 3)
    assert(jobs <= 5, s"a warm bounded PQ serve ran $jobs jobs")
  }

  /** Rows `(id, vec)` as a frame whose vector column has `elem` elements. */
  private def vecFrame(rows: Seq[(Long, Seq[Double])], id: String, vec: String,
      elem: DataType): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) =>
        Row(i, if (elem == FloatType) v.map(_.toFloat) else v) }: _*),
      StructType(Seq(StructField(id, LongType, nullable = false),
        StructField(vec, ArrayType(elem), nullable = false))))

  test("driver-side probes equal the probe_cells expression: float and " +
      "double vectors, tied distances, nprobe >= |cells|") {
    import graft.functions.VectorExprFunctions.probe_cells
    val r = new scala.util.Random(7)
    // ids out of order; cents 5, 2 and 9 tie for query 0 (all at d2 = 1)
    // and cents 4 and 7 are duplicates, so only the cent id breaks ties
    val centRows = Seq[(Long, Seq[Double])](
      (5L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
      (9L, Seq(-1.0, 0.0, 0.0)), (1L, Seq(3.0, 3.0, 3.0)),
      (7L, Seq(0.5, 0.5, 0.5)), (4L, Seq(0.5, 0.5, 0.5)))
    val queryRows = (0L, Seq(0.0, 0.0, 0.0)) +: (1L, Seq(0.5, 0.5, 0.5)) +:
      Seq.tabulate(20)(i => (i + 2L, Seq.fill(3)(r.nextGaussian() * 2)))
    for (qElem <- Seq(FloatType, DoubleType); cElem <- Seq(FloatType, DoubleType);
         nprobe <- Seq(1, 2, 6, 50)) {
      val q = vecFrame(queryRows, "vec_id", "embedding", qElem)
      val cents = vecFrame(centRows, "cent_id", "cent_vec", cElem)
      val (rows, _) = Ann.collectProbes(q, cents, nprobe, "vec_id",
        "embedding", "cent_id", "cent_vec")
      val driver = rows.toSeq.map(r => (r.getLong(0), r.getLong(2),
        r.getSeq[Any](3).map(_.toString)))
      // the expression path over the cells row the aggregate formulation
      // built (sort_array(collect_list(struct)))
      val cs = cents.agg(sort_array(collect_list(struct(col("cent_id").as("cent"),
        col("cent_vec").as("cv")))).as("__cs"))
      val viaExpr = q.crossJoin(broadcast(cs))
        .select(col("vec_id"), posexplode(probe_cells(col("embedding"),
          col("__cs"), nprobe)))
        .orderBy("vec_id", "pos").collect().toSeq
        .map(r => (r.getLong(0), r.getStruct(2).getLong(0),
          r.getStruct(2).getSeq[Any](1).map(_.toString)))
      assert(driver === viaExpr, s"query $qElem, cents $cElem, nprobe $nprobe")
      assert(driver.count(_._1 == 0L) === math.min(nprobe, centRows.size))
      // query 0: duplicates 4 and 7 at d2 = 0.75, then 2, 5, 9 at d2 = 1
      if (nprobe >= 5) assert(driver.filter(_._1 == 0L).map(_._2).take(5) ===
        Seq(4L, 7L, 2L, 5L, 9L), "ties break by the lower cent id")
    }
  }

  test("a null or wrong-dimension query vector fails naming its id; an " +
      "empty batch returns no rows with the full schema") {
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 4, iters = 2)
    val idx = new IvfIndex(spark, Scratch.dir("graft_serve_contract"), 4)
    idx.build(emb, cents)
    val one = emb.filter(col("vec_id") < 3L)
    val nulled = one.withColumn("embedding",
      when(col("vec_id") === 1L, lit(null).cast("array<float>"))
        .otherwise(col("embedding")))
    val short = one.withColumn("embedding",
      when(col("vec_id") === 2L, slice(col("embedding"), 1, 3))
        .otherwise(col("embedding")))
    for ((bad, id) <- Seq(nulled -> 1L, short -> 2L)) {
      val e1 = intercept[IllegalArgumentException](
        idx.serve(bad, cents, k = 3, nprobe = 2).collect())
      assert(e1.getMessage.contains(s"query id $id"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        idx.neighborsWithin(bad, cents, minSim = 0.9, nprobe = 2).collect())
      assert(e2.getMessage.contains(s"query id $id"), e2.getMessage)
    }
    val none = emb.filter(lit(false))
    val served = idx.serve(none, cents, k = 3, nprobe = 2)
    assert(served.columns.toSeq === Seq("q_id", "c_id", "sim", "rank"))
    assert(served.count() === 0L)
    val near = idx.neighborsWithin(none, cents, minSim = 0.9, nprobe = 2)
    assert(near.columns.toSeq === Seq("corpus_id", "new_id", "sim"))
    assert(near.count() === 0L)
  }

  test("a serve sees another instance's append, remove, compact and " +
      "rebuild on the same root: no stale codebooks or centroids") {
    val vecs = emb.select("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 6L)
    val extra = vecs.filter(col("vec_id") < 6L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    def served(rows: DataFrame) = rows.select("c_id").collect()
      .map(_.getLong(0)).toSet
    val half = vecs.filter(col("vec_id") % 2 === 0)
    val cents = KMeans.train(half, "vec_id", "embedding", k = 4, iters = 2)
    val root = Scratch.dir("graft_serve_pq_shared")
    val (reader, writer) = (
      new IvfCore(spark, root, 4, PqCodec(m = 8, k = 16)),
      new IvfCore(spark, root, 4, PqCodec(m = 8, k = 16)))
    writer.build(half, cents)
    var corpus = half
    // exact after the writer's change, and a repeat serve — the reader's
    // model cache warm on the new version — still runs at most 3 jobs
    def exact(): Unit = {
      val want = pairs(Ann.bruteForceTopK(q, corpus, k = 3))
      assert(pairs(reader.serve(q, cents, k = 3, nprobe = 4)) === want)
      val (again, jobs) = jobsDuring(pairs(reader.serve(q, cents, k = 3, nprobe = 4)))
      assert(again === want)
      assert(jobs <= 3, s"a repeat serve ran $jobs jobs")
    }
    exact()
    val books0 = reader.codebooks()
    writer.append(extra, cents)
    corpus = corpus.unionByName(extra)
    assert(served(reader.serve(q, cents, k = 3, nprobe = 4))
      .exists(_ >= 1000000L), "appended ids not served")
    exact()
    writer.remove(extra, cents)
    corpus = half
    assert(!served(reader.serve(q, cents, k = 3, nprobe = 4))
      .exists(_ >= 1000000L), "removed ids still served")
    writer.append(extra, cents)
    corpus = corpus.unionByName(extra)
    assert(writer.compact().nonEmpty)
    exact()
    // an in-place rebuild over another corpus retrains the codebooks: the
    // reader's next serve decodes with the new ones
    val odd = vecs.filter(col("vec_id") % 2 === 1)
    writer.build(odd, cents)
    corpus = odd
    val fresh = spark.read.parquet(root + "/pq_codebooks.parquet").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val books1 = reader.codebooks()
    assert(books1 !== books0, "the rebuild trained the same codebooks")
    for (s <- 0 until books1.m; c <- 0 until books1.k)
      assert(books1.cents(s)(c) === fresh((s, c)), "stale codebooks served")
    exact()
    assert(reader.serve(q, cents, k = 3, nprobe = 2, rerank = 6).count() ===
      q.count() * 3)

    // rotating: a second instance's rebuild swaps the generation (and its
    // centroids); the first instance's next serve reads the new one
    val rootR = Scratch.dir("graft_serve_rot_shared")
    val (rotA, rotB) = (new RotatingIvf(spark, rootR, 4, RawCodec),
      new RotatingIvf(spark, rootR, 4, RawCodec))
    rotB.build(half, cents)
    assert(pairs(rotA.serve(q, k = 3, nprobe = 4)) ===
      pairs(Ann.bruteForceTopK(q, half, k = 3)))
    rotB.append(extra)
    assert(served(rotA.serve(q, k = 3, nprobe = 4)).exists(_ >= 1000000L))
    val cents2 = KMeans.train(odd, "vec_id", "embedding", k = 4, iters = 3)
    rotB.rebuild(odd, cents2)
    def centSet(df: DataFrame) = df.select("cent_id", "cent_vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSet
    assert(centSet(rotA.current()._2) === centSet(cents2), "stale centroids")
    assert(centSet(cents2) !== centSet(cents))
    val wantOdd = pairs(Ann.bruteForceTopK(q, odd, k = 3))
    assert(pairs(rotA.serve(q, k = 3, nprobe = 4)) === wantOdd)
    val (again, jobs) = jobsDuring(pairs(rotA.serve(q, k = 3, nprobe = 4)))
    assert(again === wantOdd)
    assert(jobs <= 3, s"a repeat rotating serve ran $jobs jobs")
  }
}
