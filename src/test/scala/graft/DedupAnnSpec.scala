package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.TextDedup
import graft.functions.{GraftFunctions, TextFunctions}
import graft.similarity.Ann
import graft.util.Scratch

class DedupAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private lazy val docs = Tables.t(spark, TestSession.sf, "documents").cache()
  private lazy val emb = Tables.t(spark, TestSession.sf, "embeddings").cache()

  test("poly_hash expression matches a Scala reference implementation") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xffL)) % 1000000007L)
    val rows = docs.limit(20)
      .select(col("text"), GraftFunctions.poly_hash(col("text")).as("h"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) === ref(r.getString(0))))
    // and via SQL registration
    GraftFunctions.register(spark)
    docs.limit(5).createOrReplaceTempView("ph_docs")
    val viaSql = spark.sql("SELECT poly_hash(text) AS h, text FROM ph_docs").collect()
    viaSql.foreach(r => assert(r.getLong(0) === ref(r.getString(1))))
  }

  test("minhash: identical docs share full signatures; LSH finds self-pairs") {
    // duplicate the corpus with shifted ids: every doc has an exact twin
    val base = docs.select(col("doc_id"), col("text"))
    val twins = base.withColumn("doc_id", col("doc_id") + 10000)
    val both = base.unionByName(twins)
    val pairs = TextDedup.minhashCandidates(both, "doc_id", "text")
      .filter(col("doc_b") === col("doc_a") + 10000)
    // every twin pair shares ALL bands → must be a candidate
    assert(pairs.count() === base.count())
  }

  test("minhash poly-hash path agrees with md5 path on candidate structure") {
    // identical shingle sets produce identical signatures under ANY base
    // hash, so injected exact-twin pairs MUST be candidates on both paths —
    // the hash-family-independent invariant (random collisions may differ).
    // Pick the 20 twin ids ONCE and deterministically: LIMIT without ORDER
    // BY is not stable across executions.
    val twinIds = docs.select("doc_id").orderBy("doc_id").limit(20)
      .collect().map(_.getAs[Number](0).longValue).toSeq
    val twins = docs.filter(col("doc_id").isin(twinIds: _*))
      .withColumn("doc_id", col("doc_id") + 50000)
    val corpus = docs.unionByName(twins)
    def pairs(useMd5: Boolean): Set[(Long, Long)] =
      TextDedup.minhashCandidates(corpus, "doc_id", "text", useMd5 = useMd5)
        .collect().map(r => (r.getAs[Number]("doc_a").longValue,
          r.getAs[Number]("doc_b").longValue)).toSet
    val expected = twinIds.map(id => (id, id + 50000)).toSet
    val md5P = pairs(useMd5 = true)
    val polyP = pairs(useMd5 = false)
    assert(expected.subsetOf(md5P), s"md5 path missed twins: ${expected -- md5P}")
    assert(expected.subsetOf(polyP), s"poly path missed twins: ${expected -- polyP}")
    // different hash families → different collisions, but both candidate
    // sets stay bounded (bucketed join, not all-pairs)
    assert(md5P.size < 5000 && polyP.size < 5000)
  }

  test("cross-corpus candidates find batch twins without corpus self-pairs") {
    // batch = 20 corpus docs under new ids: every one must collide with its
    // original (identical shingles → identical signatures → same buckets)
    val twinIds = docs.select("doc_id").orderBy("doc_id").limit(20)
      .collect().map(_.getAs[Number](0).longValue).toSeq
    val batch = docs.filter(col("doc_id").isin(twinIds: _*))
      .withColumn("doc_id", col("doc_id") + 70000)
    val cands = TextDedup.minhashCandidatesAgainst(docs, batch, "doc_id", "text")
      .collect().map(r => (r.getAs[Number]("corpus_doc").longValue,
        r.getAs[Number]("new_doc").longValue)).toSet
    val expected = twinIds.map(id => (id, id + 70000)).toSet
    assert(expected.subsetOf(cands), s"missed twins: ${expected -- cands}")
    // output pairs corpus→batch only: no corpus self-pairs, no batch ids on
    // the corpus side
    assert(cands.forall { case (c, n) => c < 70000 && n >= 70000 })
  }

  test("hamming banding finds exactly the all-pairs near-dups (pigeonhole exactness)") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic pseudo-random 32-bit hashes + a planted 2-bit-flip twin
    val hashes = (0L until 300L).map(i => (i, (i * 2654435761L) & 0xffffffffL)) :+
      (1000L -> (((7L * 2654435761L) & 0xffffffffL) ^ 0x11L)) // dist 2 from id 7
    val banded = TextDedup.hammingCandidates(hashes.toDF("id", "h"), "id", "h",
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(banded === brute) // banding is exact: no missed pairs, no extras
    assert(banded.contains((7L, 1000L, 2)))
  }

  test("simhash of identical token lists is identical; jaccard self = 1") {
    val sh = docs
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("hs", TextDedup.shingleHashes(col("toks"), useMd5 = false))
      .select(col("doc_id"), TextDedup.simhash(col("hs")).as("sh"),
        TextDedup.jaccard(col("toks"), col("toks")).as("self_j"))
    assert(sh.filter(col("self_j") =!= 1.0).count() === 0)
    val dupDf = sh.as("a").join(sh.as("b"), col("a.doc_id") === col("b.doc_id"))
      .filter(col("a.sh") =!= col("b.sh"))
    val dup = dupDf.count()
    if (dup > 0) {
      dupDf.select(col("a.doc_id"), col("a.sh"), col("b.sh")).show(5, false)
      println(dupDf.queryExecution.executedPlan.toString.take(4000))
    }
    assert(dup === 0)
  }

  test("ANN: LSH and IVF results are subsets of brute-force candidates with correct sims") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Ann.bruteForceTopK(queries, emb, k = 50).cache()
    val lsh = Ann.lshTopK(queries, emb, k = 3, planes = 4)
    // every LSH hit must carry the same similarity the exact path computes
    val joined = lsh.as("l").join(brute.as("b"),
      col("l.q_id") === col("b.q_id") && col("l.c_id") === col("b.c_id"))
    assert(joined.filter(col("l.sim") =!= col("b.sim")).count() === 0)
    // rank-1 self hit always survives LSH (identical vector → same bucket)
    assert(lsh.filter(col("q_id") === col("c_id") && col("sim") > 0.999999).count() === 5)
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
    val ivf = Ann.ivfTopK(queries, emb, cents, k = 3, nprobe = 2)
    assert(ivf.filter(col("q_id") === col("c_id")).count() === 5) // self in own cell
  }

  test("k-means trainer: deterministic, objective non-increasing, full-probe IVF = exact") {
    import graft.similarity.KMeans
    val k = 8
    val c1 = KMeans.train(emb, "vec_id", "embedding", k, iters = 1)
    val c4 = KMeans.train(emb, "vec_id", "embedding", k, iters = 4)
    val o1 = KMeans.objective(emb, "vec_id", "embedding", c1)
    val o4 = KMeans.objective(emb, "vec_id", "embedding", c4)
    assert(o4 <= o1 + 1e-9, s"objective increased: $o1 -> $o4")
    // deterministic across runs
    val c4b = KMeans.train(emb, "vec_id", "embedding", k, iters = 4)
    assert(c4.orderBy("cent_id").collect().toSeq ===
      c4b.orderBy("cent_id").collect().toSeq)
    // probing every trained cell makes IVF exhaustive → must equal exact
    val queries = emb.filter(col("vec_id") < 3)
    val exact = Ann.bruteForceTopK(queries, emb, k = 5)
      .orderBy("q_id", "rank").collect().toSeq
    val ivf = Ann.ivfTopK(queries, emb, c4, k = 5, nprobe = k)
      .orderBy("q_id", "rank").collect().toSeq
    assert(ivf === exact)
  }

  test("dedup clustering groups LSH pairs transitively; singletons survive") {
    import graft.dedup.Clustering
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val nodes = (1L to 12L).toDF("node")
    val got = Clustering.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L) // chain collapses
    assert(got(10L) === 10L && got(11L) === 10L)
    assert(got(12L) === 12L) // isolated node keeps itself
    assert(got.size === 12)
  }

  test("connected components converge on a long chain (pointer jumping)") {
    import graft.dedup.Clustering
    val spark2 = spark
    import spark2.implicits._
    // a 60-link chain needs O(log n) rounds with path halving; plain
    // min-label propagation would need 60 and silently truncate at 20
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 60L).toDF("node")
    val got = Clustering.connectedComponents(edges, nodes, maxIters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 1L), s"chain did not collapse: $got")
  }

  test("connected components honor a cluster-visible checkpoint dir") {
    import graft.dedup.Clustering
    val spark2 = spark
    import spark2.implicits._
    val dir = Scratch.dir("graft_ckpt")
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 30L).toDF("node")
    val got = Clustering.connectedComponents(edges, nodes, maxIters = 20,
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 1L), s"chain did not collapse: $got")
    // reliable checkpoints actually landed in the given dir (not executor
    // blocks, which an executor loss would wipe)
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(stream.count() > 0, "no checkpoint data written")
    finally stream.close()
  }

  test("exact dedup finds injected duplicates") {
    val twins = docs.limit(10).withColumn("doc_id", col("doc_id") + 50000)
    val out = TextDedup.exactDedup(docs.unionByName(twins), "doc_id", "text")
    assert(out.filter(col("n_dups") >= 2).count() >= 10)
    // representatives are the original (lower) ids
    assert(out.filter(col("n_dups") >= 2).filter(col("rep_id") >= 50000).count() === 0)
  }
  test("fe4 deflation: component 1 == fe3, unit loadings, near-orthogonal components") {
    val fe3 = SparkEntry.queries("fe3_pca_power")(spark, TestSession.sf)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    val fe4 = SparkEntry.queries("fe4_pca_topr")(spark, TestSession.sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    // component 1 of the deflation run must reproduce fe3 bit-for-bit
    val c1 = fe4.filter(_._1 == 1).map(t => (t._2, t._3, t._4)).sortBy(_._1)
    assert(c1.toSeq === fe3.toSeq.sortBy(_._1))
    // all Rayleigh eigenvalues positive (ordering is NOT asserted: the
    // contract is the fixed deterministic iteration, not eigen-convergence,
    // and this corpus's spectrum is flat enough that 3 power rounds leave
    // near-equal components unordered)
    val lams = (1 to 3).map(r => fe4.filter(_._1 == r).head._4)
    assert(lams.forall(_ > 0), s"degenerate spectrum: $lams")
    def dot(a: Int, b: Int): Double = {
      val va = fe4.filter(_._1 == a).sortBy(_._2).map(_._3)
      val vb = fe4.filter(_._1 == b).sortBy(_._2).map(_._3)
      va.zip(vb).map { case (x, y) => x * y }.sum
    }
    // every loading vector is unit-norm (the normalize step, 6dp rounding)
    (1 to 3).foreach(r => assert(math.abs(dot(r, r) - 1.0) < 1e-4))
    // deflation removes the captured direction: successive components stay
    // far from collinear even unconverged (measured ~0.19 on this corpus;
    // bound leaves slack without being vacuous — collinear would be ~1)
    assert(math.abs(dot(1, 2)) < 0.3, s"c1.c2 = ${dot(1, 2)}")
    assert(math.abs(dot(2, 3)) < 0.3, s"c2.c3 = ${dot(2, 3)}")
    assert(math.abs(dot(1, 3)) < 0.3, s"c1.c3 = ${dot(1, 3)}")
  }

  test("knnJoin: exhaustive probes equal exact per-vector top-k; approximate recall bounded") {
    import graft.similarity.{Ann, KMeans}
    val corpus = emb.limit(200).cache()
    val cents = KMeans.train(corpus, "vec_id", "embedding", k = 8, iters = 2)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getAs[Number]("q_id").longValue,
        r.getAs[Number]("c_id").longValue, r.getAs[Int]("rank"))).toSet
    // exact reference: brute force at k=4, self-pairs dropped, re-ranked —
    // k=4 because the self pair (rank 1, sim 1) occupies a slot a genuine
    // rank-4 neighbor inherits once self is excluded
    val exact4 = pairs(Ann.bruteForceTopK(corpus, corpus, k = 4)
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") <= 3))
    val exhaustive = pairs(Ann.knnJoin(corpus, cents, k = 3, nprobe = 8))
    assert(exhaustive.size >= 3 * 190, s"too few rows: ${exhaustive.size}")
    assert(exhaustive === exact4,
      s"exhaustive knnJoin != exact: missing=${(exact4 -- exhaustive).take(5)} " +
        s"extra=${(exhaustive -- exact4).take(5)}")
    // approximate config (nprobe 2 of 8 cells): strictly fewer candidates,
    // recall stays useful on this corpus (measured ~0.9+; floor leaves
    // slack without being vacuous — a broken cell join would be near 0)
    val approx = pairs(Ann.knnJoin(corpus, cents, k = 3, nprobe = 2))
    val keys = (s: Set[(Long, Long, Int)]) => s.map(t => (t._1, t._2))
    val recall = keys(approx).intersect(keys(exact4)).size.toDouble /
      keys(exact4).size
    assert(recall >= 0.5, s"approximate knnJoin recall collapsed: $recall")
    // a corpus vector lives in exactly one cell — no (q,c) dup even probing
    val dup = Ann.knnJoinCandidates(corpus, cents, nprobe = 2)
      .groupBy("q_id", "c_id").count().filter(col("count") > 1).count()
    assert(dup == 0, s"$dup duplicated candidate pairs")
    corpus.unpersist()
  }

  test("dd17 composed SemDeDup: the approximate scale config's keep-set " +
      "disagreement with the exhaustive oracle config is bounded (sf0.01)") {
    // the full pipeline both ways — knnJoin edges (cos >= 0.40, top-3) →
    // pointer-jumping CC → min-id keep-set — at the dd17 oracle config
    // (4 cells, nprobe 4 = exhaustive) and at the BENCH_SCALE config
    // (√n cells, nprobe 2). The approximate edge set is neither superset
    // nor subset of the exhaustive one, so the honest quality metric is
    // symmetric keep-flag disagreement over the corpus.
    import graft.similarity.KMeans
    val e01 = Tables.t(spark, "/root/testdata/sf0.01", "embeddings").cache()
    val n = e01.count()
    def keepSet(cells: Int, nprobe: Int): Set[Long] = {
      val cents = KMeans.train(e01, "vec_id", "embedding",
        k = cells, iters = 2)
      val edges = Ann.knnJoin(e01, cents, k = 3, nprobe = nprobe)
        .filter(col("sim") >= 0.40)
        .select(col("q_id").as("a"), col("c_id").as("b"))
      graft.dedup.Clustering
        .connectedComponents(edges, e01.select(col("vec_id")))
        .toDF("vec_id", "component")
        .filter(col("vec_id") === col("component"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val exhaustive = keepSet(cells = 4, nprobe = 4) // the dd17 oracle config
    val scaleCells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    val approx = keepSet(scaleCells, nprobe = 2)    // the BENCH_SCALE config
    val disagree = ((exhaustive -- approx) ++ (approx -- exhaustive)).size
    val rate = disagree.toDouble / n
    info(f"semdedup keep-set disagreement: $disagree of $n (rate $rate%.4f)")
    assert(rate <= 0.15,
      f"approximate SemDeDup keep-set diverged: $disagree/$n = $rate%.4f")
    // the approximate pipeline still deduplicates (a broken cell join
    // would produce zero edges and keep everything)
    assert(approx.size < n, "approximate config found no duplicates at all")
    e01.unpersist()
  }

  test("ivfTopKPruned: probe filter prunes the persisted index at the " +
      "partition-directory level; exhaustive equals exact; recall bounded") {
    import graft.similarity.KMeans
    val cents = KMeans.train(emb, "vec_id", "embedding", k = 8, iters = 3)
    val assigned = Ann.assignCells(emb, cents)
    val idx = Scratch.dir("graft_ivfp")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(idx)
    val stored = spark.read.parquet(idx)
    val oneQ = emb.filter(col("vec_id") === 0)
    // bounded nprobe: the probe filter must land in PartitionFilters (a
    // directory prune), NOT as a post-scan row filter
    val pruned = Ann.ivfTopKPruned(stored, oneQ, cents, k = 3, nprobe = 2)
    val plan = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivfp")) => f
    }
    assert(scans.nonEmpty, "no scan over the persisted index found")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"probe filter did not reach PartitionFilters: ${f.partitionFilters}")
      // 2 probed cells of 8 → the pruned scan reads a strict subset
      assert(f.selectedPartitions.partitionCount <= 2 &&
        f.selectedPartitions.partitionCount < 8,
        s"expected <=2 of 8 cell dirs, read ${f.selectedPartitions.partitionCount}")
    }
    // exhaustive probes over the SAME persisted layout == exact top-k
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val q8 = emb.filter(col("vec_id") < 8)
    val exact = pairs(Ann.bruteForceTopK(q8, emb, k = 3))
    val exhaustive = pairs(Ann.ivfTopKPruned(stored, q8, cents, k = 3, nprobe = 8))
    assert(exhaustive === exact)
    // bounded nprobe keeps useful recall (same floor as knnJoin's gate)
    val approx = pairs(Ann.ivfTopKPruned(stored, q8, cents, k = 3, nprobe = 2))
    val keys = (s: Set[(Long, Long, Int)]) => s.map(t => (t._1, t._2))
    val recall = keys(approx).intersect(keys(exact)).size.toDouble /
      keys(exact).size
    assert(recall >= 0.5, s"pruned-serving recall collapsed: $recall")
  }
}
