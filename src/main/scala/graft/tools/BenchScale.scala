package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.streaming.Streams

/** Scaling gate: run the most expensive queries at sf0.1 AND at a
  * synthesized sf1 (10× the big tables) and record the wall-time ratio per
  * query — the check that catches a super-linear cliff (an LSH candidate
  * blowup, a state-store overrun, an accidental product) that the sf0.1
  * bench alone never would. Also times the skew levers A/B (salted vs
  * unsalted aggregation and join on a hot-key synthetic) plus the
  * deterministic shuffle-balance evidence behind them.
  *
  * sf1 synthesis keeps each copy a DISJOINT namespace (keys shifted,
  * document tokens suffixed, embeddings perturbed per copy) so dedup/join
  * structure scales linearly by construction — organic 10× data, not 10×
  * exact twins whose candidate pairs would grow quadratically in copies.
  * Dimension tables stay fixed (realistic fact-vs-dim scaling).
  *
  * Output: one JSON blob (stdout + `BENCH_SCALE.json`) with per-query
  * {sf0.1 best, sf1 best, raw ratio, marginal ratio} and the skew
  * experiment numbers. The flag is on the MARGINAL ratio: every query
  * carries a fixed per-query overhead (job submit, stage scheduling,
  * codegen lookup) that the raw t1/t01 quotient amortizes away — a
  * genuinely super-linear operator whose sf0.1 time is mostly overhead
  * can hide under a raw-ratio threshold (mm11 sat at 14.4 under the old
  * `> 15` rule exactly this way). So: floor = min observed sf0.1 time
  * across the gate (the cheapest query ≈ pure overhead), marginal ratio
  * = (t1 − floor) / (t01 − floor), flagged when > `MarginalFlag` (10×
  * data + 20% slack). Two guards keep the sharper rule honest rather
  * than noisy: a query within `FloorEps` of the floor uses FloorEps as
  * its denominator (the floor-defining query would otherwise divide by
  * zero), and a query whose sf1 marginal cost is under `MaterialSec`
  * cannot flag (sub-second marginals are timer noise, not scaling
  * evidence — they are still recorded for eyeballing).
  */
object BenchScale {

  /** The expensive tail of the suite per bench_out history, plus the
    * operators whose SCALING (not constant) is the risk: candidate
    * generation (LSH/gram/prefix joins), iterative CC, stream-stream
    * state, PQ training, MERGE rewrite, global top-k. */
  val Heavy: Seq[String] = Seq(
    "ann5_pq_topk", "st7_stream_join", "st10_stream_outer_join",
    "st11_stream_full_join", "ss1_overlap_join", "dd6_dedup_clusters",
    "dd15_incremental_cc", "ed1_editdist_join", "dd8_semantic_dedup",
    "dd2_minhash_lsh_poly", "g13_walk_counts", "tx8_top_tokens",
    "u16_merge_into", "mm5_image_neardup", "mm9_video_mjpeg",
    // round-8 iterative/trained/codec additions: LPA rounds scale with
    // edges, BPE training with the corpus pass + vocab rounds, audio
    // frame analysis with decoded samples
    "g16_label_prop", "tx23_bpe_roundtrip", "mm11_audio_frames",
    // the full composed curation pipeline: five chained co-keyed stages
    "pp3_full_pipeline",
    // round-8 session-2 additions whose SCALING is the question: k-core
    // peeling rounds grow with graph depth, the bigram-LM model tables
    // with vocab², the ZIP demux with archive bytes, the CMS sketch must
    // stay constant-size by construction
    "g17_kcore", "tx25_bigram_lm", "s11_zip_roundtrip", "approx4_countmin",
    // round-8 session-3: the containment join shares ss1's candidate
    // machinery (higher floor T=18 vs ss1's 10 → shorter prefixes, fewer
    // candidates) but adds the directed split + two size re-joins — gated
    // to confirm those extra stages stay linear alongside the candidates;
    // dq7 is ss1's pair stage + two split joins; ann8 is the O(|Q|·corpus)
    // broadcast product — linear in the corpus for a fixed query batch,
    // and the gate pins that
    "dd16_containment_join", "dq7_split_leakage", "ann8_range_search",
    // round-9: the J1/J2 graph merge path (the reference's core graph
    // workload — edge endpoint resolution + dedup-merge + the composed
    // lifecycle) had no sf1 evidence despite being bench spots #13-14;
    // vertices/edges scale with the lineitem copies machinery
    "g8_resolve_merge", "g9_graph_lifecycle",
    // round-9: the inverted-index build is the suite's biggest single
    // explode→shuffle (every token of every doc); the per-token rank
    // window must stay linear as posting lists grow 10×. mm16 is the
    // mm11 class (frame explosion over decoded audio) plus an FFT per
    // frame — gated for the same reason mm11 earned its entry. rl1 is
    // NOT gated: it scales with `customer`, which the synthesis keeps
    // fixed (dimension), so its ratio would measure nothing
    "idx1_inverted_index", "mm16_spectrogram",
    // bench spot #1: the iterative SCC coloring — rounds scale with the
    // handoff graph's DIAMETER, which shrinks as density grows (measured:
    // 12-16 relaxation steps at sf0.01, 6 at sf0.1), so the gate pins
    // that 10x data does not mean 10x rounds; per-copy disjoint user
    // namespaces keep the subgraphs independent
    "g21_scc",
    // round-9: the JS interpreter stage — per-row cost is constant by
    // construction (parse once per JVM, fresh env per partition), so the
    // gate pins that throughput is genuinely linear and the per-record
    // JSON parse/stringify doesn't hide an accidental corpus-sized
    // allocation
    "x10_js_stage",
    // round-10: the remaining heavy-tail entrants. st19 is the maintained
    // rollup — per-batch cost claims O(|batch| + |agg keys|); at 10× data
    // both the batches and the key space grow ~10×, so the gate pins the
    // claim empirically (a hidden O(history) rescan would go quadratic).
    // mm15 is the APNG inter-frame composition (Inflater + dispose/blend
    // replay — decoded-pixel-linear like mm9/mm11). rl2 chains rl1's
    // blocked linkage with dd6's CC survivorship — both stages are
    // candidate-bounded, the gate confirms the composition stays so.
    // idx7 is the BM25 global top-k: per-term posting scoring + a
    // distributed takeOrdered — must stay posting-linear, never
    // collect-the-corpus
    "st19_stream_rollup", "mm15_video_apng", "rl2_golden_record",
    "idx7_bm25_topk",
    // round-10 session-2: cdc6 is the PARTITIONED maintained rollup —
    // per-refresh cost claims O(|delta| + touched partitions), so 10× keys
    // must not mean 10× rewrite cost beyond the extra partitions actually
    // touched. g24 is the tagged multi-source BFS (state = landmarks ×
    // reachable nodes; rounds shrink with density, the g21 effect). st23
    // maintains the KMV sketch as streaming state — k longs per key,
    // constant like approx4's CMS but through flatMapGroupsWithState.
    // approx8 pins the top_k heap aggregate's O(k)-per-key shuffle cap.
    "cdc6_partitioned_rollup", "g24_closeness", "st23_stream_kmv",
    "approx8_kmv",
    // round-10 session-2b: fe3 is the suite's single most expensive query
    // (~7s warm at sf0.1) — one exact n·(d²/2)-term Gram pass (the
    // bit-exact-contract cost a float-BLAS PCA wouldn't pay); the gate
    // pins that it is LINEAR in the corpus (everything after the Gram
    // pass is d²-sized and corpus-independent)
    "fe3_pca_power",
    // round-11: g25's 2-sweep diameter is two full BFS passes (rounds
    // scale with diameter, which SHRINKS with density — the g21/g24
    // effect; the gate pins the product stays linear). perc1 is the
    // percolation scan: output = match count, never records × queries —
    // the gate pins that claim against 10× records. fe4 reuses fe3's
    // Gram then adds corpus-INDEPENDENT deflation rounds — its marginal
    // must match fe3's, not exceed it. tx33 is 3 full-corpus gradient
    // passes + a held-out pass: linear by construction, gated to keep it
    // so
    "g25_diameter_2sweep", "perc1_percolate", "fe4_pca_topr",
    "tx33_logreg_quality",
    // ann11 composes the two trained models (IVF cells + residual PQ) over
    // the corpus — ann5's training shape plus the probed-cell scan; gated
    // like ann5 to pin that training passes and the code scan stay linear
    "ann11_ivfpq",
    // round-11 session-2: dq13's distinct train-gram set grows with the
    // corpus and the hit join co-keys on the gram (idx1's shuffle class) —
    // gated to pin the distinct+join stays gram-linear. fe5 = fe4's full
    // chain + one projection pass: its marginal must track fe4's. st26
    // maintains the DDSketch bucket counts as streaming state — constant
    // bucket space by construction, gated like st23's KMV
    "dq13_contamination", "fe5_pca_whiten", "st26_stream_ddsketch",
    // round-12: st25 runs the percolation registry inside Structured
    // Streaming — the registry-growth gate (below) pins the sharding math
    // at fixed corpus, this entry pins the STREAMING entry's end-to-end
    // cost against 10× records (stateless narrow: must track the batch
    // perc1 entry). ann12 is the corpus×corpus kNN join at its ORACLE
    // (exhaustive-probe) config — quadratic BY CONSTRUCTION, so it is NOT
    // timed here; its scale path (√n cells, bounded nprobe) is gated by
    // the candidate counter + timed run below with the n^1.5 model
    "st25_stream_percolate",
    // round-12 session-2: dd18's window grid is corpus-token-sized and
    // every shuffle co-keys on the 12-gram or the doc — gated to pin the
    // grid stays token-linear (a window-key skew blowup would show).
    // ann13 is train + persist-partitioned-by-cell + exhaustive-probe
    // read-back: the build is the dominant cost and must stay linear.
    // perc3 is the 512-query custom PercolateExec over 10× records —
    // the single-scan claim against record growth (the registry-growth
    // A/B below pins it against registry growth)
    "dd18_exact_substring_removal", "ann13_ivf_pruned",
    "perc3_percolate_large",
    // round-13: ann14 is ann13's build class plus two append commits and
    // a store-mediated serve — its marginal must track ann13's (the
    // dedicated append-vs-rebuild A/B below pins the O(batch) claim).
    // st28 is the 512-query custom PercolateExec under streaming — must
    // track perc3's record-growth (stateless narrow) with only the
    // micro-batch machinery on top
    "ann14_ivf_append", "st28_stream_percolate_large",
    // round-14: u20 is the partitioned MERGE (store build + one O(touched)
    // commit — the dedicated u20_merge_scale A/B below pins the
    // touched-vs-full claim; this entry pins the whole query stays
    // data-linear). st30 is the streaming merge sink over the same path —
    // per-batch cost must track the batch reduction plus touched-partition
    // rewrites, never the store history. ann16 is ann14's lifecycle plus
    // codebook training and the ADC serve — must track ann14's marginal.
    // ann17 is two full builds (one per generation) + a serve: 10× data
    // may cost ~10×, the gate pins no worse. ann18 composes both risks
    // (two PQ builds incl. codebook retrains + an ADC serve)
    "u20_merge_partitioned", "st30_stream_merge_partitioned",
    "ann16_ivfpq_append", "ann17_online_rebuild", "ann18_pq_online_rebuild",
    // round-15: dd19 is the maintained LSH dedup index's full lifecycle
    // (build + O(batch) append + erasure rewrite + bucket-pruned query) —
    // its marginal must track dd10's one-shot two-sided join; st32 streams
    // per-delivery append+query through the same index, so its cost must
    // track dd19 plus the micro-batch machinery, never the index history
    "dd19_lsh_index", "st32_stream_lsh_dedup",
    // dd22 unions the two already-gated blockers (dd2 bands + dd8
    // sign-LSH buckets) and verifies every candidate with both exact
    // measures — candidate count rides the blockers' own growth, verify
    // cost is O(|candidates|) co-keyed joins (measured 1.9× at 10×)
    "dd22_ensemble_dedup")
  // dd20/st33 (the embedding-side twins of dd19/st32) are NOT in this
  // list: their driver-oracle config serves exhaustively (nprobe=|cells|,
  // provably exact — O(batch·corpus) scored pairs by design, the
  // dd17/ann12 doctrine), so the heavy-tail linearity gate would only
  // re-measure that known quadratic. Their scale path (cells ∝ √n,
  // bounded nprobe) is gated in [[dd20Scale]] against the n^1.5 model.

  private val Copies = 10
  private val KeyOff = 1000000000L // per-copy id namespace stride

  /** Synthesize the sf1 directory from sf0.1. Idempotent via a marker that
    * fingerprints the SOURCE files (name/size/mtime): regenerated testdata
    * — which has happened between rounds — invalidates the cache instead of
    * silently timing sf1 numbers against a previous round's data. */
  def buildSf1(spark: SparkSession, src: String, dst: String): Unit = {
    val marker = new java.io.File(s"$dst/_GRAFT_SF1_READY")
    val entries = Option(new java.io.File(src).listFiles()).getOrElse(
      sys.error(s"BenchScale: source sf dir missing or unreadable: $src"))
    // directory-layout parquet tables: the dir's own length/mtime are weak
    // proxies for content, so fingerprint the contained part-files instead
    def fp(f: java.io.File): String =
      if (f.isDirectory)
        s"${f.getName}/{" + Option(f.listFiles()).getOrElse(Array.empty)
          .filter(p => p.isFile && !p.getName.startsWith("_") &&
            !p.getName.startsWith(".")).sortBy(_.getName)
          .map(p => s"${p.getName}:${p.length}:${p.lastModified}")
          .mkString(",") + "}"
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val fingerprint = entries
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(fp).mkString("\n")
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) == fingerprint)
      return
    new java.io.File(dst).mkdirs()
    def raw(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def copies(name: String)(mutate: (DataFrame, Int) => DataFrame): Unit = {
      val base = raw(name)
      (0 until Copies).map(c => mutate(base, c))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    // dims unscaled: fact-vs-dim scaling, and every query still resolves
    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      raw(n).write.mode("overwrite").parquet(s"$dst/$n.parquet")
    }
    copies("orders") { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * KeyOff))
    }
    copies("lineitem") { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * KeyOff))
        // suppliers/parts shift too: otherwise 10 copies share one vertex
        // set and the co-purchase graph DENSIFIES instead of scaling
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * 1000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(c * 10000000L))
    }
    copies("events") { (df, c) =>
      df.withColumn("event_id", col("event_id") + lit(c * KeyOff))
        // disjoint users per copy: shared users would grow the per-key
        // interval-join match set quadratically in copies
        .withColumn("user_id", col("user_id") + lit(c * 10000000L))
    }
    copies("documents") { (df, c) =>
      // per-copy BIJECTIVE character rotation (Caesar within each character
      // class, whitespace untouched): within a copy, token equality, string
      // lengths, shingle and q-gram structure are EXACTLY isomorphic to the
      // original, while across copies every letter differs — so tokens,
      // shingles, and (crucially) the edit-join's q-grams are copy-local
      // and its inverted-index buckets scale linearly. Earlier attempts
      // that SUFFIXED a copy tag onto tokens left original-character grams
      // shared by all 10 copies: their index buckets grew 10×, candidate
      // pairs 100×, and ed1 false-flagged as 22-32× superlinear
      val mutated =
        if (c == 0) df
        else {
          def rot(s: String) = s.drop(c % s.length) + s.take(c % s.length)
          val lower = "abcdefghijklmnopqrstuvwxyz"
          val upper = lower.toUpperCase
          val digit = "0123456789"
          df.withColumn("text", translate(col("text"),
            lower + upper + digit, rot(lower) + rot(upper) + rot(digit)))
        }
      mutated.withColumn("doc_id", col("doc_id") + lit(c * KeyOff))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    copies("embeddings") { (df, c) =>
      df.withColumn("vec_id", col("vec_id") + lit(c * KeyOff))
        .withColumn("embedding",
          transform(col("embedding"), x => (x + lit(c * 0.0017f)).cast("float")))
    }
    java.nio.file.Files.write(marker.toPath, fingerprint.getBytes)
  }

  /** `body`'s wall seconds and value. */
  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  private def time(body: => Unit): Double = timed(body)._1

  private def bestOf(n: Int)(body: => Unit): Double =
    (1 to n).map(_ => time(body)).min

  // hot-key synthetic + shuffle-balance metric live in graft.ops.Skew
  // (hotKeyDf / maxOverMean), shared with PlanSpec's balance test so the
  // gate and the spec measure the same skew model
  import graft.ops.Skew.{hotKeyDf, maxOverMean}

  /** A probe's reading at sf0.1 and at sf1. */
  final case class Scaled[A](sf01: A, sf1: A) {
    /** The growth sf1 / sf0.1, as [[over]] guards it. */
    def ratio(implicit n: Numeric[A]): Double = over(n.toDouble(sf1), n.toDouble(sf01))
  }

  /** `num / den`; -1 when `den` is not positive or `num` is a failed
    * (negative) reading. */
  def over(num: Double, den: Double): Double =
    if (den > 0 && num >= 0) num / den else -1.0

  // one reading per multi-figure probe below; [[Results]] gathers them
  final case class SkewAb(aggUnsalted: Double, aggSalted: Double, joinUnsalted: Double,
      joinSalted: Double, balUnsalted: Double, balSalted: Double)
  final case class StateRun(sec: Double, rows: Long, stateRows: Long, stateMemBytes: Long)
  final case class Percolation(first8: Double, exec8: Double, first512: Double,
      exec512: Double, unionExec512: Double)
  final case class Append(build: Double, append: Double, rebuild: Double, serve: Double)
  final case class Merge(touched: Double, full: Double, touchedBytes: Long, fullBytes: Long)
  final case class SkewMerge(window: Double, salted: Double, merge: Double,
      touchedBytes: Long, fullBytes: Long, correct: Boolean, balUnsalted: Double,
      balSalted: Double)
  final case class Rotation(rebuild: Double, before: Double, duringMax: Double,
      after: Double, duringN: Int)

  /** Everything one gate run measured; [[artifact]] turns it into
    * `BENCH_SCALE.json`. `pipelines` holds one entry per [[Pipelines]]
    * section, in that order. */
  final case class Results(runs: Int, queries: Seq[(String, Scaled[Double])],
      skew: SkewAb, st13Hdfs: StateRun, st13RocksDb: StateRun,
      ss1Candidates: Scaled[Long], dd16Candidates: Scaled[Long],
      percolator: Percolation, knnCandidates: Scaled[Long],
      knnTime: Scaled[Double], append: Scaled[Append],
      pipelines: Seq[(String, Scaled[Double])], merge: Scaled[Merge],
      skewMerge: Scaled[SkewMerge], rotation: Scaled[Rotation])

  /** The composed approximate pipelines, each timed end to end at both
    * scales under its artifact section, flagged at ann12's 47× line (n^1.5
    * model 31.6 × 1.5 slack): each rides ann12's gated n^1.5 candidate path.
    *  - dd17 SemDeDup: √n cells, nprobe=2 knnJoin edges (cos >= 0.40,
    *    top-3) → pointer-jumping CC → keep-set. CC rounds are
    *    lineage-truncated and shrink with density. DedupAnnSpec pins the
    *    approximate keep-set's disagreement vs the exhaustive keep-set.
    *  - pp8 curation: the whole five-stage plan (dd18 mask → approximate
    *    √n-cell SemDeDup drop → tx34 gate → tx36 sample → tx7 pack). The
    *    keep-set stage dominates growth; every other stage is token-linear.
    *    It composes dd17's ONE approximate-config definition
    *    (DedupQueries.semdedupKeepApprox), so the two gates can never
    *    measure different configs.
    *  - dd20 maintained semantic-dedup index (√n cells, nprobe=4): build +
    *    frozen-quantizer append + erasure rewrite + threshold serve. Its
    *    driver-oracle config (nprobe=|cells|) is the deliberately-exhaustive
    *    exactness proof and is NOT what scales. */
  val Pipelines: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dd17_semdedup_scale" -> graft.queries.DedupQueries.semdedupKeepApprox _,
    "pp8_curation_scale" -> graft.queries.TextQueries.curationPipelineApprox _,
    "dd20_semdedup_index_scale" ->
      graft.queries.AnnQueries.semanticIndexDedupApprox _)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(2)

    System.err.println(s"[scale] building sf1 at $sf1 (idempotent)")
    buildSf1(spark, sf01, sf1)

    /** `probe(dir, tag)` at sf0.1, then at sf1 (`tag` names its scratch),
      * with one progress line on stderr. */
    def atBothScales[A](label: String)(probe: (String, String) => A): Scaled[A] = {
      def show(v: Any): String = v match {
        case d: Double => "%.3f".format(d)
        case p: Product => p.productElementNames.zip(p.productIterator)
          .map { case (k, x) => s"$k=${show(x)}" }.mkString(" ")
        case other => other.toString
      }
      val s = Scaled(probe(sf01, "01"), probe(sf1, "1"))
      System.err.println(s"[scale] $label sf0.1 ${show(s.sf01)} | sf1 ${show(s.sf1)}")
      s
    }

    // JIT/codegen warm-up on the smallest SF, like Bench
    // warm on the sibling sf0.001 when the standard layout is present;
    // otherwise warm on the measured dir itself — a silently-failed warm-up
    // would hand the JIT bill to the first timed sf0.1 run and deflate
    // every superlinearity ratio
    val warmDir = {
      val small = new java.io.File(sf01).getParentFile match {
        case null => "/root/testdata/sf0.001"
        case p => s"${p.getPath}/sf0.001"
      }
      if (new java.io.File(small).isDirectory) small else sf01
    }
    Heavy.foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[scale] warm $q failed: ${e.getMessage}") }
    }

    val queries = Heavy.map { q =>
      q -> atBothScales(q) { (dir, _) =>
        try bestOf(runs)(SparkEntry.queries(q)(spark, dir).count())
        catch { case e: Throwable =>
          System.err.println(s"[scale] $q failed: ${e.getMessage}"); -1.0 }
      }
    }

    // ---- skew lever A/B on the hot-key synthetic (sf1-sized) ------------
    val hot = hotKeyDf(spark, 6000000L).cache()
    hot.count() // materialize once so A and B read the same cached input
    val dim = spark.range(1001).select(col("id").as("k"),
      concat(lit("label_"), col("id")).as("label"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val balUnsalted = maxOverMean(hot, parts, Seq(col("k")))
    val balSalted = maxOverMean(
      hot.withColumn("__salt", pmod(monotonically_increasing_id(), lit(128L))),
      parts, Seq(col("k"), col("__salt")))
    val aggUnsalted = bestOf(runs)(
      hot.groupBy("k").agg(count(lit(1)), sum("v")).count())
    val aggSalted = bestOf(runs)(
      graft.ops.Skew.saltedAgg(hot, Seq("k"), Seq("v"), buckets = 128).count())
    // joins: disable broadcast (emulating a dim over the broadcast budget —
    // the only regime where salting matters) and AQE's skew split (the
    // built-in alternative lever; here we measure OURS in isolation)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (joinUnsalted, joinSalted) =
      try {
        (bestOf(runs)(hot.join(dim, "k").count()),
          bestOf(runs)(
            graft.ops.Skew.saltedJoin(hot, dim, Seq("k"), buckets = 128).count()))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    hot.unpersist()
    val skew = SkewAb(aggUnsalted, aggSalted, joinUnsalted, joinSalted,
      balUnsalted, balSalted)

    // ---- streaming state-store provider pair at sf1 (st13: session_window
    // carries the biggest state of the stream family). Same pipeline, both
    // providers; wall time, result rows (must be equal — provider is a
    // layout choice, never a semantics choice), and the state operator's
    // numRowsTotal / memory from the progress events. RocksDB's figure is
    // its block-cache+memtable total — bounded, off-heap, spillable — and
    // is the memory evidence here. The on-heap provider's memoryUsedBytes
    // is NOT load-bearing: an availableNow run posts its progress event
    // after the final commit, when the version map may already be
    // unloaded, so the estimate can read near-zero (observed: 954k state
    // rows reported at a few KB; the same query has also reported ~315 MB
    // when the event caught the map loaded). rows_equal + state_rows +
    // the RocksDB bound are the stable claims. Progress events ride the
    // listener bus, so QueryMetrics' closing drain has seen them all. ----
    def st13Run(provider: Option[String]): StateRun = {
      val ((sec, rows), c) = QueryMetrics.during(spark)(timed {
        val raw = Streams.parquetStream(spark, s"$sf1/events.parquet",
          spark.read.parquet(s"$sf1/events.parquet").schema)
        Streams.runToParquet(Tables.normalizeTs(raw), st =>
            st.withWatermark("ts", "30 minutes")
              .groupBy(col("user_id"),
                session_window(col("ts"), "30 minutes"))
              .agg(count(lit(1)).as("n_events")),
            statePartitions = Some(8), stateStoreProvider = provider).count()
      })
      StateRun(sec, rows, c.maxStateRows, c.maxStateMemBytes)
    }
    val hdfs = st13Run(None)
    val rock = st13Run(Some(Streams.RocksDbStateStore))
    System.err.println(f"[scale] st13@sf1 hdfs ${hdfs.sec}%.2fs rocksdb ${rock.sec}%.2fs " +
      s"rows ${hdfs.rows}/${rock.rows} stateMem ${hdfs.stateMemBytes}/${rock.stateMemBytes}")

    // ---- candidate-growth counters: the pre-verify candidate-pair count
    // at sf0.1 vs sf1, counted with one extra count() on the exposed
    // candidate stage (same shingle prep as the query; the stage itself
    // keeps each doc's distinct shingles, so one probe serves both). ss1's
    // is the mechanism behind its worst-in-gate time ratio. dd16's
    // candidate stage is the same machinery at the containment parameters
    // (size gate >= 20 distinct shingles, absolute floor T = ceil(90%·20) =
    // 18) — counted so a time-ratio move (2.8 in the r8 gate → ~11 on the
    // r9 corpus) is attributable: if candidates grew ~linearly with data
    // while absolute counts rose with the corpus's duplicate structure,
    // the operator is linear-in-candidates, not super-linear in data. -----
    def candidates(label: String, minSize: Int, minOverlap: Int): Scaled[Long] =
      atBothScales(label) { (dir, _) =>
        val sets = Tables.t(spark, dir, "documents")
          .select(col("doc_id"), array_distinct(graft.dedup.TextDedup
            .wordShingles(split(col("text"), " "), 5)).as("__set"))
          .filter(size(col("__set")) >= minSize)
        graft.dedup.OverlapJoin.candidates(sets, "doc_id", "__set",
          minOverlap).count()
      }
    val ss1Cand = candidates("ss1 candidates", minSize = 0, minOverlap = 10)
    // the q:dd16 parameters, with T derived by containmentJoin's own
    // formula — an edit to the query's constants shows up here instead
    // of silently counting a stage the query no longer computes
    val dd16Cand = {
      val (minContainPct, minSize) = (90, 20)
      candidates("dd16 candidates", minSize,
        math.max(1, math.ceil(minContainPct * minSize / 100.0).toInt))
    }

    // ---- percolator REGISTRY growth at fixed corpus: 8 -> 512 stored
    // queries over sf0.1 events. 64× queries must cost far less than 64×
    // wall time (the scan dominates; per-query work is one codegen'd
    // branch), and at 512 the registry exercises the sharded union-of-
    // projections path (maxPerProjection = 256 → 2 shards), so this also
    // times the shard plan, not just the fused one. ----------------------
    // The deployment shape is plan-once/match-forever (a standing alerting
    // registry over a stream), so EXECUTION is timed on a pre-planned
    // frame; the one-time plan+codegen+first-run cost is reported
    // separately (it grows with registry size — janino compiles each
    // shard's fused projection once). The claim is NOT sublinearity —
    // every stored query must be evaluated per record, that is the
    // workload (ES's percolator pays the same) — it is that the
    // per-(record × query) cost stays BOUNDED as the registry grows: the
    // 64× registry may cost ~64× wall, never quadratically more (a
    // registry-sized join or a codegen collapse would show here).
    def percRun(n: Int, unionShards: Boolean = false): (Double, Double) = {
      val types = Seq("purchase", "click", "view", "error", "signup")
      val reg = (0 until n).map { i =>
        val lo = (i % 90).toDouble
        (String.format(java.util.Locale.ROOT, "q_%04d", Int.box(i)),
          graft.dsl.Query.allOf()
            .when("event_type", types(i % 5)).rangeIn("value", lo, lo + 7.0))
      }
      val ev = Tables.t(spark, sf01, "events")
      val df = graft.ops.Percolator.matches(ev, reg, Seq("event_id"),
        unionShards = unionShards)
      val firstRun = time(df.count()) // analysis + codegen + one pass
      (firstRun, bestOf(runs)(df.count()))
    }
    val (percFirst8, perc8) = percRun(8)
    val (percFirst512, perc512) = percRun(512)
    // A/B the layouts at 512 (2 groups past maxPerProjection=256): the
    // single-pass default must not lose to the legacy union-of-scans —
    // same per-record predicate work, one scan instead of two
    val (_, percUnion512) = percRun(512, unionShards = true)
    val perc = Percolation(percFirst8, perc8, percFirst512, perc512,
      percUnion512)
    System.err.println(
      f"[scale] percolator registry 8q $perc8%.2fs 512q $perc512%.2fs " +
        f"union-shards 512q $percUnion512%.2fs " +
        f"(first runs $percFirst8%.2f/$percFirst512%.2f)")

    // ---- ann12 corpus×corpus kNN scale path: cells ∝ √n (the classic IVF
    // sizing), nprobe fixed — candidate pairs ≈ n²·nprobe/C grow as n^1.5,
    // NOT n² (and not n: every vector genuinely queries the corpus — the
    // n^1.5 curve IS the design point, so the gate's flag line is the
    // model ×1.5 slack, i.e. 10^1.5 ≈ 31.6 expected, flag > 47). The timed
    // run covers the whole join (train + assign + probe + candidates +
    // heap rank) at the same config. ---------------------------------------
    // the timed run covers the WHOLE pipeline — count + √n-cell k-means
    // train + assign + probe + candidates + heap rank — as the docs claim
    // (training is driver-iterative and must not hide outside the
    // measurement; the candidate counter pass doubles as the warm-up, so
    // each dir trains exactly twice). Single timed run: the flag line is
    // 47×, far above timing noise.
    def ann12Model(dir: String): (DataFrame, DataFrame) = {
      val e = Tables.t(spark, dir, "embeddings")
      val n = e.count()
      val cells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
      (e, graft.similarity.KMeans.train(e, "vec_id", "embedding",
        k = cells, iters = 2))
    }
    val knnCand = atBothScales("ann12 candidates") { (dir, _) =>
      val (e, cents) = ann12Model(dir)
      graft.similarity.Ann.knnJoinCandidates(e, cents, nprobe = 2).count()
    }
    val knnTime = atBothScales("ann12 time") { (dir, _) =>
      time {
        val (e, cents) = ann12Model(dir)
        graft.similarity.Ann.knnJoin(e, cents, k = 3, nprobe = 2).count()
      }
    }

    // ---- ann14 incremental IVF maintenance: the append path's WHOLE cost
    // (assign batch + drift check + replay guard + O(batch) append commit)
    // vs the full-rebuild comparator (assign corpus + O(n) init write) at
    // the same √n-cell config — the claim is append ∝ batch, so at every
    // SF the append must beat the rebuild, and the append's sf0.1↔sf1
    // growth must stay ~data-linear (the batch is a fixed 1/8 of the
    // corpus). Serve (bounded nprobe over the maintained store) reported
    // for the pruned-read story. --------------------------------------------
    val append = atBothScales("ann14 append") { (dir, tag) =>
      // best-of-N by re-running the WHOLE body (an append is once-only
      // per index — the replay guard forbids re-appending the same batch
      // — so each sample builds its own index pair); the first sample
      // also absorbs the gate-shape codegen that would otherwise hand
      // the A/B to whichever side ran second
      val samples = (1 to runs).map { r =>
        val e = Tables.t(spark, dir, "embeddings")
        val n = e.count()
        val cells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
        val cents = graft.similarity.KMeans.train(
          e.filter(col("vec_id") % 8 =!= 7), "vec_id", "embedding",
          k = cells, iters = 2)
        val idxRoot = graft.util.Scratch.dir(s"graft_sc_ann14_${tag}_$r")
        val idx = new graft.similarity.IvfIndex(spark, idxRoot,
          nPartitions = cells)
        val tBuild = time(idx.build(e.filter(col("vec_id") % 8 =!= 7), cents))
        val tAppend = time(idx.append(e.filter(col("vec_id") % 8 === 7), cents))
        val rebuiltRoot = graft.util.Scratch.dir(s"graft_sc_ann14r_${tag}_$r")
        val rebuilt = new graft.similarity.IvfIndex(spark, rebuiltRoot,
          nPartitions = cells)
        val tRebuild = time(rebuilt.build(e, cents))
        val tServe = time(
          idx.serve(e.filter(col("vec_id") < 8), cents, k = 3, nprobe = 2)
            .count())
        // reclaim the sample's two corpus-sized index copies NOW — at
        // best-of-N over two SFs, deferring to JVM exit stacks 4N copies
        graft.util.Scratch.drop(idxRoot)
        graft.util.Scratch.drop(rebuiltRoot)
        Append(tBuild, tAppend, tRebuild, tServe)
      }
      Append(samples.map(_.build).min, samples.map(_.append).min,
        samples.map(_.rebuild).min, samples.map(_.serve).min)
    }

    // ---- the composed approximate pipelines ([[Pipelines]]) ---------------
    val pipelines = Pipelines.map { case (section, pipeline) =>
      section -> atBothScales(section)((dir, _) =>
        time(pipeline(spark, dir).count()))
    }

    // ---- u20 partitioned-merge A/B: a delta CONFINED to 2 of 32
    // partitions merged via the touched-partition path vs the SAME delta
    // through a whole-store rewrite (the CrudService.mergeInto shape).
    // The claim: merge cost tracks the touched partitions' bytes, not the
    // store's. Wall time shows the win but is fixed-overhead-dominated at
    // toy scale (the ann14 lesson: job submission ≈ the data cost here),
    // so the LOAD-BEARING measurement is write VOLUME — the byte delta of
    // one instrumented merge on a no-reclaim store, where touched/full
    // must be ≈ the partition fraction (2/32) independent of timer noise.
    import graft.ops.MergeInto
    import graft.store.PartitionedStore
    def orders(dir: String) = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    def store(name: String, orders: DataFrame, // 2: the store's own default
        retainVersions: Int = 2): PartitionedStore = {
      val st = new PartitionedStore(spark, graft.util.Scratch.dir(name),
        Seq("o_orderkey"), 32, retainVersions = retainVersions)
      st.init(orders)
      st
    }
    // the delta's price lands on match and on insert
    val price = Map("o_totalprice" -> col("src_price"))
    def touchedMerge(st: PartitionedStore, delta: DataFrame): Unit = {
      MergeInto.mergePartitioned(st, delta, matchedUpdate = price,
        notMatchedInsert = Some(price))
      ()
    }
    def fullMerge(st: PartitionedStore, delta: DataFrame): Unit =
      st.refresh(0 until 32, MergeInto.merge(st.read(), delta,
        Seq("o_orderkey"), matchedUpdate = price,
        notMatchedInsert = Some(price)))
    // bytes `body` adds under a no-reclaim store's root (retainVersions
    // high → nothing swept → root growth = bytes written)
    def written(st: PartitionedStore)(body: => Unit): Long = {
      def bytes(): Long = {
        import scala.jdk.CollectionConverters._
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(st.root))
        try w.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
        finally w.close()
      }
      val b0 = bytes()
      body
      bytes() - b0
    }
    // one whole-store rewrite's write volume: the byte ratios' denominator
    def fullRewriteBytes(name: String, orders: DataFrame,
        delta: DataFrame): Long = {
      val st = store(name, orders, retainVersions = 1000)
      try written(st)(fullMerge(st, delta))
      finally graft.util.Scratch.drop(st.root)
    }
    val merge = atBothScales("u20 merge") { (dir, tag) =>
      val o = orders(dir)
      val st1 = store(s"graft_sc_u20_${tag}_t", o)
      val delta = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000).as("src_price"))
        .filter(st1.partitionId.isInCollection(Set(0, 1)))
      touchedMerge(st1, delta) // warm (codegen + first-touch)
      val tTouched = bestOf(runs)(touchedMerge(st1, delta))
      val st2 = store(s"graft_sc_u20_${tag}_f", o)
      fullMerge(st2, delta) // warm
      val tFull = bestOf(runs)(fullMerge(st2, delta))
      // write VOLUME: one instrumented merge each on no-reclaim stores
      val stB1 = store(s"graft_sc_u20_${tag}_bt", o, retainVersions = 1000)
      val touchedBytes = written(stB1)(touchedMerge(stB1, delta))
      val fullBytes = fullRewriteBytes(s"graft_sc_u20_${tag}_bf", o, delta)
      Seq(st1, st2, stB1).foreach(s => graft.util.Scratch.drop(s.root))
      Merge(tTouched, tFull, touchedBytes, fullBytes)
    }

    // ---- u20 SKEWED-key merge: a real upsert stream has hot keys — here
    // ONE key carries 50% of the batch (the rest spread over a key pool
    // confined to the same 2-of-32 partitions). The uniform A/B above
    // can't see three things this pins: (1) the per-batch latest-per-key
    // reduction stays CORRECT on the hot key under BOTH strategies — the
    // st30 row_number window (hot key's rows sort on ONE task) and
    // Skew.saltedLatestBy (associative max_by spread over 16 reducers) —
    // with the deterministic shuffle-balance numbers behind the lever;
    // (2) merge write bytes still track the TOUCHED partitions (a hot key
    // CONCENTRATES the delta, it must not widen the write); (3) the
    // order-guarded merge lands exactly the hot key's latest row. --------
    val skewMerge = atBothScales("u20 skew merge") { (dir, tag) =>
      import graft.ops.Skew
      import org.apache.spark.sql.expressions.Window
      val o = orders(dir)
      val st = store(s"graft_sc_u20sk_$tag", o, retainVersions = 1000)
      // key pool confined to partitions {0,1}; the hot key is the least
      val pool = o.filter(st.partitionId.isInCollection(Set(0, 1)))
        .select("o_orderkey").limit(2000).collect()
        .map(_.getLong(0)).sorted
      val hot = pool.head
      val cold = pool.tail.toSeq
      val nB = o.count() // batch sized like the store, scales with SF
      val batch = spark.range(nB).select(
        when(col("id") % 2 === 0, lit(hot)).otherwise(element_at(
          typedLit(cold), (pmod(col("id"), lit(cold.size.toLong)) + 1)
            .cast("int"))).as("o_orderkey"),
        col("id").as("ord"),
        (col("id") % 1000).cast("double").as("src_price"))
      // (1) reduction correctness + the A/B behind the salting lever.
      // `ord` (= id) is unique, so both strategies must agree exactly
      def winReduce() = {
        val w = Window.partitionBy("o_orderkey").orderBy(col("ord").desc)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select("o_orderkey", "src_price", "ord")
      }
      def saltReduce() =
        Skew.saltedLatestBy(batch, Seq("o_orderkey"), "ord", Seq("src_price"))
      val tWin = bestOf(runs)(winReduce().count())
      val tSalt = bestOf(runs)(saltReduce().count())
      def collected(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val winRows = collected(winReduce())
      val saltRows = collected(saltReduce())
      // hot key's latest in closed form: greatest even id
      val hotOrd = if ((nB - 1) % 2 == 0) nB - 1 else nB - 2
      val hotExpected = (hot, (hotOrd % 1000).toDouble, hotOrd)
      val reduceOk = winRows == saltRows && winRows.contains(hotExpected)
      val balUnsalted = Skew.maxOverMean(batch, 32, Seq(col("o_orderkey")))
      val balSalted = Skew.maxOverMean(batch, 32, Seq(col("o_orderkey"),
        pmod(monotonically_increasing_id(), lit(16L))))
      // (2)+(3) the merge itself: bytes instrumented on the no-reclaim
      // store, touched derived from the 2001-key delta = 2 partitions
      val delta = saltReduce().select(col("o_orderkey"), col("src_price"))
      var tMerge = 0.0
      val touchedBytes = written(st) { tMerge = time(touchedMerge(st, delta)) }
      val hotRow = st.read().filter(col("o_orderkey") === hot)
        .select("o_totalprice").collect()
      val mergeOk = hotRow.length == 1 &&
        math.abs(hotRow(0).getDouble(0) - hotExpected._2) < 1e-9
      // full-rewrite bytes for the fraction denominator
      val fullBytes = fullRewriteBytes(s"graft_sc_u20sk_${tag}_f", o, delta)
      graft.util.Scratch.drop(st.root)
      SkewMerge(tWin, tSalt, tMerge, touchedBytes, fullBytes,
        reduceOk && mergeOk, balUnsalted, balSalted)
    }

    // ---- rotate_scale: rebuild-WHILE-serving — the "no blackout" claim
    // as a measurement, not just a race spec. Build the rotating index,
    // measure solo serve latency, then retrain+rebuild in a background
    // thread while a foreground loop keeps serving: every serve must
    // complete (the pointer resolves old-or-new), and the worst
    // during-rebuild latency is recorded against the solo baseline
    // (CPU contention on one box makes some slowdown legitimate; a
    // BLACKOUT would show as during ≈ the whole rebuild wall time). ------
    val rotation = atBothScales("rotate") { (dir, tag) =>
      import graft.similarity.{KMeans, RawCodec, RotatingIvf}
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val rot = new RotatingIvf(spark,
        graft.util.Scratch.dir(s"graft_sc_rot_$tag"), nPartitions = 8, RawCodec)
      rot.build(e, KMeans.train(e, "vec_id", "embedding", k = 8, iters = 2))
      val q = e.filter(col("vec_id") < 16)
      def serveOnce(): Double = time(rot.serve(q, k = 5, nprobe = 2).count())
      serveOnce() // warm
      val before = (1 to 3).map(_ => serveOnce()).min
      @volatile var rebuildSec = -1.0
      val rebuilder = new Thread(() => rebuildSec = time(
        rot.rebuild(e, KMeans.train(e, "vec_id", "embedding", k = 8, iters = 2))))
      rebuilder.start()
      val during = scala.collection.mutable.ArrayBuffer[Double]()
      while (rebuilder.isAlive) {
        val wasAlive = rebuilder.isAlive
        val s = serveOnce()
        if (wasAlive) during += s // started during the rebuild
      }
      rebuilder.join()
      val after = (1 to 3).map(_ => serveOnce()).min
      graft.util.Scratch.drop(rot.root)
      Rotation(rebuildSec, before,
        if (during.isEmpty) -1.0 else during.max, after, during.size)
    }

    val json = render(artifact(Results(runs, queries, skew, hdfs, rock,
      ss1Cand, dd16Cand, perc, knnCand, knnTime, append, pipelines, merge,
      skewMerge, rotation)))
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SCALE.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** The artifact's one writer. A value is an object (fields in order) or
    * a leaf already in its JSON text: a measured figure to 3 decimals
    * ([[dec]]), or a count, flag or fixed constant as written ([[plain]]). */
  sealed trait Json
  final case class Obj(fields: Seq[(String, Json)]) extends Json
  final case class Leaf(text: String) extends Json
  def obj(fields: (String, Json)*): Json = Obj(fields)
  def dec(d: Double): Json = Leaf("%.3f".format(d))
  def plain(v: Any): Json = Leaf(v.toString)
  def render(j: Json): String = j match {
    case Leaf(text) => text
    case Obj(fields) => fields
      .map { case (k, v) => s""""$k":${render(v)}""" }.mkString("{", ",", "}")
  }

  // marginal-cost gate: subtract the fixed per-query floor before the
  // quotient so amortization can't mask a super-linear operator
  val MarginalFlag = 12.0 // 10× data + 20% slack
  val FloorEps = 0.05     // s; denominator guard for the floor definer
  val MaterialSec = 1.0   // s; sub-second sf1 marginals are noise

  /** `BENCH_SCALE.json`: the readings and every flag the gate derives from
    * them. */
  def artifact(r: Results): Json = {
    val okTimes = r.queries.map(_._2).filter(t => t.sf01 > 0 && t.sf1 > 0)
    val floor = if (okTimes.isEmpty) 0.0
      else okTimes.map(_.sf01).min min okTimes.map(_.sf1).min
    val queries = r.queries.map { case (q, t) =>
      val m1 = t.sf1 - floor
      val marginal = if (t.sf01 > 0 && t.sf1 > 0)
        m1 / math.max(t.sf01 - floor, FloorEps) else -1.0
      q -> obj("sf01" -> dec(t.sf01), "sf1" -> dec(t.sf1),
        "ratio" -> dec(t.ratio), "marginal_ratio" -> dec(marginal),
        "superlinear" -> plain(marginal > MarginalFlag && m1 > MaterialSec))
    }
    def stateRun(s: StateRun) = obj("sec" -> dec(s.sec), "rows" -> plain(s.rows),
      "state_rows" -> plain(s.stateRows), "state_mem_bytes" -> plain(s.stateMemBytes))
    def candidates(c: Scaled[Long]) = obj("sf01" -> plain(c.sf01),
      "sf1" -> plain(c.sf1), "ratio" -> dec(c.ratio),
      "superlinear" -> plain(c.ratio > 15.0))
    val p = r.percolator
    val percRatio = over(p.exec512, p.exec8)
    // per-query cost growth: exec ratio normalized by the 64× registry
    // growth — 1.0 = perfectly linear in queries; ~2 = constant-factor
    // codegen-locality degradation; >4 would indicate a genuinely
    // superlinear (registry-quadratic) regression
    val percPerQuery = if (percRatio > 0) percRatio / 64.0 else -1.0
    val (kc, kt) = (r.knnCandidates, r.knnTime)
    val (a01, a1) = (r.append.sf01, r.append.sf1)
    val appendRatio = over(a1.append, a01.append)
    val (mg01, mg1) = (r.merge.sf01, r.merge.sf1)
    val mgByteRatio1 = over(mg1.fullBytes.toDouble, mg1.touchedBytes.toDouble)
    val (sk01, sk1) = (r.skewMerge.sf01, r.skewMerge.sf1)
    val skByteRatio1 = over(sk1.fullBytes.toDouble, sk1.touchedBytes.toDouble)
    val (ro01, ro1) = (r.rotation.sf01, r.rotation.sf1)
    val roRatio = over(ro1.rebuild, ro01.rebuild)
    Obj(Seq(
      "metric" -> plain("\"scale_gate\""), "copies" -> plain(Copies),
      "runs" -> plain(r.runs), "marginal_floor_sec" -> dec(floor),
      "marginal_flag_threshold" -> plain(MarginalFlag), "queries" -> Obj(queries),
      "skew" -> obj("agg_unsalted_sec" -> dec(r.skew.aggUnsalted),
        "agg_salted_sec" -> dec(r.skew.aggSalted),
        "join_unsalted_sec" -> dec(r.skew.joinUnsalted),
        "join_salted_sec" -> dec(r.skew.joinSalted),
        "balance_max_over_mean_unsalted" -> dec(r.skew.balUnsalted),
        "balance_max_over_mean_salted" -> dec(r.skew.balSalted)),
      "st13_state_store_sf1" -> obj("hdfs" -> stateRun(r.st13Hdfs),
        "rocksdb" -> stateRun(r.st13RocksDb),
        "rows_equal" -> plain(r.st13Hdfs.rows == r.st13RocksDb.rows)),
      "ss1_candidates" -> candidates(r.ss1Candidates),
      "dd16_candidates" -> candidates(r.dd16Candidates),
      "percolator_registry_growth" -> obj("n8_exec_sec" -> dec(p.exec8),
        "n512_exec_sec" -> dec(p.exec512), "exec_cost_ratio" -> dec(percRatio),
        "per_query_cost_ratio" -> dec(percPerQuery),
        "n8_first_run_sec" -> dec(p.first8), "n512_first_run_sec" -> dec(p.first512),
        "n512_union_shards_exec_sec" -> dec(p.unionExec512),
        "single_pass_slower_than_union" -> plain(p.exec512 > p.unionExec512 * 1.5),
        "registry_cost_superlinear" -> plain(percPerQuery > 4.0)),
      "ann12_knn_scale" -> obj("cand_sf01" -> plain(kc.sf01),
        "cand_sf1" -> plain(kc.sf1), "cand_ratio" -> dec(kc.ratio),
        "time_sf01" -> dec(kt.sf01), "time_sf1" -> dec(kt.sf1),
        "time_ratio" -> dec(kt.ratio), "expected_model_ratio" -> plain(31.6),
        "superlinear" -> plain(kc.ratio > 47.0 || kt.ratio > 47.0)),
      "ann14_append_scale" -> obj(
        "build_sf01" -> dec(a01.build), "build_sf1" -> dec(a1.build),
        "append_sf01" -> dec(a01.append), "append_sf1" -> dec(a1.append),
        "append_ratio" -> dec(appendRatio),
        "rebuild_sf01" -> dec(a01.rebuild), "rebuild_sf1" -> dec(a1.rebuild),
        "serve_sf01" -> dec(a01.serve), "serve_sf1" -> dec(a1.serve),
        "append_slower_than_rebuild" -> plain(a1.append > a1.rebuild),
        "append_superlinear" -> plain(appendRatio > 20.0))) ++
      r.pipelines.map { case (section, t) =>
        section -> obj("time_sf01" -> dec(t.sf01), "time_sf1" -> dec(t.sf1),
          "time_ratio" -> dec(t.ratio), "expected_model_ratio" -> plain(31.6),
          "superlinear" -> plain(t.ratio > 47.0))
      } ++ Seq(
      "u20_merge_scale" -> obj(
        "touched_sf01" -> dec(mg01.touched), "touched_sf1" -> dec(mg1.touched),
        "full_rewrite_sf01" -> dec(mg01.full), "full_rewrite_sf1" -> dec(mg1.full),
        "touched_partitions" -> plain(2), "n_partitions" -> plain(32),
        "sf1_full_over_touched" -> dec(over(mg1.full, mg1.touched)),
        "touched_write_bytes_sf01" -> plain(mg01.touchedBytes),
        "full_write_bytes_sf01" -> plain(mg01.fullBytes),
        "touched_write_bytes_sf1" -> plain(mg1.touchedBytes),
        "full_write_bytes_sf1" -> plain(mg1.fullBytes),
        "sf1_full_over_touched_bytes" -> dec(mgByteRatio1),
        "touched_not_cheaper" -> plain(mg1.touched >= mg1.full),
        "bytes_not_partition_fraction" -> plain(mgByteRatio1 > 0 && mgByteRatio1 < 4.0)),
      "u20_merge_skew" -> obj("hot_fraction" -> plain(0.5),
        "touched_partitions" -> plain(2), "n_partitions" -> plain(32),
        "reduce_window_sf01" -> dec(sk01.window), "reduce_window_sf1" -> dec(sk1.window),
        "reduce_salted_sf01" -> dec(sk01.salted), "reduce_salted_sf1" -> dec(sk1.salted),
        "merge_sf01" -> dec(sk01.merge), "merge_sf1" -> dec(sk1.merge),
        "touched_write_bytes_sf1" -> plain(sk1.touchedBytes),
        "full_write_bytes_sf1" -> plain(sk1.fullBytes),
        "sf1_full_over_touched_bytes" -> dec(skByteRatio1),
        "balance_max_over_mean_unsalted_sf1" -> dec(sk1.balUnsalted),
        "balance_max_over_mean_salted_sf1" -> dec(sk1.balSalted),
        "reduce_or_merge_wrong" -> plain(!(sk01.correct && sk1.correct)),
        "bytes_not_partition_fraction" -> plain(skByteRatio1 > 0 && skByteRatio1 < 4.0)),
      "rotate_scale" -> obj(
        "rebuild_sf01" -> dec(ro01.rebuild), "rebuild_sf1" -> dec(ro1.rebuild),
        "rebuild_ratio" -> dec(roRatio),
        "serve_before_sf01" -> dec(ro01.before),
        "serve_during_max_sf01" -> dec(ro01.duringMax),
        "serve_after_sf01" -> dec(ro01.after), "serve_during_n_sf01" -> plain(ro01.duringN),
        "serve_before_sf1" -> dec(ro1.before),
        "serve_during_max_sf1" -> dec(ro1.duringMax),
        "serve_after_sf1" -> dec(ro1.after), "serve_during_n_sf1" -> plain(ro1.duringN),
        // a true blackout = serves queue behind the whole rebuild: the worst
        // during-rebuild serve would approach the rebuild's own wall time
        "blackout" -> plain(ro1.duringMax > 0 && ro1.rebuild > 2.0 &&
          ro1.duringMax > ro1.rebuild * 0.8),
        "rebuild_superlinear" -> plain(roRatio > 20.0))))
  }
}
