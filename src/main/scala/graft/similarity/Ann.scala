package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, Literal,
  SortArray}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._
import graft.functions.VectorMath

/** Similarity search over an embedding column (`Array[Float]`).
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus, rank per query by the bounded `top_k` heap
  *    ([[rankTopK]]; every query × corpus pair is scored, so it is fine
  *    while that product is affordable — the LSH/IVF variants below are the
  *    scale path past that).
  *  - [[lshTopK]]: sign-random-projection LSH — bucket corpus and queries by
  *    hyperplane sign bits, rerank exactly *within* matching buckets. The
  *    scale path: the corpus-side shuffle is on small bucket keys, the
  *    cross-product is bounded per bucket, and recall/probing is tunable via
  *    `planes` (fewer bits → bigger buckets → higher recall).
  *  - [[ivfTopK]]: IVF-style coarse quantization — assign every vector to its
  *    nearest centroid, search only matching cells (with `nprobe` cells per
  *    query).
  *
  * All distance math is the bit-reproducible sequential fold from
  * [[graft.functions.VectorFunctions]].
  */
object Ann {

  /** Per-pair cosine over pre-computed per-row norms — the hot-path form
    * of [[graft.functions.VectorFunctions.cosine]]: `dot(a,b) /
    * (norm(a) * norm(b))` with the two `sqrt(dot(v,v))` folds hoisted out
    * of the pair loop to one evaluation per ROW (they depend only on the
    * row's own vector). Bit-identical to the inline form — the identical
    * IEEE expression tree, just evaluated earlier — but a candidate join
    * producing P pairs from n rows walks each vector once per PAIR for the
    * cross dot instead of three times (2 of 3 array folds eliminated). */
  private def cosinePre(dotAB: Column, nrmA: Column, nrmB: Column): Column =
    dotAB / (nrmA * nrmB)

  /** Per-query top-k over scored (q_id, c_id, sim) candidates by
    * (sim desc, c_id asc), emitted with rank 1..k — the bounded-heap form
    * of the `row_number` rank window (identical rows, identical
    * tie-break, [[graft.functions.TopKAgg]] with the knnJoin key shape):
    * candidates are consumed by a map-side partial heap in the SAME stage
    * that scores them, so the candidate set never crosses a shuffle —
    * only n_q·k ranked rows do (the window shuffled EVERY candidate by
    * q_id and sorted). Requires a numeric c_id (the heap key negates it
    * for the ascending tie-break) — every serve surface here keys on
    * integral vec ids. */
  private[similarity] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.top_k
    // the heap's ascending tie-break negates the id, so the id must be a
    // numeric type — fail with an actionable message instead of a Catalyst
    // analysis error on e.g. string ids (ADVICE r15). Long.MinValue would
    // negate to itself (two's complement) and silently invert its
    // tie-break rank; no serve surface mints that id.
    require(scored.schema("c_id").dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"rankTopK requires a numeric c_id for its ascending tie-break " +
        s"(got ${scored.schema("c_id").dataType.simpleString}); map " +
        "non-numeric ids to a dense numeric key before serving")
    scored
      .groupBy("q_id")
      .agg(top_k(struct(col("sim").as("sim"), (-col("c_id")).as("ncid"),
        col("c_id").as("c_id")), k).as("topk"))
      .select(col("q_id"), posexplode(col("topk")))
      .select(col("q_id"), col("col.c_id").as("c_id"), col("col.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact-cosine candidate pairs of the broadcast-queries surfaces
    * ([[bruteForceTopK]], [[rangeSearch]], [[hardNegatives]], [[lshTopK]],
    * [[ivfTopK]]) — ONE builder, so their scoring cannot fork: the query
    * side (q_id, q_vec, `qExtra`, q_nrm) is broadcast against the corpus
    * side (c_id, c_vec, `cExtra`, c_nrm) under `on`, and each pair is
    * scored by [[cosinePre]] over the per-row norms — `(q_id, c_id, sim)`.
    * The extra columns (a bucket, a label, a probed cell) are what `on`
    * matches; the always-true default is the plain broadcast product. */
  private def cosinePairs(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      qExtra: Seq[Column] = Nil, cExtra: Seq[Column] = Nil,
      on: Column = lit(true)): DataFrame = {
    val q = queries.select(Seq(col(qId).as("q_id"), col(qVec).as("q_vec")) ++
      qExtra :+ norm(col(qVec)).as("q_nrm"): _*)
    val c = corpus.select(Seq(col(cId).as("c_id"), col(cVec).as("c_vec")) ++
      cExtra :+ norm(col(cVec)).as("c_nrm"): _*)
    c.join(broadcast(q), on).select(col("q_id"), col("c_id"),
      cosinePre(dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm"))
        .as("sim"))
  }

  /** Exact top-k by cosine: queries × corpus → rank ≤ k.
    * `queries` is expected to be small (broadcast); ties broken by corpus id
    * for determinism. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "vec_id", qVec: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    rankTopK(cosinePairs(queries, corpus, qId, qVec, cId, cVec), k)

  /** Exact cosine RADIUS search: every corpus item with `sim >= minSim`
    * per query — the retrieval primitive top-k can't express ("all near
    * neighbors", result count unbounded and data-dependent). Same
    * broadcast-queries shape as [[bruteForceTopK]], but radius search
    * needs no window and no per-query sort at all — the threshold is the
    * whole operator, so the plan is scan → broadcast product → filter,
    * fully codegen.
    *
    * `excludeSelf` drops id-equal pairs — correct ONLY when queries and
    * corpus share an id space (the self-sweep case). Pass false when the
    * two sides are different tables whose ids coincidentally overlap
    * (e.g. both numbered from 0), or real matches at equal ids vanish;
    * note [[bruteForceTopK]] never excludes, so the default here is the
    * self-sweep convention, not an invariant of the file. */
  def rangeSearch(queries: DataFrame, corpus: DataFrame, minSim: Double,
      qId: String = "vec_id", qVec: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding",
      excludeSelf: Boolean = true): DataFrame =
    cosinePairs(queries, corpus, qId, qVec, cId, cVec,
        on = if (excludeSelf) col("q_id") =!= col("c_id") else lit(true))
      .filter(col("sim") >= minSim)

  /** Hard-negative mining for contrastive training: per query, the k most
    * cosine-similar corpus items with a DIFFERENT label (the classic
    * in-batch-negatives upgrade — near neighbors that the label says are
    * wrong). Same broadcast-queries shape as [[bruteForceTopK]] with the
    * label-inequality predicate fused into the join, so excluded
    * same-label pairs never materialize a row. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "vec_id", qVec: String = "embedding",
      qLabel: String = "label", cId: String = "vec_id",
      cVec: String = "embedding", cLabel: String = "label"): DataFrame =
    rankTopK(cosinePairs(queries, corpus, qId, qVec, cId, cVec,
      Seq(col(qLabel).as("q_label")), Seq(col(cLabel).as("c_label")),
      col("c_label") =!= col("q_label")), k)

  /** Sign bits under `planes` deterministic pseudo-random hyperplanes →
    * bucket id (long); coef(p, d) = ((p*31 + d)*2654435761 mod 2^31) / 2^31
    * - 0.5, reproducible in SQL. Computed by the native codegen'd
    * [[graft.functions.SignLshBucket]] — one pass over the vector instead
    * of `planes` interpreted lambda folds (bit-identical results). */
  def lshBucket(vec: Column, planes: Int): Column =
    graft.functions.VectorExprFunctions.sign_lsh_bucket(vec, planes)

  /** LSH-bucketed top-k: exact rerank within matching sign buckets.
    * Recall < 1 by construction; `planes` trades recall vs bucket size. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int = 8,
      qId: String = "vec_id", qVec: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    rankTopK(cosinePairs(queries, corpus, qId, qVec, cId, cVec,
      Seq(lshBucket(col(qVec), planes).as("q_bucket")),
      Seq(lshBucket(col(cVec), planes).as("c_bucket")),
      col("c_bucket") === col("q_bucket")), k)

  /** Corpus×corpus batched kNN join: EVERY vector's top-k cosine neighbors
    * against the whole corpus (self excluded) — the op that powers
    * SemDeDup-style semantic dedup and corpus clustering, where the "query
    * side" IS the corpus and none of the broadcast-the-queries shapes above
    * apply. Three rules keep it off the two scale cliffs:
    *
    *  1. **No corpus-sized broadcast**: both sides of the candidate join
    *     are corpus-sized, so they meet in a co-keyed equi-join on the IVF
    *     cell id (shuffle keyed by cell) — never `broadcast()`, never a
    *     cartesian.
    *  2. **No corpus-sized window — and no assignment shuffle at all**:
    *     cell assignment and probing are per-ROW argmin / top-nprobe
    *     expressions over the constant cells array ([[cellsCol]],
    *     [[graft.functions.NearestCell]]/[[graft.functions.ProbeCellsExpr]]
    *     — narrow projections; the corpus is never re-keyed just to
    *     assign it), and the final per-vector ranking is the bounded-heap
    *     [[graft.functions.TopKAgg]] with k = k — candidate rows are
    *     consumed by a map-side partial heap in the SAME stage as the
    *     join, so the |candidates| product NEVER crosses a shuffle (only
    *     n·k ranked rows do).
    *  3. **Candidates are cell-bounded**: a corpus vector lives in exactly
    *     one cell, so a (q, c) pair is generated at most once (no
    *     distinct) and |candidates| = Σ_q Σ_{probed cells} |cell| ≈
    *     n²·nprobe/C — pick C ∝ √n (the classic IVF sizing) and the
    *     candidate volume grows as n^1.5, never n².
    *
    * `nprobe = |centroids|` probes every cell — exhaustive, so the result
    * provably equals the exact per-vector top-k (the oracle config, the
    * [[ivfTopK]]/ann4 pattern); smaller `nprobe` is the approximate scale
    * path whose recall DedupAnnSpec pins. Scores are exact cosine on every
    * candidate (the "rerank" is built in — no quantization here), ties
    * broken by ascending corpus id. Output: (q_id, c_id, sim, rank). */
  def knnJoin(corpus: DataFrame, centroids: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centId: String = "cent_id", centVec: String = "cent_vec"): DataFrame = {
    require(k >= 1, s"knnJoin: k must be >= 1, got $k")
    require(nprobe >= 1, s"knnJoin: nprobe must be >= 1, got $nprobe")
    val (assigned, probes) =
      cellJoinSides(corpus, centroids, nprobe, idCol, vecCol, centId, centVec)
    // candidates: co-keyed equi-join on the cell; scored exactly; ranked
    // by a second bounded heap ([[rankTopK]]) — the join product feeds the
    // partial aggregate inside one stage, so it never shuffles. Norms are
    // hoisted to one per ROW before the join (see cosinePre): the
    // ~n²·nprobe/C candidate pairs each cost ONE vector fold, not three.
    rankTopK(assigned.withColumn("c_nrm", norm(col("c_vec")))
      .join(probes.withColumn("q_nrm", norm(col("q_vec"))), Seq("cent"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosinePre(dot(col("q_vec"), col("c_vec")),
          col("q_nrm"), col("c_nrm")).as("sim")), k)
  }

  /** The candidate-pair count of [[knnJoin]]'s cell join — the quantity
    * whose growth governs the join's scaling (every candidate costs one
    * cosine), exposed for the sf0.1↔sf1 scale gate exactly like
    * [[graft.dedup.OverlapJoin.candidates]]. */
  def knnJoinCandidates(corpus: DataFrame, centroids: DataFrame,
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      centId: String = "cent_id", centVec: String = "cent_vec"): DataFrame = {
    // the SAME sides the real join builds (vector payloads included, so
    // the counter models the actual join's shuffle, and the assignment /
    // probe tie-breaks can never drift from it)
    val (assigned, probes) =
      cellJoinSides(corpus, centroids, nprobe, idCol, vecCol, centId, centVec)
    assigned.join(probes, Seq("cent"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
  }

  /** The (assigned corpus side, probe side) pair of the corpus×corpus
    * cell join — ONE builder shared by [[knnJoin]] and
    * [[knnJoinCandidates]] (the OverlapJoin.buildCandidates convention),
    * so the argmin/probe tie-breaks cannot fork. Corpus side: nearest
    * cell per vector via min_by over the (d2, cent) total order, the
    * vector riding in the payload struct so no second join re-attaches
    * it. Probe side: the nprobe nearest cells via the bounded heap over
    * NEGATED (d2, cent) — "k largest" becomes "nprobe nearest, ties to
    * the smaller cell id". */
  private def cellJoinSides(corpus: DataFrame, centroids: DataFrame,
      nprobe: Int, idCol: String, vecCol: String,
      centId: String, centVec: String): (DataFrame, DataFrame) = {
    import graft.functions.VectorExprFunctions.{nearest_cell, probe_cells}
    // per-row argmin / top-nprobe over the constant cells array (see
    // [[cellsCol]]) — same (d2, cent) total order the join+aggregate
    // formulation minimized, with NO corpus shuffle on either side
    val cs = cellsCol(centroids, centId, centVec)
    val assigned = corpus
      .select(col(idCol).as("c_id"),
        nearest_cell(col(vecCol), cs).getField("cent").as("cent"),
        col(vecCol).as("c_vec"))
    val probes = corpus
      .select(col(idCol).as("q_id"),
        explode(probe_cells(col(vecCol), cs, nprobe)).as("p"),
        col(vecCol).as("q_vec"))
      .select(col("q_id"), col("p.cent").as("cent"), col("q_vec"))
    (assigned, probes)
  }

  /** The k cells as (cent, cv) structs, one per row of `centroids`. */
  private def cellStructs(centroids: DataFrame, centId: String,
      centVec: String): DataFrame =
    centroids.select(struct(col(centId).as("cent"), col(centVec).as("cv"))
      .as("c"))

  /** The k cells, built ON THE DRIVER: the centroid frame is collected
    * (model-sized by contract, k·dim doubles; a driver-local frame such as
    * KMeans' output collects with no job) and `sort_array`ed
    * cent-ascending, so the per-row argmin/probe scan order IS the
    * (d2, cent) tie-break order. Catalyst form plus its type — the input
    * [[graft.functions.VectorMath.probeCells]] scans. */
  private def cells(cs: DataFrame): (ArrayData, ArrayType) = {
    val t = ArrayType(cs.schema.head.dataType, containsNull = false)
    val unsorted = CatalystTypeConverters.createToCatalystConverter(t)(
      cs.collect().map(_.get(0)).toSeq)
    (SortArray(Literal(unsorted, t), Literal(true)).eval()
      .asInstanceOf[ArrayData], t)
  }

  /** The k cells as ONE constant column, the same cent-ascending array on
    * every row, scanned by every per-row argmin/probe caller (assignment,
    * KMeans, IvfPq, ivfTopK, knnJoin). A driver-local centroid frame
    * (KMeans' output, a rotating index's cached generation) becomes
    * [[cells]] shipped as a Spark broadcast variable
    * ([[graft.functions.BroadcastValue]]): no aggregate, join or broadcast
    * job builds or ships it. Any other frame stays lazy — the same
    * `sort_array(collect_list(..))` as a scalar subquery, run only if the
    * plan needs it (an eager collect would cost a job even where the
    * consumer prunes the assignment away, as a `count()` over ann10 does). */
  private[similarity] def cellsCol(centroids: DataFrame,
      centId: String, centVec: String): Column = {
    val cs = cellStructs(centroids, centId, centVec)
    if (cs.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) {
      val (data, t) = cells(cs)
      graft.functions.BroadcastValue.column(centroids.sparkSession, data, t)
    } else cs.agg(sort_array(collect_list(col("c")))).scalar()
  }

  /** Nearest-cell assignment — THE index-build step shared by the
    * persisted-IVF path (q:ann13) and its spec: a per-row argmin over the
    * (d2, cell) total order (deterministic ties) against the constant
    * cells array — a narrow projection; no join, no shuffle, no window. */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centId: String = "cent_id", centVec: String = "cent_vec",
      cellCol: String = "cell"): DataFrame =
    assignCellsWithDist(corpus, centroids, idCol, vecCol, centId, centVec,
      cellCol).drop("d2")

  /** [[assignCells]] keeping the squared distance TO the winning cell as a
    * `d2` column — the per-vector quantization error [[IvfCore]] persists
    * so quantizer-drift detection (batch mean d2 vs train-time mean d2)
    * never re-scores the corpus. Same argmin, same tie-break, one extra
    * double per row.
    *
    * Degenerate inputs: a null vector, or one whose dimension matches no
    * centroid, fails the job naming its id (checked inside the same
    * projection — no extra job). Only an EMPTY centroid set yields zero
    * rows, the contract of the old broadcast inner join. */
  def assignCellsWithDist(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centId: String = "cent_id", centVec: String = "cent_vec",
      cellCol: String = "cell"): DataFrame = {
    import graft.functions.VectorExprFunctions.nearest_cell
    // per-row argmin over the constant cells array — the same (d2, cent)
    // winner the broadcast-join + min_by aggregate produced, with no
    // corpus shuffle (see [[cellsCol]])
    val cs = cellsCol(centroids, centId, centVec)
    corpus.select(col(idCol), col(vecCol))
      // an EMPTY centroid frame is an empty array: drop every row (the
      // empty-centroids contract)
      .filter(size(cs) > 0)
      .select(col(idCol), col(vecCol), nearest_cell(col(vecCol), cs).as("__nc"))
      .select(col(idCol), col(vecCol),
        when(col("__nc").isNotNull, col("__nc.cent")).otherwise(raise_error(
          concat(lit("IVF assignment: the vector of id "),
            col(idCol).cast("string"),
            lit(" is null or does not match the centroid dimension"))))
          .as(cellCol),
        col("__nc.d2").as("d2"))
  }

  /** Serving path over a PERSISTED IVF index: `stored` is the corpus
    * written `partitionBy(cellCol)` (the index IS the physical layout —
    * one directory per coarse cell), so the probe filter below reaches the
    * reader as a partition-directory prune: a query batch probing p of C
    * cells READS p/C of the corpus, no row-level filtering needed. This is
    * the 100 TB serving story — at C ∝ √n with bounded nprobe, a query
    * touches O(√n) vectors of storage, and st27-style streaming serving
    * gets the same layout for free.
    *
    * The probes are derived on the driver ([[collectProbes]]) — bounded
    * control state (≤ nprobe × |queries| rows, never data-sized).
    * Per-query correctness rides the per-cell match against the broadcast
    * probe rows; the `isin` filter is the scan-level superset prune.
    * `nprobe = |cells|` probes everything (provably exact — the oracle
    * config, the ann4 pattern); bounded nprobe is the approximate path
    * whose recall and pruned-scan shape IvfPrunedSpec pins. */
  def ivfTopKPruned(stored: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int = 2,
      cellCol: String = "cell",
      qId: String = "vec_id", qVec: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding",
      centId: String = "cent_id", centVec: String = "cent_vec"): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"k/nprobe must be >= 1: $k/$nprobe")
    // ONE probe derivation: the driver-side rows feed both the probe-cell
    // list AND the broadcast probe side — the query batch is
    // broadcast-sized by contract, so collecting it costs what the
    // broadcast costs anyway
    val (probeRows, probeSchema) =
      collectProbes(queries, centroids, nprobe, qId, qVec, centId, centVec)
    rankTopK(scoreOverProbes(stored, probeRows, probeSchema,
      cellCol, cId, cVec), k)
  }

  /** The probe side of a pruned IVF serve, derived ON THE DRIVER: per
    * query, its `nprobe` nearest cells — (q_id, q_vec, cent, cv) rows plus
    * their schema. The query batch is collected (broadcast-sized by
    * contract: one job, the only one before scoring), and each vector is
    * probed by [[graft.functions.VectorMath.probeCells]] — the
    * `probe_cells` expression's own kernel — over [[cells]], so no
    * aggregate, broadcast or explode job runs. Bounded driver state:
    * |queries| vectors in, ≤ nprobe × |queries| rows out. ONE derivation
    * shared by [[ivfTopKPruned]] and [[IvfCore.serve]], so the cells the
    * store-side partition prune reads and the cells the candidate join
    * matches can never fork.
    *
    * A null query vector, or one whose dimension matches no centroid,
    * fails naming the query id (it would otherwise probe no cell and
    * silently return no rows). Only an EMPTY centroid set probes nothing. */
  private[graft] def collectProbes(queries: DataFrame,
      centroids: DataFrame, nprobe: Int, qId: String, qVec: String,
      centId: String, centVec: String): (Array[Row], StructType) = {
    val (cs, csType) = cells(cellStructs(centroids, centId, centVec))
    val (centLong, cvType, cvF) = VectorMath.centsMeta(csType)
    val q = queries.select(col(qId).as("q_id"), col(qVec).as("q_vec"))
    val vecType = q.schema("q_vec").dataType
    val vF = VectorMath.isFloatArray(vecType)
    val toVec = CatalystTypeConverters.createToCatalystConverter(vecType)
    val toCv = CatalystTypeConverters.createToScalaConverter(cvType)
    val schema = StructType(q.schema.fields ++ Seq(
      StructField("cent", if (centLong) LongType else IntegerType,
        nullable = false),
      StructField("cv", cvType, nullable = false)))
    val rows = q.collect().flatMap { r =>
      val probes = Option(r.get(1)).map(v => VectorMath.probeCells(
        toVec(v).asInstanceOf[ArrayData], cs, nprobe, vF, cvF, centLong)
        .asInstanceOf[ArrayData])
      require(cs.numElements() == 0 || probes.exists(_.numElements() > 0),
        s"IVF serve: the vector of query id ${r.get(0)} is null or does " +
          "not match the centroid dimension")
      probes.toSeq.flatMap(p => (0 until p.numElements()).map { i =>
        val c = p.getStruct(i, 2)
        new GenericRowWithSchema(Array(r.get(0), r.get(1),
          if (centLong) c.getLong(0) else c.getInt(0), toCv(c.getArray(1))),
          schema): Row
      })
    }
    (rows, schema)
  }

  /** The scored-candidate half of a probed serve, shared by the ranked
    * ([[ivfTopKPruned]]) and threshold ([[IvfCore.neighborsWithin]])
    * consumers: prune the stored corpus to the probed cells, match each
    * stored row to the probes of its cell, exact cosine per (query,
    * candidate) — `(q_id, c_id, sim)`. The probe side is already on the
    * driver, so it ships as a broadcast variable
    * ([[graft.functions.BroadcastLookup]]) with its norms computed in a
    * projection over the local relation: the serve runs no broadcast
    * job, only the scoring stage. */
  private[similarity] def scoreOverProbes(stored: DataFrame,
      probeRows: Array[Row], probeSchema: StructType,
      cellCol: String, cId: String, cVec: String): DataFrame = {
    val spark = stored.sparkSession
    // probe literals take the PARTITION column's own type (string or a
    // narrower integer than the centroid ids) — a mismatch would wrap the
    // partition column in a CAST, and a cast-wrapped IN can land as a
    // post-scan row filter instead of PartitionFilters: silently correct,
    // silently unpruned
    val cellType = stored.schema(cellCol).dataType
    val probes = probeCells(probeRows, cellType)
    val probeSide = spark.createDataFrame(
        java.util.Arrays.asList(probeRows: _*), probeSchema)
      .select(col("cent").cast(cellType).as("__cell"), col("q_id"),
        col("q_vec"), norm(col("q_vec")).as("__q_nrm"))
    stored
      .filter(col(cellCol).isInCollection(probes)) // partition-dir prune
      .select(col(cId), col(cVec), norm(col(cVec)).as("__c_nrm"),
        explode(graft.functions.BroadcastLookup.join(probeSide, "__cell",
          col(cellCol))).as("__p"))
      .select(col("__p.q_id").as("q_id"), col(cId).as("c_id"),
        cosinePre(dot(col("__p.q_vec"), col(cVec)),
          col("__p.__q_nrm"), col("__c_nrm")).as("sim"))
  }

  /** Distinct probed cells, coerced to the stored cell column's exact
    * type (see the CAST note in [[scoreOverProbes]]). */
  private[similarity] def probeCells(probeRows: Array[Row],
      cellType: DataType): Seq[Any] = {
    val probesRaw = probeRows.map(_.getAs[Any]("cent")).distinct
    (cellType match {
      case StringType => probesRaw.map(String.valueOf)
      case IntegerType => probesRaw.map(_.asInstanceOf[Number].intValue)
      case LongType => probesRaw.map(_.asInstanceOf[Number].longValue)
      case ShortType => probesRaw.map(_.asInstanceOf[Number].shortValue)
      case _ => probesRaw
    }).toSeq
  }

  /** IVF-style: `centroids` (small, broadcast) define cells; every corpus
    * vector is assigned to its nearest centroid once and every query to its
    * `nprobe` nearest cells — each a per-row `probe_cells` explode over the
    * constant cells array, no join — and the broadcast queries match the
    * corpus on the cell. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 2,
      qId: String = "vec_id", qVec: String = "embedding",
      cId: String = "vec_id", cVec: String = "embedding",
      centId: String = "cent_id", centVec: String = "cent_vec"): DataFrame = {
    import graft.functions.VectorExprFunctions.probe_cells
    // per-row top-keep cells over the constant cells array — same
    // (d2, cent) rank order as the window formulation, no shuffle
    val cs = cellsCol(centroids, centId, centVec)
    def probed(vec: String, keep: Int): Column =
      explode(probe_cells(col(vec), cs, keep).getField("cent"))
    rankTopK(cosinePairs(queries, corpus, qId, qVec, cId, cVec,
      Seq(probed(qVec, nprobe).as("q_cent")), Seq(probed(cVec, 1).as("c_cent")),
      col("c_cent") === col("q_cent")), k)
  }
}
