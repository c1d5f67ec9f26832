package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph service (SURVEY §2 J1/J2, D2, X3) as two DataFrames — vertices and
  * edges — à la GraphFrames, replacing the reference's Titan write path
  * (`aleph2_graph_service_titan/.../utils/TitanGraphBuildingUtils.java`):
  *
  *  - decompose (X3, `SimpleGraphDecompService.java`): records → candidate
  *    vertices/edges, declaratively (select/union — a narrow projection);
  *  - vertex dedup+merge (D2, `buildGraph_handleMerge`:206-314): group
  *    candidates by business key, winner-pick or custom merge;
  *  - key lookup against the stored graph (J1, `getGroupedVertices`:328-359
  *    — there a disjunctive Contain.IN mega-query, i.e. a hand-rolled hash
  *    join): here a real equi-join, broadcast when the batch is small;
  *  - edge endpoint resolution + duplicate-edge collapse (J2,
  *    `finalEdgeGrouping`:271-307): joins on (src, dst, label).
  *
  * Vertex identity = a struct of user key fields; properties ride along as
  * ordinary columns. All merge work is shuffle-on-key; no driver loops.
  */
object GraphBuilder {

  /** X3 declarative decompose: emit one vertex candidate per record from
    * `keyCols` (+ type tag + property cols). */
  def vertexCandidates(records: DataFrame, vtype: String,
      keyCols: Map[String, String], propCols: Map[String, String] = Map.empty): DataFrame = {
    val cols =
      lit(vtype).as("vtype") +:
        (keyCols.toSeq.sortBy(_._1).map { case (as, from) => col(from).as(as) } ++
          propCols.toSeq.sortBy(_._1).map { case (as, from) => col(from).as(as) })
    records.select(cols: _*)
  }

  /** X3 declarative decompose for edges: (label, src key, dst key) plus
    * optional property columns riding along (for [[mergeEdges]]). */
  def edgeCandidates(records: DataFrame, label: String,
      srcCol: String, dstCol: String,
      propCols: Map[String, String] = Map.empty): DataFrame =
    records.select(lit(label).as("label") +:
      col(srcCol).as("src") +: col(dstCol).as("dst") +:
      propCols.toSeq.sortBy(_._1).map { case (as, from) => col(from).as(as) }: _*)

  /** D2 vertex dedup: winner per key by deterministic order (the analog of
    * `SimpleGraphMergeService` keep-first), orderCol ascending. */
  def dedupVertices(candidates: DataFrame, keyCols: Seq[String],
      orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    candidates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** D2/X3 full merge contract: dedup candidate vertices per business key
    * under the bucket's [[graft.model.DedupPolicy]]. KeepFirst/KeepLast are
    * the declarative window winner-pick; Custom hands each key's candidate
    * list to the user merge module — the reference's user-supplied merge
    * handler receiving (key, candidates) (`TitanGraphBuildingUtils.java:206-314`,
    * `SimpleGraphMergeService.java`).
    *
    * Scale: one shuffle on the key either way. The custom path materializes
    * each key's candidate group (the reference's whole-list module contract);
    * groups are duplicate-sets per business key — bounded by per-key
    * duplication, not corpus size. */
  def mergeVertices(candidates: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], policy: graft.model.DedupPolicy,
      orderCol: String): org.apache.spark.sql.DataFrame = policy match {
    case graft.model.DedupPolicy.KeepFirst =>
      dedupVertices(candidates, keyCols, orderCol)
    case graft.model.DedupPolicy.KeepLast =>
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol).desc)
      candidates.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    case graft.model.DedupPolicy.Custom(merge) =>
      import org.apache.spark.sql.{Encoder, Encoders, Row}
      implicit val enc: Encoder[Row] = Encoders.row(candidates.schema)
      val strEnc: Encoder[String] = Encoders.STRING
      candidates
        .groupByKey(r => keyCols.map(f => String.valueOf(r.getAs[Any](f)))
          .mkString("\u0001"))(strEnc)
        .mapGroups((k, it) => merge(boundedGroup(it, k, "vertex")))(enc)
  }

  /** Candidate groups for custom merges are bounded by per-key duplication,
    * not corpus size — but a pathological key must fail loudly naming
    * itself, not OOM an executor (same stance as the pipeline's
    * maxGroupBuffer). */
  private val MaxMergeGroup = 4000000
  private def boundedGroup(it: Iterator[org.apache.spark.sql.Row], key: String,
      kind: String): Seq[org.apache.spark.sql.Row] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    while (it.hasNext) {
      if (buf.size >= MaxMergeGroup)
        throw new IllegalStateException(
          s"$kind merge: key [$key] exceeds $MaxMergeGroup candidates; " +
            "pre-aggregate the hot key or use a declarative policy")
      buf += it.next()
    }
    buf.toSeq
  }

  /** J2: collapse duplicate edges on (label, src, dst), keeping
    * a multiplicity count. For property-bag merging see [[mergeEdges]]. */
  def dedupEdges(candidates: DataFrame): DataFrame =
    candidates.groupBy("label", "src", "dst")
      .agg(count(lit(1)).as("multiplicity"))

  /** J2/X3 edge custom merge: the user module receives each
    * (label, src, dst) group's candidate edges (property bags riding as
    * ordinary columns) and returns the one merged edge — the edge analog of
    * [[mergeVertices]]'s Custom policy; the reference routes duplicate edges
    * through the same user merge handler as vertices
    * (`TitanGraphBuildingUtils.java:271-307` finalEdgeGrouping →
    * `buildGraph_handleMerge`). One shuffle on the edge key; each group is
    * bounded by per-edge duplication, not graph size. */
  def mergeEdges(candidates: DataFrame,
      merge: Seq[org.apache.spark.sql.Row] => org.apache.spark.sql.Row): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    implicit val enc: Encoder[Row] = Encoders.row(candidates.schema)
    val strEnc: Encoder[String] = Encoders.STRING
    candidates
      .groupByKey(r => Seq("label", "src", "dst")
        .map(f => String.valueOf(r.getAs[Any](f))).mkString("\u0001"))(strEnc)
      .mapGroups((k, it) => merge(boundedGroup(it, k, "edge")))(enc)
  }

  /** J2 endpoint resolution: remap candidate edge endpoints onto the WINNER
    * vertex of their business key before edge dedup — an edge referencing a
    * merged-away vertex candidate must re-point at the survivor (the
    * reference resolves edges against the winner vertices' in/out maps,
    * `TitanGraphBuildingUtils.java:271-307`). `alias` is
    * (cand_id, winner_id), one row per candidate vertex; endpoints not in
    * the alias pass through. Property columns ride through untouched so the
    * output composes with [[dedupEdges]]/[[mergeEdges]] — the reference
    * resolves endpoints FIRST and only then routes the now-colliding edges
    * with their property bags through the user merge
    * (`TitanGraphBuildingUtils.java:271-307`). Two co-keyed equi-joins on
    * the endpoint id — at scale the alias table is vertex-count sized, so
    * these are ordinary shuffle joins (AQE may broadcast small ones). */
  def resolveEdges(edges: DataFrame, alias: DataFrame): DataFrame = {
    val bySrc = alias.select(col("cand_id").as("src"), col("winner_id").as("__src_w"))
    val byDst = alias.select(col("cand_id").as("dst"), col("winner_id").as("__dst_w"))
    val props = edges.columns.toSeq
      .filterNot(Set("label", "src", "dst")).map(col)
    edges.join(bySrc, Seq("src"), "left").join(byDst, Seq("dst"), "left")
      .select(col("label") +:
        coalesce(col("__src_w"), col("src")).as("src") +:
        coalesce(col("__dst_w"), col("dst")).as("dst") +: props: _*)
  }

  /** The (small) key intersection of a batch with the stored graph: ONE scan
    * of `existing`, probed with the broadcast *batch* keys — never the other
    * way round. The stored vertex set is billions of keys at scale; the batch
    * is bounded by the ingest chunk, so the batch is the only legal build
    * side (the reference likewise probes the store with the batch's key set,
    * `TitanGraphBuildingUtils.java:328-359`). */
  private def existingKeyHits(existing: DataFrame, batch: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val batchKeys = batch.select(keyCols.map(col): _*).distinct()
    existing.select(keyCols.map(col): _*)
      .join(broadcast(batchKeys), keyCols, "left_semi")
      .distinct()
  }

  /** J1: split an incoming (deduped) vertex batch against the stored graph:
    * returns (new vertices, already-present vertices). Cost: one broadcast
    * semi-join scan over the store; the split itself is small × small. */
  def matchAgainstExisting(existing: DataFrame, batch: DataFrame,
      keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val hits = existingKeyHits(existing, batch, keyCols)
    (batch.join(broadcast(hits), keyCols, "left_anti"),
      batch.join(broadcast(hits), keyCols, "left_semi"))
  }

  /** Graph upsert job: merge a batch into the stored vertices — existing
    * rows win (create-if-absent, reference default merge), new keys append.
    * Same broadcast discipline as [[matchAgainstExisting]]: the store is
    * never a hash-join build side. */
  def upsertVertices(existing: DataFrame, batch: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val hits = existingKeyHits(existing, batch, keyCols)
    existing.unionByName(
      batch.join(broadcast(hits), keyCols, "left_anti"),
      allowMissingColumns = true)
  }
}
