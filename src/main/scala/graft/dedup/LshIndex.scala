package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.PartitionedStore

/** A PERSISTED, incrementally-maintained MinHash-LSH dedup index — the op
  * a continuously-fed training-data pipeline runs on every delivery:
  * "which of these NEW documents duplicate anything in the historical
  * corpus", answered WITHOUT rescanning (or even re-shingling) the corpus.
  * [[TextDedup.minhashCandidatesAgainst]] is the one-shot form — it
  * re-derives the corpus's band buckets per batch, O(corpus) compute every
  * delivery; this persists the exploded (band, bh, doc) bucket rows once
  * and maintains them, completing the maintained-index story the ANN side
  * already has ([[graft.similarity.IvfCore]]): dedup against 100 TB of
  * history costs O(batch) per delivery, not O(history).
  *
  * Layout: a [[PartitionedStore]] keyed by (band, bh) — the bucket IS the
  * unit of locality. [[candidates]] derives the batch's buckets and reads
  * ONLY the store partitions those buckets hash to (directory-level prune
  * through the manifest, same shape as the IVF probe prune): a batch
  * touching b of the key space reads ~b/B of the index. [[append]] commits
  * a batch's bucket rows as one added data dir per touched partition
  * (O(batch) write I/O, crash-safe behind the store's manifest swap,
  * version-CAS + cross-process-arbiter write-guarded — all inherited,
  * spec'd contracts), with the replay guard fused into the write lineage.
  * [[remove]] re-derives victims' buckets from their text (same text ⇒
  * same buckets ⇒ same partitions as at index time — the frozen-quantizer
  * localization argument, here with no quantizer to drift), so erasure
  * rewrites only the touched partitions. A periodic [[compact]] collapses
  * append fragmentation.
  *
  * The reference has no similarity machinery at all; its closest lifecycle
  * analog is the time-sliced search-index append + rollover
  * (`aleph2_search_index_service_elasticsearch/src/main/java/com/ikanow/
  * aleph2/search_service/elasticsearch/services/
  * ElasticsearchIndexService.java:335-391`), re-expressed as a lakehouse
  * layout keyed by LSH bucket instead of an ES alias dance.
  *
  * Id contract: appended doc ids are expected new (the replay guard fails
  * a same-id append loudly, bounded to the touched partitions); a reused
  * id carrying DIFFERENT text is the caller's uniqueness contract, as
  * everywhere in this engine. Writer concurrency is the store's contract
  * (in-process exactly-one-wins, one writer process recommended).
  */
final class LshIndex(val spark: SparkSession, val root: String,
    val nPartitions: Int, val idCol: String = "doc_id",
    val textCol: String = "text", val shingleLen: Int = 3,
    val numPerm: Int = 16, val bands: Int = 4, val useMd5: Boolean = true) {

  val store = new PartitionedStore(spark, root, Seq("band", "bh"), nPartitions)

  /** The batch's exploded (doc, band, bh) bucket rows — ONE definition
    * (TextDedup's) for build, append, remove and query, so the index and
    * its probes can never disagree on the signature pipeline. */
  private def bucketsOf(docs: DataFrame): DataFrame =
    TextDedup.buckets(docs, idCol, textCol, shingleLen, numPerm, bands, useMd5)
      .select(col("band"), col("bh"), col("doc"))

  /** Build (or overwrite) the index from the full corpus. */
  def build(corpus: DataFrame): Unit = store.init(bucketsOf(corpus))

  /** O(batch) append of a new delivery's bucket rows under the store's
    * add-a-dir commit. The replay guard — an already-indexed doc id in the
    * batch fails the write loudly, and the store tears the partial down —
    * reads only the touched partitions' doc COLUMN (column-pruned; a
    * replayed doc's identical text lands in identical buckets, hence
    * inside the touched set by construction). Returns the touched
    * partition ids. */
  def append(batch: DataFrame): Seq[Int] = {
    val b = bucketsOf(batch)
    val touched = store.touchedBy(b)
    if (touched.isEmpty) return Nil
    val existing = store.readPartitions(touched).select(col("doc")).distinct()
    val guarded = PartitionedStore.guardReplays(b, existing, "doc")
      .select(col("band"), col("bh"), col("doc"))
    store.append(touched, guarded)
    touched
  }

  /** Right-to-erasure: drop every index row of the victim docs. Victims
    * carry the SAME columns as an append batch (id + text): the text
    * re-derives each victim's buckets, so only the touched partitions are
    * read, anti-joined and rewritten. Absent ids fail loudly unless
    * waived. Returns the number of index ROWS removed (≈ bands × docs). */
  def remove(victims: DataFrame, requirePresent: Boolean = true): Long =
    store.removeIds(bucketsOf(victims), "doc",
      Seq(col("band"), col("bh"), col("doc")), requirePresent)

  /** Compact partitions fragmented past `maxDirs` append dirs
    * ([[PartitionedStore.compact]]). */
  def compact(maxDirs: Int = 1): Seq[Int] = store.compact(maxDirs)

  /** Candidate duplicate pairs of a new batch AGAINST the index: distinct
    * (corpus_doc, new_doc) sharing ≥1 band bucket — the exact output of
    * [[TextDedup.minhashCandidatesAgainst]], but the corpus side is the
    * PERSISTED bucket rows of only the partitions the batch's own buckets
    * hash to. Feed the pairs to a Jaccard confirm stage as usual. An empty
    * batch returns an empty frame with the full output schema. */
  def candidates(batch: DataFrame): DataFrame = {
    val b = bucketsOf(batch)
    val touched = store.touchedBy(b)
    // empty batch probes nothing: read one partition anyway so the empty
    // result keeps the output schema instead of readPartitions failing
    val corpus = store.readPartitions(if (touched.isEmpty) Seq(0) else touched)
    TextDedup.crossCandidatesFromBuckets(corpus, b)
  }
}
