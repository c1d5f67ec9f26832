package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Three-clause MERGE (the lakehouse write primitive): reconcile a target
  * table with a source batch in ONE pass —
  * WHEN MATCHED AND <cond> THEN DELETE / WHEN MATCHED THEN UPDATE SET … /
  * WHEN NOT MATCHED THEN INSERT …. The reference reaches the same end
  * states through per-document Mongo/ES upsert-or-delete round trips
  * (`MongoDbCrudService.java` updateObjectBySpec / deleteObjectBySpec);
  * here the whole batch is a single co-keyed FULL OUTER shuffle join plus
  * one clause-dispatch projection — no per-row round trips, no driver
  * state, and the rewrite composes with [[graft.store.BucketStore.rewrite]]
  * for an atomic swap-in.
  *
  * Contracts: `source` has at most one row per key (MERGE's standard
  * cardinality rule — duplicate source keys would apply a nondeterministic
  * clause), and non-key column names are disjoint across the two sides so
  * clause expressions can reference either unambiguously.
  */
object MergeInto {

  /** @param keys        equi-key columns present on both sides
    * @param matchedDelete  over matched rows: drop the target row (wins
    *                    over update, like MERGE clause order)
    * @param matchedUpdate  target column → replacement expression (source
    *                    columns in scope); unlisted columns carry over
    * @param notMatchedInsert target column → value expression for
    *                    source-only keys; unlisted non-key columns become
    *                    null; None = source-only rows are ignored
    * @return the merged table with exactly the target's columns */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
      matchedDelete: Option[Column] = None,
      matchedUpdate: Map[String, Column] = Map.empty,
      notMatchedInsert: Option[Map[String, Column]] = None): DataFrame = {
    // plan construction first: combine's driver-side contract checks
    // (collisions, reserved names, clause typos) fail before any job
    val merged = combine(target, source, keys, matchedDelete, matchedUpdate,
      notMatchedInsert)
    // MERGE cardinality rule: >1 source row per key would fan the target
    // row out and apply a nondeterministic clause — fail loudly, BEFORE
    // any downstream write job can run (one small agg job over the batch
    // side; Delta throws the same way). The partitioned path fuses this
    // statistic into its touched-partition job instead — same rule, same
    // fail-before-write point, one fewer job per (micro-)batch.
    val dup = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).head(1)
    require(dup.isEmpty,
      s"source has multiple rows for key ${dup.headOption.getOrElse("")}")
    merged
  }

  /** The join + clause-dispatch itself, plus every driver-side (no-job)
    * contract check — the cardinality JOB is each entry point's own. */
  private def combine(target: DataFrame, source: DataFrame,
      keys: Seq[String], matchedDelete: Option[Column],
      matchedUpdate: Map[String, Column],
      notMatchedInsert: Option[Map[String, Column]]): DataFrame = {
    val collisions =
      (target.columns.toSet & source.columns.toSet) -- keys.toSet
    require(collisions.isEmpty, s"non-key columns collide: $collisions")
    val reserved = (target.columns.toSet ++ source.columns.toSet) & Set("__t", "__s")
    require(reserved.isEmpty,
      s"input columns must not be named __t/__s (reserved by MergeInto): $reserved")
    val updatable = target.columns.toSet -- keys.toSet
    val unknown = (matchedUpdate.keySet ++
      notMatchedInsert.map(_.keySet).getOrElse(Set.empty)) -- updatable
    require(unknown.isEmpty,
      s"clause columns are not non-key target columns (typo?): $unknown")
    val t = target.withColumn("__t", lit(1))
    val s = source.withColumn("__s", lit(1))
    val j = t.join(s, keys, "full_outer")

    val matched = col("__t").isNotNull && col("__s").isNotNull
    val sourceOnly = col("__t").isNull
    val deleted = matchedDelete.map(d => matched && coalesce(d, lit(false)))
      .getOrElse(lit(false))
    val insertable = notMatchedInsert.isDefined

    val outCols = target.columns.toSeq.map { c =>
      if (keys.contains(c)) col(c).as(c) // using-join already coalesced keys
      else {
        val onMatch = matchedUpdate.getOrElse(c, col(c))
        val onInsert = notMatchedInsert.flatMap(_.get(c))
          .getOrElse(lit(null))
        when(matched, onMatch)
          .when(sourceOnly, onInsert)
          .otherwise(col(c)).as(c)
      }
    }
    j.filter(!deleted)
      .filter(if (insertable) lit(true) else col("__t").isNotNull)
      .select(outCols: _*)
  }

  /** [[merge]] re-homed onto a [[graft.store.PartitionedStore]] — the
    * scale shape of the MERGE write path: the source's touched partitions
    * are derived from the source alone (the store's partitioning
    * expression over the source keys — never a state scan),
    * ONLY those partitions are read and merged, and the result commits
    * through the store's `refresh` (one atomic manifest swap, version-CAS
    * and cross-process-arbiter guarded). Write I/O is O(touched
    * partitions), not O(store): at 100 TB of keyed state a batch touching
    * 2 of 4096 partitions rewrites ~0.05% of the table, where the
    * whole-table copy-on-write ([[graft.crud.CrudService.mergeInto]] over
    * BucketStore.rewrite) re-copies everything per merge. Untouched
    * partitions keep their physical dirs byte-identical (MergeIntoSpec
    * pins this), and a failure at any point — cardinality violation, a
    * poisoned source row, a lost commit race — leaves the store at its
    * previous version.
    *
    * Keys are the STORE's key columns by construction: both sides route
    * through the store's own partitioning expression, so a source-only
    * key's INSERT lands in a touched partition by definition (and the
    * refresh misroute guard would fail loudly on anything else).
    *
    * Pre-write cost is ONE job: the touched-partition set and the MERGE
    * cardinality statistic ride the same aggregate (per-key counts →
    * collect_set of partition ids + max count + the worst key, a few
    * ints/strings to the driver) — a merge sink pays this per
    * micro-batch, so a separate action per statistic would hand the
    * latency budget to job-submission overhead (the ann14 lesson).
    *
    * @return the touched partition ids (empty = empty source, no-op, no
    *         version bump) */
  def mergePartitioned(store: graft.store.PartitionedStore,
      source: DataFrame,
      matchedDelete: Option[Column] = None,
      matchedUpdate: Map[String, Column] = Map.empty,
      notMatchedInsert: Option[Map[String, Column]] = None): Seq[Int] = {
    val keys = store.keyCols
    require(keys.forall(source.columns.contains),
      s"source must carry the store's key columns $keys")
    val pre = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(collect_set(store.partitionId).as("__touched"),
        max(col("__n")).as("__maxn"),
        max_by(concat_ws(",", keys.map(c => col(c).cast("string")): _*),
          col("__n")).as("__worst"))
      .collect()(0)
    if (pre.isNullAt(1)) return Nil // empty source: no-op, no version bump
    require(pre.getLong(1) <= 1L,
      s"source has multiple rows for key (${pre.getString(2)}) — " +
        s"${pre.getLong(1)} rows (MERGE cardinality rule)")
    val touched = pre.getSeq[Int](0).sorted
    val merged = combine(store.readPartitions(touched), source, keys,
      matchedDelete, matchedUpdate, notMatchedInsert)
    store.refresh(touched, merged)
    touched
  }
}
