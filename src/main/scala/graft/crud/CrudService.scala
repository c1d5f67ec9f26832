package graft.crud

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

import graft.dsl._
import graft.model.Bucket
import graft.store.BucketStore

/** The CRUD facade over a bucket — the engine's analog of the reference's
  * `ICrudService` implementations (`ElasticsearchCrudService.java:112`,
  * `MongoDbCrudService.java:73`), re-expressed as DataFrame plans over the
  * bucket's Parquet store:
  *
  *  - reads compile the query DSL to a filtered/sorted/limited scan
  *    (lifecycle SURVEY §3.1); every read-only spec path — spec reads and
  *    counts, and the existence probes and pre-counts of updates and
  *    deletes — scans only the time partitions the query can match
  *    ([[BucketStore.timeSlice]]), and each call resolves the stage once;
  *  - `storeObjects(replace_if_present=true)` is merge-by-`_id` (J3);
  *    `=false` is create-if-absent (D3, ES `OpType.CREATE` semantics,
  *    `ElasticsearchCrudService.java:241`);
  *  - updates/deletes are declarative rewrites via [[UpdateCompiler]]
  *    committed by [[BucketStore.rewrite]] (one atomic `_ROLES` replace);
  *  - `optimizeQuery` (U13) is a no-op returning true: the time-partition
  *    pruning above and Parquet min-max stats stand in for Mongo's
  *    background index builds (`MongoDbCrudService.java:298-348`); no index
  *    narrows a lookup on any other field.
  *
  * `_id`: string key column, auto-generated (`uuid()`) when absent on store —
  * reference `_id` injection (`MongoDbCrudService.java:169-184`).
  */
final class CrudService(store: BucketStore, bucket: Bucket, stage: String = "processed") {

  val IdCol = "_id"

  private def table: DataFrame = store.read(bucket, stage)

  /** The rows of `t` that match `q`, scanning only the time partitions `q`
    * can match. */
  private def matching(t: DataFrame, q: QueryComponent): DataFrame =
    store.timeSlice(bucket, t, q).filter(QueryCompiler.compileFor(t, q))

  // ---- write path ---------------------------------------------------------

  /** Append objects; missing `_id` gets a uuid. `replacePresent=true` =
    * save/upsert-by-id (last write wins); `false` = create-if-absent.
    *
    * When the bucket declares a [[graft.model.DocumentSchema]], its
    * deduplication fields/policy run against the incoming batch FIRST —
    * the reference's dedup enrichment applied at ingest from bucket config
    * (`DeduplicationService` over `document_schema`), not an ad-hoc caller
    * choice. `_id` semantics then apply to the surviving rows. */
  def storeObjects(df: DataFrame, replacePresent: Boolean = false): Unit = {
    val deduped = bucket.dataSchema.document match {
      case Some(d) if d.deduplicationFields.nonEmpty =>
        dedupByPolicy(df, d.deduplicationFields, d.deduplicationPolicy)
      case _ => df
    }
    val withId =
      if (deduped.columns.contains(IdCol)) deduped
      else deduped.withColumn(IdCol, expr("uuid()"))
    if (!store.exists(bucket, stage)) {
      // first write: dedup within the batch by _id (keep first or last)
      store.write(bucket, dedupBatch(withId, replacePresent), stage,
        mode = SaveMode.Overwrite)
    } else if (replacePresent) {
      // upsert: existing rows not in batch + deduped batch (batch wins)
      store.rewrite(bucket, stage) { cur =>
        cur.join(withId.select(IdCol), Seq(IdCol), "left_anti")
          .unionByName(dedupBatch(withId, replacePresent), allowMissingColumns = true)
      }
    } else {
      // create-if-absent: batch rows whose _id already exists are dropped
      store.rewrite(bucket, stage) { cur =>
        cur.unionByName(
          dedupBatch(withId, replacePresent)
            .join(cur.select(IdCol), Seq(IdCol), "left_anti"),
          allowMissingColumns = true)
      }
    }
  }

  /** Declared-schema dedup over arbitrary key fields: first/last by batch
    * order for the declarative policies; a Custom policy hands each key's
    * candidate list to the user merge fn (same contract as the graph
    * merge seam). */
  private def dedupByPolicy(df: DataFrame, keys: Seq[String],
      policy: graft.model.DedupPolicy): DataFrame = policy match {
    case graft.model.DedupPolicy.KeepFirst => dedupByKeys(df, keys, lastWins = false)
    case graft.model.DedupPolicy.KeepLast => dedupByKeys(df, keys, lastWins = true)
    case graft.model.DedupPolicy.Custom(merge) =>
      import org.apache.spark.sql.{Encoder, Encoders}
      implicit val enc: Encoder[Row] = Encoders.row(df.schema)
      val strEnc: Encoder[String] = Encoders.STRING
      df.groupByKey(r => keys.map(f => String.valueOf(r.getAs[Any](f)))
          .mkString("\u0001"))(strEnc)
        .mapGroups((_, it) => merge(it.toSeq))(enc)
  }

  /** Deterministic first/last-wins per key via min/max-struct over a batch
    * sequence id (single shuffle, no window sort). */
  private def dedupByKeys(df: DataFrame, keys: Seq[String],
      lastWins: Boolean): DataFrame = {
    val ordered = df.withColumn("__seq", monotonically_increasing_id())
    val keyed = struct(col("__seq"),
      struct(df.columns.map(col): _*).as("payload"))
    val pick = (if (lastWins) max(keyed) else min(keyed)).as("__w")
    ordered.groupBy(keys.map(col): _*).agg(pick).select("__w.payload.*")
  }

  /** In-batch dedup by `_id`: deterministic first/last-wins. */
  private def dedupBatch(df: DataFrame, lastWins: Boolean): DataFrame =
    dedupByKeys(df, Seq(IdCol), lastWins)

  /** Single-object store returning the (possibly generated) `_id` — the
    * reference's `storeObject` future (`ElasticsearchCrudService.java:686-736`,
    * `MongoDbCrudService.java:169-184`). The id is generated driver-side:
    * `uuid()` is non-deterministic per evaluation, so collect-then-store
    * would return a different id than the one written. */
  def storeObject(obj: DataFrame, replacePresent: Boolean = false): String = {
    val (withId, id) =
      if (obj.columns.contains(IdCol))
        (obj, obj.select(IdCol).head().getString(0))
      else {
        val fresh = java.util.UUID.randomUUID().toString
        (obj.withColumn(IdCol, lit(fresh)), fresh)
      }
    storeObjects(withId, replacePresent)
    id
  }

  // ---- read path ----------------------------------------------------------

  def getObjectById(id: String): Option[Row] =
    table.filter(col(IdCol) === id).head(1).headOption

  /** Multi-get by ids (`getObjectsByIds`, `MongoDbCrudService.java:390-403`):
    * one In-pushdown scan, not N point lookups. */
  def getObjectsByIds(ids: Seq[String]): DataFrame =
    table.filter(col(IdCol).isin(ids: _*))

  def getObjectBySpec(q: QueryComponent): Option[Row] =
    getObjectsBySpec(q).head(1).headOption

  def getObjectsBySpec(q: QueryComponent): DataFrame =
    store.readForQuery(bucket, q, stage)

  def countObjects(): Long = table.count()

  /** server-side count with optional limit cap (Mongo `count` with `limit`,
    * `MongoDbCrudService.java:450-474`). */
  def countObjectsBySpec(q: QueryComponent): Long = {
    val filtered = matching(table, q)
    q.meta.limit.map(n => filtered.limit(n).count()).getOrElse(filtered.count())
  }

  // ---- update/delete path --------------------------------------------------

  /** U9 updateObjectsBySpec (+upsert): rewrite matched rows; if none matched
    * and upsert, insert a row synthesized from the query's equality clauses
    * + update ops (Mongo upsert semantics, `MongoDbCrudService.java:493-525`).
    *
    * Non-upsert updates count matches via an [[Observation]] on the SAME
    * scan that feeds the rewrite — one pass over the table, not a separate
    * count scan. Upsert keeps the pre-count: it must branch on match
    * existence before deciding whether to write at all (and the pre-count's
    * filter pushes down to the scan). */
  def updateObjectsBySpec(q0: QueryComponent, u: UpdateComponent,
      upsert: Boolean = false): Long = {
    val t = table
    val q = QueryCompiler.coerceDates(t, q0)
    if (upsert) {
      val matched = matching(t, q0).count()
      if (matched == 0) {
        storeObjects(upsertSeed(q, u), replacePresent = true)
      } else {
        store.rewrite(bucket, stage)(cur =>
          UpdateCompiler.applyUpdate(cur, QueryCompiler.compile(q), u))
      }
      matched
    } else
      rewriteCounted(t, q0, q)(UpdateCompiler.applyUpdate(_, QueryCompiler.compile(q), u))
  }

  /** Rewrite the stage with `transform` and return how many rows `q`
    * (`q0` date-coerced against `t`) matched. A cheap existence probe runs
    * first (pushed-down filter, first-match exit), so a zero-match call
    * pays no full-table rewrite; the count is an [[Observation]] on the
    * rewrite's own scan — one pass, not a separate count scan. */
  private def rewriteCounted(t: DataFrame, q0: QueryComponent, q: QueryComponent)(
      transform: DataFrame => DataFrame): Long = {
    if (matching(t, q0).isEmpty) return 0L
    val obs = org.apache.spark.sql.Observation()
    store.rewrite(bucket, stage) { cur =>
      transform(cur.observe(obs, sum(
        when(coalesce(QueryCompiler.compile(q), lit(false)), 1L)
          .otherwise(0L)).as("matched")))
    }
    Option(obs.get("matched")).collect { case n: Long => n }.getOrElse(0L)
  }

  /** Synthesize the upsert document: equality clauses of the query + set ops. */
  private def upsertSeed(q: QueryComponent, u: UpdateComponent): DataFrame = {
    val eqs: Seq[(String, Any)] = q match {
      case SingleQuery(cs, false, _) => cs.collect { case Eq(f, v, false) => f -> v }
      case _ => Nil
    }
    val sets = u.ops.collect { case SetField(f, v) => f -> v }
    val all = (eqs ++ sets).toMap
    val spark = table.sparkSession
    val one = spark.range(1).toDF()
    all.foldLeft(one) { case (df, (f, v)) => df.withColumn(f, lit(v)) }
      .drop("id").withColumn(IdCol, expr("uuid()"))
  }

  /** U10 updateAndReturnObjectBySpec — findAndModify: apply the update to
    * one match and return its before or after image, optionally projected
    * (`MongoDbCrudService.java:531-555`). The match is the first matching
    * row the scan returns, and the rewrite changes only the row with its
    * `_id`. A stage without `_id` has no row identity, so there the update
    * applies to every row the spec matches. */
  def updateAndReturnObjectBySpec(q0: QueryComponent, u: UpdateComponent,
      returnBefore: Boolean = false, fields: Seq[String] = Nil): Option[Row] = {
    val t = table
    val q = QueryCompiler.coerceDates(t, q0)
    val before = matching(t, q0).head(1).headOption
    if (before.isEmpty) return None
    val pred = QueryCompiler.compile(q)
    val one =
      if (t.columns.contains(IdCol)) pred && col(IdCol) === before.get.getAs[Any](IdCol)
      else pred
    store.rewrite(bucket, stage)(UpdateCompiler.applyUpdate(_, one, u))
    val image =
      if (returnBefore) before
      else {
        // after image: re-locate by _id if present, else by the same spec
        val src = before.get
        val key = if (src.schema.fieldNames.contains(IdCol))
          table.filter(col(IdCol) === src.getAs[String](IdCol))
        else matching(table, q0)
        key.head(1).headOption
      }
    image.map { r =>
      if (fields.isEmpty) r
      else Row.fromSeq(fields.map(f => r.get(r.schema.fieldIndex(f))))
    }
  }

  /** U11 deleteObjectsBySpec incl. top-k delete; returns rows deleted.
    *
    * The plain path observes the matched count on the rewrite's own scan
    * (one pass — not count-before + rewrite + count-after). The top-k path
    * counts the bounded victim set separately because its rewrite plan
    * references the scan twice (self anti-join), which an observation may
    * not straddle. */
  def deleteObjectsBySpec(q0: QueryComponent): Long = {
    val t = table
    val q = QueryCompiler.coerceDates(t, q0)
    q.meta.limit match {
    case None =>
      // the probe spares a miss (e.g. deleteObjectById of an absent id) a
      // whole-table rewrite
      rewriteCounted(t, q0, q)(UpdateCompiler.deleteBySpec(_, q))
    case Some(k) =>
      val deleted = matching(t, q0).limit(k).count()
      store.rewrite(bucket, stage)(cur => UpdateCompiler.deleteBySpec(cur, q))
      deleted
  } }

  /** Three-clause MERGE INTO committed through [[BucketStore.rewrite]] —
    * the batch reconciliation analog of the reference's per-document
    * upsert-or-delete round trips (`ElasticsearchCrudService.java:241`,
    * `MongoDbCrudService.java:493-525`), but atomic at STORE granularity:
    * the merged table lands in a fresh version dir and swaps in with one
    * `_ROLES` replace, so concurrent readers see the old snapshot until the
    * instant the replace lands, and any failure mid-merge (cardinality
    * violation, a poisoned source row) leaves the current stage untouched.
    * Clause semantics are [[graft.ops.MergeInto]]'s.
    *
    * I/O shape: this path is whole-table copy-on-write — right for
    * dashboard-sized keyed state, WRONG past ~10⁷ keys. The scale shape is
    * [[graft.ops.MergeInto.mergePartitioned]] over a
    * [[graft.store.PartitionedStore]]: O(touched partitions) per merge
    * (q:u20 batch, q:st30 streaming). */
  def mergeInto(source: DataFrame, keys: Seq[String],
      matchedDelete: Option[Column] = None,
      matchedUpdate: Map[String, Column] = Map.empty,
      notMatchedInsert: Option[Map[String, Column]] = None): Unit =
    store.rewrite(bucket, stage)(cur =>
      graft.ops.MergeInto.merge(cur, source, keys,
        matchedDelete, matchedUpdate, notMatchedInsert))

  /** Point delete by `_id` (`deleteObjectById`,
    * `ElasticsearchCrudService.java:827-840`); true iff a row was removed. */
  def deleteObjectById(id: String): Boolean =
    deleteObjectsBySpec(Query.allOf().when(IdCol, id)) > 0

  /** U12 */
  def deleteDatastore(): Unit = store.deleteDatastore(bucket)

  /** U13 optimizeQuery — intentional no-op: time-partition pruning and
    * Parquet stats are all the indexing there is (see the class doc). */
  def optimizeQuery(fields: Seq[String]): Boolean = true
}
