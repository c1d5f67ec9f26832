package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Pipeline, PipelineStage}

/** Streaming surface (SURVEY §2.8) on Structured Streaming. The reference's
  * Storm topologies are per-record at-least-once with no event-time state —
  * all of that maps onto `readStream → transforms → writeStream`:
  *
  *  - ST1 passthrough: spouts→output bolt == stream → append sink,
  *  - ST2/ST4 streaming enrichment: the SAME `EnrichStage` modules run in
  *    `foreachBatch` (one implementation, two drivers — batch `mapPartitions`
  *    and micro-batch; the reference shares modules the same way,
  *    `EnrichmentPipelineService.java:177-178,325-331`),
  *  - ST3 transient vs final output: sink to a table/topic choice at
  *    `writeStream`,
  *  - beyond the reference (free on this engine): event-time windows +
  *    watermarks for the windowed aggregations the Storm module never had.
  *
  * Tests/queries drive streams with `Trigger.AvailableNow` over the
  * driver's parquet so results are finite and deterministic.
  */
object Streams {

  /** State-store provider class for RocksDB-backed streaming state (ships
    * with Spark; rocksdbjni is on the default classpath). The default
    * HDFS-backed provider keeps every store's working map ON HEAP — at
    * 100× the per-partition key space that map is the first thing to fall
    * over. RocksDB spills state to local SSD with an off-heap block cache,
    * bounding executor heap by the changelog of a trigger rather than the
    * full key universe; checkpoint contents stay provider-compatible at
    * the semantic level (same results), though a checkpoint written by one
    * provider cannot be RESUMED by the other. */
  val RocksDbStateStore: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` (which must START AND FINISH a streaming query) with the
    * two state-store knobs that must be fixed at first start temporarily
    * overridden:
    *
    *  - `spark.sql.shuffle.partitions` — the state-store partition count,
    *    baked into the checkpoint: it cannot change later without a state
    *    rebuild, so it must be sized deliberately (≈ peak keys / target
    *    state per store), not inherited from whatever batch default the
    *    session happens to carry;
    *  - `spark.sql.streaming.stateStore.providerClass` — HDFS-backed
    *    (default, on-heap) vs [[RocksDbStateStore]] (disk-backed).
    *
    * `None` keeps the session setting. */
  private def withStreamConf[A](spark: SparkSession,
      statePartitions: Option[Int],
      stateStoreProvider: Option[String])(body: => A): A = {
    statePartitions.foreach(k =>
      require(k > 0, s"statePartitions must be positive: $k"))
    val overrides =
      statePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toList ++
      stateStoreProvider.map(
        "spark.sql.streaming.stateStore.providerClass" -> _).toList
    if (overrides.isEmpty) body
    else {
      val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  /** Run the query `writer` configures to completion: checkpoint at
    * `ckpt`, `Trigger.AvailableNow`, start, await — under
    * [[withStreamConf]]. `writer` is built inside the conf override, so
    * any frame it derives sees the same session settings as the run. */
  private def runAvailableNow(spark: SparkSession, ckpt: String,
      statePartitions: Option[Int] = None,
      stateStoreProvider: Option[String] = None)(
      writer: => DataStreamWriter[Row]): Unit =
    withStreamConf(spark, statePartitions, stateStoreProvider) {
      writer
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  /** File-based stream over parquet path(s) with a known schema.
    *
    * FileStreamSource requires its basePath to be a directory; a
    * single-file path (the driver's `events.parquet` layout) is presented
    * as a `{name}` glob, which the source resolves relative to the parent
    * directory instead. */
  def parquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val f = new java.io.File(path)
    val effective = if (f.isFile) s"${f.getParent}/{${f.getName}}" else path
    spark.readStream.schema(schema).parquet(effective)
  }

  /** Stage a batch DataFrame as `nFiles` parquet files and open them as a
    * file stream with `maxFilesPerTrigger=1` — the one recipe for GENUINE
    * multi-micro-batch runs over driver testdata (a single file would
    * collapse to one batch and never exercise cross-batch state). Used by
    * the maintained-rollup (q:st19/cdc6) and streaming-sketch (q:st23)
    * queries; results must be independent of this split by construction
    * (exactly-once merge / associative-commutative state). */
  def stagedFileStream(df: DataFrame, nFiles: Int): DataFrame = {
    val spark = df.sparkSession
    val srcDir = scratchDir("graft_staged_src")
    df.repartition(nFiles).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
  }

  /** JVM-exit-cleaned temp dir — the engine-wide registry
    * ([[graft.util.Scratch]]): staging/sink/checkpoint dirs hold full
    * corpus copies and must not accumulate across verify/bench runs. */
  private def scratchDir(prefix: String): String =
    graft.util.Scratch.dir(prefix)

  /** ST1: run a passthrough (or transformed) stream to completion, landing
    * every micro-batch in a parquet dir; returns the landed data. */
  def runToParquet(stream: DataFrame, transform: DataFrame => DataFrame = identity,
      statePartitions: Option[Int] = None,
      stateStoreProvider: Option[String] = None): DataFrame = {
    val out = scratchDir("graft_stream_out")
    val ckpt = scratchDir("graft_stream_ckpt")
    runToParquetAt(stream, out, ckpt, transform, statePartitions,
      stateStoreProvider)
  }

  /** [[runToParquet]] with CALLER-owned sink and checkpoint paths — the
    * restart/resume surface: invoking again with the same `ckpt` after the
    * source grew processes ONLY the unseen files (the file-source log is
    * the exactly-once ledger; q:st17 turns that into an oracle check). */
  def runToParquetAt(stream: DataFrame, out: String, ckpt: String,
      transform: DataFrame => DataFrame = identity,
      statePartitions: Option[Int] = None,
      stateStoreProvider: Option[String] = None): DataFrame = {
    val spark = stream.sparkSession
    runAvailableNow(spark, ckpt, statePartitions, stateStoreProvider) {
      transform(stream).writeStream.format("parquet").option("path", out)
    }
    spark.read.parquet(out)
  }

  /** ST2/ST4: drive the batch enrichment stage chain per micro-batch
    * (foreachBatch), landing results in parquet. Identical module code as
    * the batch path — the streaming driver is the only difference. */
  def runEnrichmentStream(stream: DataFrame, stages: Seq[PipelineStage]): DataFrame = {
    val spark = stream.sparkSession
    val out = scratchDir("graft_stream_enrich")
    val ckpt = scratchDir("graft_stream_ckpt")
    runAvailableNow(spark, ckpt) {
      stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        Pipeline.run(batch, stages)
          .write.mode("append").parquet(out)
      }
    }
    spark.read.parquet(out)
  }

  /** Run an arbitrary per-micro-batch action to completion — the seam for
    * streaming writes that go through a transactional sink (e.g.
    * `CrudService.mergeInto` per batch: each micro-batch lands atomically
    * via the store's rewrite commit, so readers never see a torn batch).
    * The action must itself be idempotent-or-ordered against replays; pair
    * it with an order guard (e.g. merge only if newer) for exactly-once
    * EFFECTS on top of Structured Streaming's at-least-once foreachBatch. */
  def runForeachBatch(stream: DataFrame,
      statePartitions: Option[Int] = None,
      stateStoreProvider: Option[String] = None)(f: DataFrame => Unit): Unit =
    runForeachBatchIds(stream, statePartitions, stateStoreProvider) {
      (batch, _) => f(batch)
    }

  /** [[runForeachBatch]] with the micro-batch id exposed — the handle an
    * ADDITIVE sink needs for exactly-once effects: foreachBatch is
    * at-least-once, and an idempotence guard keyed on the batch id (skip
    * ids already applied, recorded atomically WITH the sink write) is the
    * standard discipline; st19 commits the id inside the same
    * rewrite commit as the rollup itself. */
  def runForeachBatchIds(stream: DataFrame,
      statePartitions: Option[Int] = None,
      stateStoreProvider: Option[String] = None)(
      f: (DataFrame, Long) => Unit): Unit = {
    val ckpt = scratchDir("graft_fb_ckpt")
    runAvailableNow(stream.sparkSession, ckpt, statePartitions,
        stateStoreProvider) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) => f(batch, id) }
    }
  }

  /** Cross-batch keyed state — the capability the reference's Storm layer
    * delegated to external stores (its bolts are stateless; state lived in
    * ES/Mongo): sessionize events per user with an inactivity gap, via
    * `flatMapGroupsWithState` (event-time timeout). Emits one row per
    * closed session: (user_id, session_start, session_end, n_events).
    *
    * Scale: state is per-key (user), partitioned by the groupByKey shuffle,
    * checkpointed by Structured Streaming — no driver-side state. */
  def sessionize(events: DataFrame, gapMinutes: Int,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    case class SessionState(start: Long, last: Long, n: Long)

    def fn(user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
        state: GroupState[(Long, Long, Long)]): Iterator[(Long, Long, Long, Long)] = {
      val ts = rows.map(_._2).toSeq.sorted
      var sessions = List.empty[(Long, Long, Long, Long)]
      var cur = state.getOption.map(s => SessionState(s._1, s._2, s._3))
      if (state.hasTimedOut) {
        val out = cur.map(s => (user, s.start, s.last, s.n)).iterator
        state.remove()
        return out
      }
      ts.foreach { t =>
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
          case Some(s) =>
            sessions ::= ((user, s.start, s.last, s.n))
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update((s.start, s.last, s.n))
        state.setTimeoutTimestamp(s.last + gapMs)
      }
      sessions.reverse.iterator
    }

    // event-time timeout requires a watermark on a timestamp column, and
    // the watermarked column must SURVIVE into the stateful operator's
    // input (projecting it away drops the event-time tag); the state
    // function itself works on epoch millis
    val withEvTime = events
      .withColumn("__ev", col(tsCol).cast("timestamp"))
      .withWatermark("__ev", s"$gapMinutes minutes")
      .select(col(userCol).cast("long").as("u"),
        // integer micros→millis: the double-seconds route can floor an
        // off-by-one ms (micros/1e6 is not binary-representable)
        expr(s"unix_micros(cast($tsCol as timestamp)) div 1000").as("t"),
        col("__ev"))
      .as[(Long, Long, java.sql.Timestamp)]
    withEvTime
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF("user_id", "session_start", "session_end", "n_events")
  }

  /** Mergeable KMV distinct sketch as streaming state — the ST4 claim for
    * the sketch family: the same estimator q:approx8 computes in one batch
    * aggregate, maintained incrementally per key with O(k) state. The
    * sketch in its classic form IS a set of hashes: state = the k smallest
    * DISTINCT hash values seen so far (colliding inputs merge by
    * construction, on the batch side too), per-batch merge = bounded
    * insert into a k-capped ordered set — never a union-then-sort of the
    * whole batch. Emits the running (n_hashes, hk, est) per key per
    * micro-batch in update mode; callers keep the last emission per key
    * ([[runWindowedAgg]]'s changelog discipline). est = (k−1)·2^32 / h_k
    * once the sketch is full, the exact running count before that.
    *
    * Input contract: two columns (key STRING, h LONG with h ∈ [0, 2^32)).
    * Scale: state is k longs per key, partitioned by the groupByKey
    * shuffle, checkpointed by Structured Streaming — no driver state. */
  def kmvDistinct(hashed: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(k >= 2 && k <= 100000, s"kmv: k must be in [2, 1e5], got $k")
    val spark = hashed.sparkSession
    import spark.implicits._
    // (k−1)·2^32: integer-exact in DOUBLE (< 2^53), the one constant both
    // the oracle and the batch query (k = 64 → 270582939648) share
    val scale = (k - 1).toDouble * 4294967296.0

    def fn(key: String, rows: Iterator[(String, Long)],
        state: GroupState[Array[Long]]): Iterator[(String, Int, Option[Long], Double)] = {
      val ts = scala.collection.mutable.TreeSet.empty[Long]
      state.getOption.foreach(ts ++= _)
      rows.foreach { r =>
        val h = r._2
        if (ts.size < k) ts += h
        else if (h < ts.max && ts.add(h)) ts -= ts.max
      }
      val merged = ts.toArray // ascending
      state.update(merged)
      val est =
        if (merged.length == k) scale / merged.last.toDouble
        else merged.length.toDouble
      Iterator.single((key, merged.length,
        if (merged.length == k) Some(merged.last) else None, est))
    }

    hashed.toDF("key", "h").as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
      .toDF("key", "n_hashes", "hk", "est")
  }

  /** Stateful stream deduplication: `dropDuplicates` on key columns with a
    * watermark bounding the dedup state (duplicates arriving within the
    * horizon are dropped; state for expired event times is reclaimed).
    * The engine-level answer to at-least-once sources re-delivering — the
    * reference deduped by writing id-keyed upserts into ES/Mongo instead. */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
      eventTimeCol: Option[String] = None,
      watermark: String = "1 hour"): DataFrame =
    eventTimeCol match {
      case Some(tc) =>
        stream.withWatermark(tc, watermark)
          .dropDuplicates(keyCols :+ tc)
      case None => stream.dropDuplicates(keyCols)
    }

  /** Watermarked stream-stream interval join: rows of `left` join rows of
    * `right` with equal `keyCol` whose `rightTs` falls within
    * [leftTs, leftTs + windowSeconds]. Both sides carry watermarks so join
    * state is bounded by the interval + lateness horizon — the canonical
    * Structured Streaming two-stream correlation (click→conversion).
    *
    * `joinType = "left_outer"`: unmatched left rows emit null-padded, but
    * only once the watermark passes their join window (`leftTs + window`) —
    * left rows inside the final watermark horizon are still awaiting a
    * match when the stream ends and never emit. A consumer (and any
    * batch-equivalence oracle) must account for that trailing horizon. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, windowSeconds: Long,
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(leftKey) === r(rightKey) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $windowSeconds SECONDS"),
      joinType)
  }

  /** Windowed aggregation run to completion: update-mode changelog appended
    * to a parquet sink via `foreachBatch`, compacted on read by keeping each
    * key's latest update (changelog + compaction — the standard shape for
    * streaming upserts without an ACID table format).
    *
    * Scale: aggregate state lives in the (partitioned, checkpointed) state
    * store; each trigger writes only the *changed* groups, executor-side.
    * Nothing is collected to the driver and nothing rewrites the full result
    * per trigger, so a high-cardinality key set is bounded by state-store
    * capacity, not driver memory. `keyCols` are the aggregation's group
    * columns (struct columns like `window` are fine as keys). */
  def runWindowedAgg(stream: DataFrame, agg: DataFrame => DataFrame,
      keyCols: Seq[String] = Seq("window", "event_type"),
      statePartitions: Option[Int] = None,
      stateStoreProvider: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = stream.sparkSession
    val out = scratchDir("graft_win_out")
    val ckpt = scratchDir("graft_win_ckpt")
    val aggregated = agg(stream)
    runAvailableNow(spark, ckpt, statePartitions, stateStoreProvider) {
      aggregated.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("__batch", lit(batchId))
            .write.mode("append").parquet(out)
        }
    }
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__batch").desc)
    // explicit schema: an empty stream writes no files, and schema
    // inference over an empty dir would throw instead of returning the
    // empty-but-typed aggregate frame
    val logSchema = aggregated.schema
      .add("__batch", org.apache.spark.sql.types.LongType)
    spark.read.schema(logSchema).parquet(out)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__batch")
  }
}
